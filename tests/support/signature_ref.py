"""Pure-Python references for the dedup signature kernels. Each spells
out the rule a Spark face must reproduce bit for bit; the tests compare
every face against these instead of against each other."""

import hashlib
import re

# restated, not imported from the library: persisted signature stores
# depend on these exact values
P32 = 4294967291
A = [5, 13, 31, 61, 127, 251, 509, 1021, 2039, 4093, 8191, 16381, 32749, 65521, 131071, 262139]
B = [7, 11, 17, 23, 43, 83, 163, 331, 641, 1283, 2557, 5119, 10243, 20479, 40961, 81929]
# the Java \s class: ASCII whitespace only (never NBSP or other unicode)
_WS = " \t\n\x0b\x0c\r"


def words(text):
    return re.split(f"[{_WS}]+", text.strip(_WS))


def shingles(text, n):
    """Distinct space-joined word n-grams; empty for docs under n words."""
    ws = words(text)
    return {" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)}


def _md5hex(s):
    return hashlib.md5(s.encode()).hexdigest()


def minhash_ref(text, num_hashes=8, shingle_n=3, lowercase=False):
    """k universal hashes (A*h + B) mod P32 of h = md5hex[:15] mod P32,
    min over the distinct shingles, else over the raw text alone."""
    if text is None:
        return (None,) * num_hashes
    if lowercase:
        text = text.lower()
    hs = [int(_md5hex(s)[:15], 16) % P32 for s in shingles(text, shingle_n) or {text}]
    return tuple(min((A[i] * h + B[i]) % P32 for h in hs) for i in range(num_hashes))


def simhash_ref(text, bits=64):
    """bit j set iff most lowercased words' md5 prefixes have bit j set;
    the 64-bit signature reads as signed (two's complement)."""
    hs = [int(_md5hex(w)[: bits // 4], 16) for w in words(text.lower())]
    sig = sum(1 << j for j in range(bits) if 2 * sum((h >> j) & 1 for h in hs) > len(hs))
    return sig - (1 << 64) if sig >= 1 << 63 else sig
