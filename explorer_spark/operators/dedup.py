"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (additive capability per BASELINE.json).

Scale design (the point of running this on Spark at all):

- **Exact**: hash-partition on ``md5(text)`` — one shuffle, combiner-side
  reduction; never compares full texts across the cluster.
- **MinHash + LSH**: word shingles come from a map-only Arrow
  ``mapInPandas`` tokenizer; each shingle is hashed once with built-in
  functions and reduced by k codegen'd min aggregates. Banding turns the
  quadratic near-dup problem into an equi-join on (band_id, band_hash) —
  candidates shuffle only within buckets, exactly the published
  shingle→minhash→band→bucket-join pipeline. Two signature faces share
  one hash family: :func:`minhash_signatures` (batch) and
  :func:`minhash_signature_struct_sql` (one SQL expression, for streams).
- **SimHash**: explode(words) + packed per-bit sums — a single groupBy,
  map-side combined.
- **Jaccard verify**: computed only on LSH/block candidates via
  array_intersect/union sizes.
- **Embedding near-dup**: blocked on a coarse key (label / IVF cell) so
  the pair join is per-block, not global cross.

Hashes derive from md5 hex prefixes so DuckDB oracles reproduce results
exactly."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SDF, Window as W, functions as F

from .text import words

# Edge sets at or below this resolve to connected components with a
# driver-side union-find (one collect, one pass) instead of O(diameter)
# distributed join rounds; above it the iterative kernel is the scale
# path. Same driver-summary bound discipline as operators/ordered.py.
SMALL_EDGES_MAX = 1 << 20


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(sdf: SDF, text_col: str = "text", key_col: str = "doc_id") -> SDF:
    """Keep the min-key row per distinct text (hash-groupBy; one shuffle)."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(key_col))
    return sdf.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# universal-hash family parameters: h_i = (A[i] * h32 + B[i]) mod P32,
# where h32 = (first 15 md5 hex chars as int) mod P32. One md5 per
# shingle total — the standard published MinHash construction.
MINHASH_P32 = 4294967291  # largest 32-bit prime
MINHASH_A = [5, 13, 31, 61, 127, 251, 509, 1021, 2039, 4093, 8191, 16381, 32749, 65521, 131071, 262139]
MINHASH_B = [7, 11, 17, 23, 43, 83, 163, 331, 641, 1283, 2557, 5119, 10243, 20479, 40961, 81929]


def _base_hash32(s: Column) -> Column:
    """md5 hex -> 60-bit int -> mod P32 (expressible in any SQL engine)."""
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    return h % MINHASH_P32


def minhash_signatures(
    sdf: SDF,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    prefix: str = "mh",
    key_col: str = "doc_id",
    lowercase: bool = False,
) -> SDF:
    """NARROW signature kernel: (key, mh0..mh{k-1}) only, shaped for
    pipelines whose next stage needs only the signature (LSH banding,
    the signature store). Grams come from the map-only Arrow kernel, the
    groupBy exchanges only map-side-combined partial mins, and the
    raw-text fallback hash (docs with fewer than ``shingle_n`` words)
    projects in the same corpus scan — the only shuffled bytes are
    (key, k longs). NULL text gets all-NULL signatures.

    ``lowercase`` case-folds the text (Spark ``lower``) before shingling
    AND before the fallback hash — the knob that makes the census's
    ``normalize="ws_case"`` mode EXACT (case-drifted replicas then share
    signatures, so collapsing them before banding preserves
    components)."""
    from .text import shingle_rows_arrow

    # case-fold BEFORE the Arrow kernel so Spark's lower (not Python's
    # str.lower, whose Unicode mappings can differ) defines the fold on
    # every face
    narrow_src = sdf.select(
        key_col,
        (F.lower(F.col(text_col)) if lowercase else F.col(text_col)).alias(text_col),
    )
    mins = [
        F.min((F.lit(MINHASH_A[i]) * F.col("__h__") + F.lit(MINHASH_B[i])) % MINHASH_P32).alias(
            f"{prefix}{i}"
        )
        for i in range(num_hashes)
    ]
    sig_agg = (
        shingle_rows_arrow(narrow_src, key_col, text_col, shingle_n)
        .withColumn("__h__", _base_hash32(F.col("shingle")))
        .groupBy(key_col)
        .agg(*mins)
    )
    fbh = _base_hash32(F.lower(F.col(text_col)) if lowercase else F.col(text_col))
    narrow = sdf.select(
        F.col(key_col),
        *[
            ((F.lit(MINHASH_A[i]) * fbh + F.lit(MINHASH_B[i])) % MINHASH_P32).alias(f"__fb{i}__")
            for i in range(num_hashes)
        ],
    )
    return narrow.join(sig_agg, key_col, "left").select(
        key_col,
        *[
            F.coalesce(F.col(f"{prefix}{i}"), F.col(f"__fb{i}__")).alias(f"{prefix}{i}")
            for i in range(num_hashes)
        ],
    )


def candidate_shingle_sets(
    sdf: SDF,
    cand_ids: SDF,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 3,
    lowercase: bool = False,
    shingle_col: str = "sh",
) -> SDF:
    """Per-doc distinct shingle sets computed ONLY for the docs named in
    ``cand_ids`` (one column, ``key_col``) — the Jaccard-verify side of
    the guide-§8 split: signatures (40 bytes/doc) decide candidacy, and
    the heavy shingle payload is tokenized/aggregated only for the docs
    that actually verify.

    The corpus is re-scanned once with a BROADCAST semi-join on the
    candidate ids (map-side filter, no corpus shuffle — candidate ids
    after the exact-text census are a small fraction of the corpus by
    construction), and only the surviving docs pay the tokenize +
    ``collect_set`` cost. A whole-corpus ``collect_set`` pinned next to
    the signatures (the r11 form) held ~6x corpus bytes in the block
    manager and degraded with cores (driver: q_dedup_keep_best 9.76 s at
    32 cores vs 3.83 at 8). Docs with < ``shingle_n`` words produce no
    row (the verify joins stay inner)."""
    from .text import shingle_rows_arrow

    ids = F.broadcast(cand_ids.select(key_col))
    sub = sdf.join(ids, key_col, "left_semi").select(
        key_col,
        (F.lower(F.col(text_col)) if lowercase else F.col(text_col)).alias(text_col),
    )
    return (
        shingle_rows_arrow(sub, key_col, text_col, shingle_n)
        .groupBy(key_col)
        .agg(F.collect_set("shingle").alias(shingle_col))
    )


def lsh_buckets(
    sdf: SDF,
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    prefix: str = "mh",
) -> SDF:
    """Explode each row into (band_id, band_hash) bucket keys.

    rows/band = num_hashes // bands; two docs sharing any band hash are
    near-dup candidates. Output: key_col, band, bucket.
    """
    rows_per_band = num_hashes // bands
    entries = []
    for b in range(bands):
        parts = [F.col(f"{prefix}{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket")))
    return sdf.select(F.col(key_col), F.explode(F.array(*entries)).alias("e")).select(
        key_col, F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket")
    )


def exact_text_census(
    docs: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 0,
    normalize: str | None = None,
) -> tuple:
    """Collapse EXACT-text duplicate groups to one min-id representative
    before candidate generation, returning ``(rep_ids, star_pairs)``:

    - ``rep_ids``: one row per distinct text, column ``id_col`` = the
      group's minimum id (semi-join the corpus on it to band only
      representatives);
    - ``star_pairs``: (id_a=rep, id_b=member) edges re-attaching each
      collapsed member — k-1 edges per group instead of the k² clique
      the banding self-join would materialize.

    Equivalence (why downstream clusters are IDENTICAL, not just
    approximated): identical text ⇒ identical shingle set ⇒ identical
    minhash signature ⇒ identical band buckets, so any candidate pair
    (member, other) exists iff (rep, other) does, and their exact
    Jaccard scores are equal; the star edges carry Jaccard exactly 1, so
    they pass any threshold. Connected components over
    {verified rep pairs} ∪ {star edges} therefore equal components over
    the full verified clique set. This is the quadratic-pair fix for the
    replicated-corpus regime (round-9 verdict #2): a doc replicated k
    times contributed k²/2 pairs per band; now it contributes k-1 total.

    Cost: one narrow (hash, id) aggregation + a broadcastable join —
    no text shuffle (md5 computed in the scan stage).

    ``min_words``: docs with fewer words do NOT collapse (each remains
    its own representative, no star edge). Edge (ADVICE r11, latent —
    every current caller passes ``min_words=3``): for
    ``min_words == 1`` the anchored-regex gate classifies
    empty/whitespace-only text as SHORT (no collapse), where the old
    ``size(split(wtrim('')))==1`` counted it long (the tokenizer yields
    one empty token there) and collapsed identical empty docs. Callers
    that ever pass ``min_words <= 1`` on corpora with empty texts must
    decide which behavior they want before relying on this gate. The equivalence argument
    assumes the doc SHINGLES — a duplicate pair of sub-``shingle_n``-word
    texts has an empty shingle set, so an exact-SQL banding oracle never
    pairs it; pass ``min_words=shingle_n`` to keep the census aligned
    with such an oracle. (The engine's own minhash fallback hash DOES
    bucket identical short texts — a documented engine-vs-SQL edge that
    predates the census.)

    ``normalize`` (opt-in, round-10): widen the census to
    NEAR-identical replicas the byte-exact hash misses — the residual
    quadratic regime when a doc is replicated with trivial formatting
    drift. ``"ws"`` hashes the whitespace-canonical text (trim + runs of
    whitespace -> one space): still EXACT for every word-shingle
    pipeline here, because the shingle kernels split on ``\\s+`` and so
    ws-equal texts have identical shingle sets (same proof as above).
    ``"ws_case"`` additionally lowercases — use ONLY when the downstream
    shingling/banding is case-insensitive, otherwise the collapsed
    members' signatures could differ from their representative's and the
    component equivalence becomes approximate."""
    if normalize not in (None, "ws", "ws_case"):
        raise ValueError(f"normalize must be None, 'ws' or 'ws_case', got {normalize!r}")
    hashed = F.col(text_col)
    if normalize in ("ws", "ws_case"):
        hashed = F.regexp_replace(F.trim(hashed), r"\s+", " ")
    if normalize == "ws_case":
        hashed = F.lower(hashed)
    # NULL text stays its OWN representative: md5(NULL) is NULL, which
    # the rep equi-join would silently drop from rep_ids — instead each
    # null-text row hashes to a per-row SENTINEL (the "\\0nil\\0<id>"
    # alphabet can't collide with 32-hex md5), making it a singleton
    # group (own rep, no star edges) in the SAME single scan; the
    # min_words word count is null-coalesced for the same reason
    hashed_safe = F.coalesce(
        F.md5(hashed), F.concat(F.lit("\x00nil\x00"), F.col(id_col).cast("string"))
    )
    base = docs.select(F.col(id_col), hashed_safe.alias("__th__"))
    short_ids = None
    if min_words > 0:
        from .text import wtrim

        # r11: ">= min_words words" as an ANCHORED regex instead of
        # size(split(...)): the regex engine stops after the first
        # min_words tokens, where the split materialized the whole
        # word array per doc in the scan projection. Equivalent by the
        # tokenizer's own rules: after wtrim, words are the \S+ runs
        # separated by single \s+ runs, so >= min_words words iff the
        # trimmed text starts with (min_words-1) token+separator pairs
        # followed by a token. NULL text keeps the old coalesce
        # direction (counts as long; the sentinel hash already makes it
        # its own singleton group).
        has_min = F.coalesce(
            wtrim(F.col(text_col)).rlike(r"^(\S+\s+){%d}\S" % (min_words - 1)),
            F.lit(True),
        )
        nw = docs.select(F.col(id_col), hashed_safe.alias("__th__"), has_min.alias("__ok__"))
        # short docs stay their OWN representatives (they still band
        # downstream; they just don't collapse or gain star edges)
        short_ids = nw.filter(~F.col("__ok__")).select(id_col)
        base = nw.filter(F.col("__ok__")).drop("__ok__")
    rep = base.groupBy("__th__").agg(F.min(id_col).alias("__rep__"))
    j = base.join(rep, "__th__")
    star = (
        j.filter(F.col(id_col) != F.col("__rep__"))
        .select(F.col("__rep__").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    rep_ids = rep.select(F.col("__rep__").alias(id_col))
    if short_ids is not None:
        rep_ids = rep_ids.unionByName(short_ids)
    return rep_ids, star


def lsh_candidate_pairs(buckets: SDF, key_col: str = "doc_id") -> SDF:
    """Self-join bucket lists into candidate pairs (a < b), distinct."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(F.col(f"a.{key_col}").alias("id_a"), F.col(f"b.{key_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs_with_sets(
    docs: SDF,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    lowercase: bool = False,
) -> SDF:
    """The shared MinHash -> LSH -> candidate-pairs -> shingle-attach
    pipeline of the Jaccard-verify queries, restructured r12 per guide
    §8 ("decide with small rows, move big rows once"):

    1. ONE map-only Arrow tokenization pass yields the NARROW signature
       table (key + k longs); it is pinned (localCheckpoint) so the
       banding self-join's two branches read ~40 bytes/doc instead of
       re-running the corpus pass per branch.
    2. Banding + self-join on (band, bucket) yields candidate pairs —
       also narrow, also pinned (consumed by the id-collection below AND
       the final verify join).
    3. The heavy shingle payload is tokenized ONLY for candidate docs
       (:func:`candidate_shingle_sets`: broadcast semi-join filter on
       the candidate ids — a map-side filter over a second corpus scan,
       no corpus shuffle, no whole-corpus ``collect_set``). The r11
       merged aggregate materialized every doc's full shingle set in the
       block manager (~6x corpus bytes) and measurably DEGRADED with
       cores (driver: keep_best 9.76 s @32 vs 3.83 s @8).

    Returns (id_a, id_b, __sha__, __shb__): every LSH candidate pair
    whose BOTH docs have >= ``shingle_n`` words (inner attach — the same
    short-doc discipline as every earlier face), with the two distinct-
    shingle sets attached for exact-Jaccard verification."""
    sig = minhash_signatures(
        docs,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        key_col=key_col,
        lowercase=lowercase,
    ).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        lsh_buckets(sig, key_col=key_col, num_hashes=num_hashes, bands=bands),
        key_col=key_col,
    ).localCheckpoint(eager=False)
    # no distinct: the broadcast LEFT SEMI join below dedups matches by
    # construction, so the exchange+aggregate a distinct would add buys
    # nothing (the broadcast just carries each id at most twice)
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias(key_col))
    sh = candidate_shingle_sets(
        docs,
        cand_ids,
        text_col=text_col,
        key_col=key_col,
        shingle_n=shingle_n,
        lowercase=lowercase,
    ).localCheckpoint(eager=False)
    sa = sh.select(F.col(key_col).alias("id_a"), F.col("sh").alias("__sha__"))
    sb = sh.select(F.col(key_col).alias("id_b"), F.col("sh").alias("__shb__"))
    return cand.join(sa, "id_a").join(sb, "id_b")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(
    sdf: SDF, bits: int = 16, text_col: str = "text", key_col: str = "doc_id"
) -> SDF:
    """``bits``-bit SimHash, fully in built-in expressions
    (oracle-reproducible up to the full 64-bit width).

    word hash = first bits/4 hex chars of md5(word); for each bit, sum
    +1/-1 over the words; sign -> bit. Plan: explode(words) -> single
    groupBy(key) with ceil(bits/2) PACKED bit sums (two 31-bit lanes per
    long) + a count -> bit assembly from 2·Σbit > N.

    Widths above 60 bits can't parse through a single conv() (its
    unsigned decimal overflows the signed-long cast to null), so 64-bit
    hashes parse as two 32-bit conv() halves recombined with
    shiftleft|or; the sign bit assembles as −2^63 (two's complement), so
    the signature is the signed-64 reinterpretation of the big-endian
    md5 prefix — identical to ``int.from_bytes(md5[:8], "big")`` and to
    the oracle's nibble arithmetic.
    """
    if bits % 4 != 0 or not 4 <= bits <= 64:
        raise ValueError(f"bits must be a multiple of 4 in [4, 64], got {bits}")
    nchars = bits // 4
    # fan out before the explode: a corpus read from few files (one
    # parquet at test scale) would otherwise run the whole md5+lane-sum
    # pipeline on 1-2 tasks (operators/bucketing.fan_out_small)
    from .bucketing import fan_out_small

    sdf = fan_out_small(sdf)
    ws = sdf.select(F.col(key_col), F.explode(words(F.lower(F.col(text_col)))).alias("__w__"))
    # parse the first bits/4 hex chars into ONE long, then `bits`
    # shift/mask +/-1 projections feeding PLAIN sums. (Alternatives
    # measured at bits=32: CASE-bearing agg expressions, an element_at
    # array projection, and a (key,bit) melt all lose to this on either
    # whole-stage-codegen compile time or shuffle volume.)
    if nchars <= 15:
        hw = F.conv(F.substring(F.md5(F.col("__w__")), 1, nchars), 16, 10).cast("long")
    else:
        # 16 hex chars: two 32-bit halves, recombined (hi<<32)|lo — the
        # signed-64 view of the unsigned big-endian md5 prefix
        _md5 = F.md5(F.col("__w__"))
        hi = F.conv(F.substring(_md5, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(_md5, 9, 8), 16, 10).cast("long")
        hw = F.shiftleft(hi, 32).bitwiseOR(lo)
    # Packed bit-sums: the per-bit ±1 counter equals 2·Σbit − N, so only
    # the non-negative BIT sums need aggregating — and two 31-bit lanes
    # pack into one long (borrow-free: bits are 0/1, per-doc word counts
    # bounded by 2^31). bits/2 packed sums + one count replace ``bits``
    # ±1 sums: ~half the aggregate width, which halved the dominant
    # codegen + agg cost of the 32-bit hamming census at sf0.1.
    npairs = (bits + 1) // 2
    lanes = []
    for g in range(npairs):
        lo = 2 * g
        lane = F.shiftrightunsigned(F.col("__hw__"), lo).bitwiseAND(F.lit(1))
        if lo + 1 < bits:
            lane = lane + F.shiftleft(
                F.shiftrightunsigned(F.col("__hw__"), lo + 1).bitwiseAND(F.lit(1)), 31
            )
        lanes.append(lane.alias(f"__l{g}__"))
    ws = ws.select(F.col(key_col), hw.alias("__hw__")).select(F.col(key_col), *lanes)
    sums = ws.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("__n__"),
        *[F.sum(f"__l{g}__").alias(f"__p{g}__") for g in range(npairs)],
    )
    sig = None
    for j in range(bits):
        g, pos = divmod(j, 2)
        s_j = F.shiftrightunsigned(F.col(f"__p{g}__"), 31 * pos).bitwiseAND(F.lit((1 << 31) - 1))
        # original rule: Σ(2·bit−1) > 0  ⟺  2·Σbit > N. Bit 63 adds as
        # −2^63: setting the sign bit in two's complement.
        weight = 2**j if j < 63 else -(2**63)
        term = F.when(s_j * 2 > F.col("__n__"), F.lit(weight)).otherwise(0)
        sig = term if sig is None else sig + term
    return sums.select(F.col(key_col), sig.cast("long").alias("simhash"))


def hamming_candidates(
    sig_df: SDF,
    key_col: str = "doc_id",
    sig_col: str = "simhash",
    max_distance: int = 3,
    *,
    bits: int,
) -> SDF:
    """ALL pairs within SimHash hamming distance ``max_distance``, found
    by pigeonhole banding: the ``bits``-bit signature splits into
    ``max_distance + 1`` disjoint bands, and a pair differing in at most
    ``max_distance`` bits can touch at most ``max_distance`` bands, so it
    agrees EXACTLY on at least one band — recall is 1.0 by construction
    (the classic multi-index trick; cf. Manku et al., WWW'07 simhash
    dedup). Candidates come from per-band equi-joins on (band, value) —
    never a cross join, so the plan scales like any hash join — and the
    exact ``bit_count(xor)`` verify drops the false positives, making the
    output exactly the brute-force pair set.

    ``bits`` is REQUIRED and must state the true signature width: bands
    covering bits beyond the signatures' width are all-zero, every pair
    matches them, and the candidate join degenerates to all-pairs (still
    correct after the verify, but quadratic).

    Reference parity: near-dup utilities beyond the reference surface
    (training-data pipeline extension)."""
    if max_distance >= bits:
        raise ValueError(f"max_distance {max_distance} must be < bits {bits}")
    nbands = max_distance + 1
    band_vals = []
    for bnd in range(nbands):
        lo = bnd * bits // nbands
        hi = (bnd + 1) * bits // nbands
        mask = (1 << (hi - lo)) - 1
        if mask >= 1 << 63:  # full-width band: mask as signed-64 two's complement
            mask -= 1 << 64
        band_vals.append(
            F.shiftrightunsigned(F.col(sig_col).cast("long"), lo).bitwiseAND(F.lit(mask))
        )
    banded = sig_df.select(
        F.col(key_col),
        F.col(sig_col),
        F.posexplode(F.array(*band_vals)).alias("__band__", "__bv__"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
    return (
        a.join(
            b,
            (F.col("a.__band__") == F.col("b.__band__"))
            & (F.col("a.__bv__") == F.col("b.__bv__"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("id_a"),
            F.col(f"b.{key_col}").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def neardup_components(pairs: SDF, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20) -> SDF:
    """Connected components over the near-dup pair graph — the cluster-
    resolution step a dedup pipeline needs between "similar pairs" and
    "keep one representative per duplicate group".

    Iterative min-label propagation: each round every vertex takes the
    minimum label among itself and its neighbours; convergence in
    O(component diameter) rounds, and near-dup clusters are low-diameter
    by construction (the large-star/small-star algorithm of
    Kiveris et al. is the drop-in upgrade for high-diameter graphs —
    same join primitive, documented trade). Each round is ONE equi-join +
    one groupBy min; the frame is pinned per round (localCheckpoint) so
    the lineage stays flat and the fixpoint check (a count) doesn't
    recompute the whole chain.

    Returns (vertex, component) for every vertex appearing in ``pairs``,
    component = min vertex id of the cluster. Raises RuntimeError when
    the iterative kernel has not converged after ``max_iter`` rounds.
    """
    edges = pairs.select(F.col(id_a).alias("__src__"), F.col(id_b).alias("__dst__"))
    edges = edges.unionByName(
        edges.select(F.col("__dst__").alias("__src__"), F.col("__src__").alias("__dst__"))
    ).distinct()
    # pin the (possibly expensive: LSH + verify) upstream ONCE
    edges = edges.localCheckpoint(eager=False)
    # summary-sized edge sets resolve on the driver in ONE pass
    # (union-find) instead of O(diameter) join rounds of ~2 jobs each —
    # the same bounded-driver-summary gate every kernel here uses. Dedup
    # pair graphs are candidate pairs AFTER verification, already a tiny
    # fraction of the corpus; past the gate the iterative kernel below
    # is the scale path.
    # r12: the probe CARRIES the rows — one pass instead of a count job
    # followed by a collect job re-reading the checkpoint (bounded: at
    # most SMALL_EDGES_MAX+1 narrow id pairs cross to the driver, the
    # same bound the two-pass form already accepted)
    rows = edges.limit(SMALL_EDGES_MAX + 1).collect()
    if len(rows) <= SMALL_EDGES_MAX:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = find(r["__src__"]), find(r["__dst__"])
            if a != b:
                if b < a:
                    a, b = b, a
                parent[b] = a
        verts = {v for r in rows for v in (r["__src__"], r["__dst__"])}
        out = [(v, find(v)) for v in sorted(verts)]
        from pyspark.sql import types as T

        vt = edges.schema["__src__"].dataType
        schema = T.StructType(
            [T.StructField("vertex", vt), T.StructField("component", vt)]
        )
        # r12: slice the driver-built component table by ROWS, not by
        # default parallelism — createDataFrame otherwise parallelizes a
        # few thousand rows into $cores slices, and every downstream
        # stage that reads it schedules $cores near-empty tasks
        nsl = max(1, -(-len(out) // (1 << 18)))
        rdd = pairs.sparkSession.sparkContext.parallelize(out, nsl)
        return pairs.sparkSession.createDataFrame(rdd, schema)
    labels = edges.select(F.col("__src__")).distinct().withColumn("__lbl__", F.col("__src__"))
    labels = labels.localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("__src__").alias("__dst__"), F.col("__lbl__").alias("__nl__")),
            "__dst__",
        ).groupBy("__src__").agg(F.min("__nl__").alias("__nmin__"))
        new_labels = (
            labels.join(nbr, "__src__", "left")
            .select(
                "__src__",
                F.least(F.col("__lbl__"), F.coalesce(F.col("__nmin__"), F.col("__lbl__"))).alias("__lbl__"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.join(
                labels.select("__src__", F.col("__lbl__").alias("__old__")), "__src__"
            )
            .filter(F.col("__lbl__") != F.col("__old__"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # the labels of an unconverged round are partial components
        raise RuntimeError(
            f"neardup_components: label propagation did not converge in max_iter={max_iter} rounds "
            "(a component's diameter exceeds it); raise max_iter"
        )
    return labels.select(F.col("__src__").alias("vertex"), F.col("__lbl__").alias("component"))


def dedup_representatives(docs: SDF, components: SDF, key_col: str = "doc_id") -> SDF:
    """Resolve clusters to keepers: every doc outside the pair graph
    keeps itself; inside a cluster the MIN id is the canonical
    representative (the reference-style keep-first rule)."""
    comp = components.select(F.col("vertex").alias(key_col), "component")
    joined = docs.join(comp, key_col, "left")
    keep = F.col("component").isNull() | (F.col(key_col) == F.col("component"))
    return joined.filter(keep).drop("component")


def minhash_signature_struct_sql(
    text_col: str, num_hashes: int = 8, shingle_n: int = 3, lowercase: bool = False
) -> Column:
    """The STATELESS per-row MinHash face: all ``num_hashes`` components
    as ONE struct column (fields m0..m{k-1}), equal to
    :func:`minhash_signatures` (same hash family, shingles, fallback and
    fold). It needs no aggregate, so it runs inside a stream (the
    signature store's stream probe). The distinct shingle array is
    base-hashed once and folded by one ``aggregate`` whose struct
    accumulator carries every seeded min.

    Built as one SQL expression string: a single py4j call, where the
    lambda-based Column construction cost ~1 s of driver-side py4j
    round trips per call (measured), paid on every stream start. Takes
    the column NAME (SQL can't splice an arbitrary Column). Select the
    struct FIRST, then project its fields in a second select, so the
    fold runs once per row."""
    p = MINHASH_P32
    col = f"lower(`{text_col}`)" if lowercase else f"`{text_col}`"

    def bh(x: str) -> str:
        return f"(CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT) % {p})"

    # tokenization mirrors text.words(): btrim over the ASCII \s charset
    ws = (
        f"split(btrim({col}, concat(' ', char(9), char(10), char(11), "
        f"char(12), char(13))), '\\\\s+')"
    )
    k = f"(size({ws}) - {shingle_n - 1})"
    shingles = (
        f"CASE WHEN {k} >= 1 THEN transform(sequence(1, {k}), "
        f"i -> array_join(slice({ws}, i, {shingle_n}), ' ')) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    sh = f"array_distinct({shingles})"
    base = f"transform({sh}, s -> {bh('s')})"
    init = "named_struct(" + ", ".join(
        f"'m{i}', CAST({p} AS BIGINT)" for i in range(num_hashes)
    ) + ")"
    fold = "(acc, h) -> named_struct(" + ", ".join(
        f"'m{i}', least(acc.m{i}, ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {p})"
        for i in range(num_hashes)
    ) + ")"
    mins = f"aggregate({base}, {init}, {fold})"
    fb = bh(col)
    fallback = "named_struct(" + ", ".join(
        f"'m{i}', ({MINHASH_A[i]} * {fb} + {MINHASH_B[i]}) % {p}"
        for i in range(num_hashes)
    ) + ")"
    return F.expr(f"CASE WHEN size({sh}) > 0 THEN {mins} ELSE {fallback} END")


def dedup_keep_best(
    docs: SDF,
    pairs: SDF,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> SDF:
    """Resolve near-dup PAIRS into the survivors a pipeline actually
    ships: connected components over the pair graph, then per cluster
    keep the HIGHEST-``quality_col`` document (ties -> lowest id — a
    total order, deterministic across partitionings); docs in no
    cluster all survive. Returns the surviving rows of ``docs``.

    Plan shape: the component kernel's bounded join rounds + one
    max_by aggregate per cluster + two anti-joins — never a whole
    cluster in one task beyond the aggregate's combiner."""
    comps = neardup_components(pairs, id_a=id_a, id_b=id_b)
    member = comps.join(
        docs.select(F.col(id_col).alias("vertex"), F.col(quality_col).alias("__q__")),
        "vertex",
    )
    # max of struct(quality, -id): quality DESC then id ASC, one agg
    keepers = member.groupBy("component").agg(
        F.max_by(
            F.col("vertex"), F.struct(F.col("__q__"), (-F.col("vertex")).alias("__negid__"))
        ).alias("keep_id")
    )
    dropped = (
        comps.join(
            keepers.select(F.col("keep_id").alias("vertex")), "vertex", "left_anti"
        )
        .select(F.col("vertex").alias(id_col))
    )
    return docs.join(dropped, id_col, "left_anti")
