"""Text-analysis operators for large-scale training-data pipelines.

These are additive capabilities beyond the reference (BASELINE.json
north-star): token counting, quality scoring, language ID, document
fingerprinting. All are pure built-in-function column expressions —
no Python UDFs — so they run JVM-side inside whole-stage codegen and
scale linearly with no shuffle (the shuffle only appears when the caller
aggregates).

Hashing convention: every hash here is derived from ``md5`` hex strings
(lexicographic order), never engine-specific hash functions, so DuckDB
oracles can reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..sizing import estimate_bytes

# A tiny embedded stopword list (public-domain English function words).
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# n-gram marker words per language for the heuristic language ID.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def wtrim(text: Column) -> Column:
    """Trim ALL boundary whitespace (the Java \\s ASCII class). Spark's
    (and DuckDB's) plain trim strips only spaces, so a tab/newline-led
    document would tokenize to phantom empty strings at the boundaries
    (caught by the chunk_documents hypothesis property) — every
    tokenizing op routes through this instead. btrim with a char set,
    NOT a regex: words() is re-evaluated several times inside fused
    quality/stat projections (Spark does not CSE the token array), and
    an anchored regexp_replace there cost 7x on q_text_stats."""
    return F.btrim(text, F.lit(" \t\n\x0b\x0c\r"))


def words(text: Column) -> Column:
    """Whitespace tokenization (the reference point for token counts)."""
    return F.split(wtrim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.length(wtrim(text)) == 0, F.lit(0)).otherwise(F.size(words(text)))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: split on word boundaries AND punctuation, the way a
    byte-pair tokenizer fragments text (regex, still JVM-side)."""
    toks = F.split(text, r"(?=[^\w])|(?<=[^\w])")
    return F.size(F.filter(toks, lambda t: F.trim(t) != ""))


def word_shingles(text: Column, n: int) -> Column:
    """All word n-grams of the text as an array<string> (space-joined)."""
    ws = words(text)
    k = F.size(ws) - F.lit(n - 1)
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(ws, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows(sdf, key_col: str, text_col: str, n: int):
    """(key, shingle) rows via posexplode + window leads — fully codegen'd
    (the expression form above runs interpreted: ~6x slower in bulk).
    Docs with fewer than ``n`` words produce no rows (callers fall back
    to hashing the raw text)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy("__pos__")
    out = sdf.select(F.col(key_col), F.posexplode(words(F.col(text_col))).alias("__pos__", "__w0__"))
    parts = [F.col("__w0__")]
    for i in range(1, n):
        out = out.withColumn(f"__w{i}__", F.lead("__w0__", i).over(w))
        parts.append(F.col(f"__w{i}__"))
    out = out.filter(F.col(f"__w{n - 1}__").isNotNull())
    return out.select(F.col(key_col), F.concat_ws(" ", *parts).alias("shingle"))


def shingle_rows_arrow(sdf, key_col: str, text_col: str, n: int, pos_col: str | None = None):
    r"""(key, shingle) rows via mapInPandas — MAP-ONLY, unlike
    :func:`shingle_rows`, whose window (partitionBy key + leads) forces a
    full shuffle of every exploded word. Use this form when the grams
    feed a JOIN (decontamination): the corpus side then truly never
    shuffles. Keep the window form where a per-key aggregate follows
    anyway (the jaccard pipeline) — there the window's exchange doubles
    as the aggregate's.

    Tokenization mirrors ``words()`` exactly: boundary trim strips the
    FULL ASCII \s class (wtrim's btrim charset — the round-6 whitespace
    fix; a space-only strip makes phantom empty tokens on tab/newline-
    led docs), \s+ split, empties kept."""
    import re as _re

    from pyspark.sql import types as T

    key_field = sdf.schema[key_col]
    fields = [T.StructField(key_col, key_field.dataType), T.StructField("shingle", T.StringType())]
    if pos_col:
        # 1-based gram start position (word index) — the span-merge
        # pipeline needs it; matches DuckDB's 1-based list_slice/range
        fields.append(T.StructField(pos_col, T.LongType()))
    schema = T.StructType(fields)

    def op(batches):
        import pandas as pd

        for pdf in batches:
            keys, grams, poss = [], [], []
            for k, t in zip(pdf[key_col], pdf[text_col]):
                ws = _re.split(r"[ \t\n\x0b\f\r]+", (t or "").strip(" \t\n\x0b\x0c\r"))
                for j in range(len(ws) - n + 1):
                    keys.append(k)
                    grams.append(" ".join(ws[j : j + n]))
                    poss.append(j + 1)
            out = {key_col: keys, "shingle": grams}
            if pos_col:
                out[pos_col] = pd.Series(poss, dtype="int64")
            yield pd.DataFrame(out)

    return sdf.select(key_col, text_col).mapInPandas(op, schema)


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS
    ws = words(F.lower(text))
    n = F.size(ws)
    hits = F.size(F.filter(ws, lambda w: w.isin(sw)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return F.when(
        F.length(text) > 0,
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text).cast("double"),
    ).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    ws = words(text)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(ws) > 0, total.cast("double") / F.size(ws).cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punctuation,
    sane stopword density, moderate word length — the standard cheap
    pre-filter shape for LLM corpus cleaning."""
    length_ok = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_ok = F.lit(1.0) - F.abs(sw - F.lit(0.4)) * 2
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 8), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((length_ok + F.greatest(sw_ok, F.lit(0.0)) + punct_ok + mwl_ok) / 4, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    ws = words(F.lower(text))
    return {
        lang: F.size(F.filter(ws, lambda w: w.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(text: Column) -> Column:
    """Argmax of marker-word hits; 'und' (undetermined) when all zero.
    Ties resolve in LANG_MARKERS insertion order (en first) on both the
    Spark and oracle sides."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores.items():  # later langs win only on strictly-greater
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def predict_lang_table(sdf, key_col: str = "doc_id", text_col: str = "text"):
    """(key, predicted) language table — explode + per-lang conditional
    sums (codegen) instead of per-row interpreted lambdas; same greedy
    first-max semantics as ``predict_lang``."""
    ws = sdf.select(F.col(key_col), F.explode(words(F.lower(F.col(text_col)))).alias("__w__"))
    aggs = [
        F.sum(F.when(F.col("__w__").isin(markers), 1).otherwise(0)).alias(f"__s_{lang}__")
        for lang, markers in LANG_MARKERS.items()
    ]
    scores = ws.groupBy(key_col).agg(*aggs)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:
        s = F.coalesce(F.col(f"__s_{lang}__"), F.lit(0))
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    # left join keeps empty-text docs (no words) as 'und'
    return (
        sdf.select(F.col(key_col))
        .join(scores, key_col, "left")
        .select(F.col(key_col), best_lang.alias("predicted"))
    )


def fingerprint(text: Column, n: int = 5) -> Column:
    """Document fingerprint: the minimum md5 of the word n-gram shingles
    (MinHash with k=1) — stable under word reordering outside the minimal
    window, the classic cheap near-dup prefilter.

    NB: higher-order expression form (interpreted); bulk pipelines should
    use ``fingerprint_table`` (explode + codegen min agg)."""
    shingles = word_shingles(text, n)
    hashed = F.transform(shingles, lambda s: F.md5(s))
    return F.when(F.size(shingles) > 0, F.array_min(hashed)).otherwise(F.md5(text))


def fingerprint_table(sdf, key_col: str = "doc_id", text_col: str = "text", n: int = 5):
    """(key, fingerprint) via codegen shingle rows -> min(md5) aggregate —
    the scale path (same output as ``fingerprint``)."""
    sh = shingle_rows(sdf, key_col, text_col, n)
    sig = sh.groupBy(key_col).agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))
    fallback = sdf.select(F.col(key_col), F.md5(F.col(text_col)).alias("__fb__"))
    return (
        fallback.join(sig, key_col, "left")
        .select(F.col(key_col), F.coalesce("fingerprint", "__fb__").alias("fingerprint"))
    )


def unigram_logprob(docs: SDF, text_col: str = "text", key_col: str = "doc_id") -> SDF:
    """Per-document mean unigram log-probability against the corpus
    unigram distribution — the cheap perplexity proxy used as a corpus
    quality signal (the full version scores against a trained LM, e.g.
    CCNet's KenLM filter; the unigram model needs no external artifacts).

    Pipeline: explode tokens -> corpus counts (map-side combined, one
    shuffle on the token) -> broadcast-or-SMJ join token logprobs back ->
    per-doc mean. More negative = more surprising/noisy. Scales: state is
    the vocabulary table, shuffles are token-keyed.
    """
    toks = docs.select(F.col(key_col), F.explode(words(F.col(text_col))).alias("__tok__")).filter(
        F.length("__tok__") > 0
    )
    vocab = toks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__c__"))
    total = vocab.agg(F.sum("__c__").alias("__t__"))
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "__tok__", (F.log(F.col("__c__").cast("double")) - F.log(F.col("__t__").cast("double"))).alias("__lp__")
    )
    return (
        toks.join(vocab, "__tok__")
        .groupBy(key_col)
        .agg(F.avg("__lp__").alias("unigram_logprob"), F.count(F.lit(1)).alias("n_tokens"))
    )


def bigram_logprob(
    docs: SDF, text_col: str = "text", key_col: str = "doc_id", alpha: float = 0.5
) -> SDF:
    """Per-document mean bigram log-probability with add-alpha smoothing
    — the next step up from ``unigram_logprob`` toward the KenLM-style
    perplexity filters real pipelines run (CCNet, Gopher): word order now
    matters, so shuffled/boilerplate text scores worse than its unigram
    mix suggests.

    Model: P(w2|w1) = (c(w1,w2) + a) / (c(w1,·) + a·V), V = corpus
    vocabulary size. Per doc: mean ln P over its bigrams.

    Plan: bigram pairs come from zip_with over two array slices (pure
    codegen, NO window and no posexplode self-join); counts are two
    map-side-combined aggregations keyed on the (pair|context) token;
    V is one scalar broadcast. Shuffles stay token-keyed — the 100 TB
    shape is (corpus explode) + (bounded vocab tables) + one join back.
    """
    arr = F.filter(words(F.col(text_col)), lambda t: F.length(t) > 0)
    base = docs.select(F.col(key_col), arr.alias("__a__"))
    pair = F.expr(
        "zip_with(slice(__a__, 1, greatest(size(__a__) - 1, 0)), "
        "slice(__a__, 2, greatest(size(__a__) - 1, 0)), "
        "(x, y) -> struct(x AS w1, y AS w2))"
    )
    pairs = base.select(F.col(key_col), F.explode(pair).alias("__p__")).select(
        key_col, F.col("__p__.w1").alias("__w1__"), F.col("__p__.w2").alias("__w2__")
    )
    big = pairs.groupBy("__w1__", "__w2__").agg(F.count(F.lit(1)).alias("__c12__"))
    ctx = pairs.groupBy("__w1__").agg(F.count(F.lit(1)).alias("__c1__"))
    vocab = base.select(F.explode("__a__").alias("__tok__")).agg(
        F.count_distinct("__tok__").alias("__v__")
    )
    a = F.lit(float(alpha))
    lp = (
        big.join(ctx, "__w1__")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1__",
            "__w2__",
            F.log(
                (F.col("__c12__").cast("double") + a)
                / (F.col("__c1__").cast("double") + a * F.col("__v__").cast("double"))
            ).alias("__lp__"),
        )
    )
    return (
        pairs.join(lp, ["__w1__", "__w2__"])
        .groupBy(key_col)
        .agg(F.avg("__lp__").alias("bigram_logprob"), F.count(F.lit(1)).alias("n_bigrams"))
    )


def stratified_sample(
    sdf: SDF,
    strata_col: str,
    rates: dict,
    key_col: str = "doc_id",
    buckets: int = 10_000,
    default_rate: float = 0.0,
) -> SDF:
    """Deterministic per-stratum sampling to hit a target domain MIX —
    the corpus-balancing primitive (upsample wiki, downsample web) a
    training-data pipeline runs before packing. Keeps ``hash_sample``'s
    md5-bucket keep-rule per stratum, so every stratum inherits its
    properties: engine-reproducible, partition-independent, and nested
    rates subset each other (raising one domain's rate only ADDS rows).

    ``rates`` maps stratum value -> keep rate in [0, 1]; unlisted strata
    fall back to ``default_rate``. Pure codegen: one map literal lookup
    + the hash filter, no shuffle at all.
    """
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
        % F.lit(buckets)
    )
    # round, not truncate: float representation of e.g. 0.29*10000 can
    # land at 2899.9999..., undershooting the stated rate by one bucket
    mapping = F.create_map(
        *[F.lit(x) for k, r in rates.items() for x in (k, int(round(r * buckets)))]
    )
    thr = F.coalesce(mapping[F.col(strata_col)], F.lit(int(round(default_rate * buckets))))
    return sdf.filter(h < thr)


def hash_sample(sdf: SDF, key_col: str, rate: float, buckets: int = 10_000) -> SDF:
    """Deterministic hash-bucket sampling — the reproducible alternative
    to RNG sampling for corpus subsetting: a row is kept iff
    ``md5(key) mod buckets < rate*buckets``. Properties a training-data
    pipeline needs that ``sample()`` can't give:

    * stable across runs/engines (md5 of the key, no RNG state) — the
      DuckDB oracle reproduces the exact row set;
    * stable under re-partitioning and incremental appends (a doc's
      fate never depends on which rows surround it);
    * nested rates subset each other (5% ⊂ 10% ⊂ 50%).

    Pure codegen expressions — a plain filter in the scan stage, no
    UDF barrier (md5 itself is not a parquet-pushable predicate).
    """
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
    return sdf.filter(h % F.lit(buckets) < F.lit(int(round(rate * buckets))))


def mixture_sample(
    sdf: SDF,
    strata_col: str,
    weights: dict,
    n_total: int,
    key_col: str = "doc_id",
    buckets: int = 10_000,
    upsample: bool = False,
    epoch_col: str = "epoch",
) -> SDF:
    """Deterministic WEIGHTED-MIXTURE sampling — the pretraining
    data-mix primitive: draw ~``n_total`` rows whose COMPOSITION across
    ``strata_col`` matches ``weights`` (e.g. 60% web / 20% wiki / 20%
    code), regardless of how skewed the source sizes are.

    ``stratified_sample`` takes per-stratum keep RATES; this op computes
    those rates FROM the target weights and the measured stratum sizes
    (rate_i = w_i/Σw · n_total / N_i), then applies the same md5-bucket
    keep rule — so the draw inherits every hash-sample property:
    engine-reproducible (DuckDB oracle reproduces the exact row set),
    partition-independent, append-stable, and nested (raising one
    stratum's weight only ADDS rows from that stratum).

    A stratum too small for its target (rate > 1) CLAMPS to keeping all
    its rows by default — the without-replacement shortfall semantics.
    ``upsample=True`` instead REPEATS rows to hit the target (the >1
    epoch half of real data-mix specs: floor(rate) whole epochs per row
    + a fractional epoch drawn by the same bucket rule), emitting an
    ``epoch_col`` index per copy. Strata absent from ``weights`` are
    dropped.

    Cost: ONE map-side-combined count aggregate over the strata (a
    driver summary bounded by the stratum cardinality — the domain
    label, not the corpus) + one codegen filter; no shuffle of the
    data. Thresholds are integral bucket counts computed half-up so the
    SQL oracle's ROUND reproduces them bit-for-bit."""
    sizes = {
        r[strata_col]: r["n"]
        for r in sdf.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_w = float(sum(weights.values()))
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
        % F.lit(buckets)
    )
    if not upsample:
        thresholds = {}
        for k, w in weights.items():
            n_k = sizes.get(k, 0)
            if n_k <= 0:
                thresholds[k] = 0
                continue
            rate = (w / total_w) * n_total / n_k
            thresholds[k] = min(int(rate * buckets + 0.5), buckets)
        mapping = F.create_map(*[F.lit(x) for k, t in thresholds.items() for x in (k, t)])
        thr = mapping[F.col(strata_col)]
        return sdf.filter(thr.isNotNull() & (h < thr))
    # upsample=True: rates above 1 REPEAT rows — floor(rate) whole
    # epochs for every row plus one fractional epoch drawn by the same
    # bucket rule; the output carries the epoch index (0-based) so a
    # curriculum/packing stage can interleave copies. Deterministic and
    # nested like the clamped mode; copies multiply the row count, not
    # the distinct-doc count.
    epochs, fracs = {}, {}
    for k, w in weights.items():
        n_k = sizes.get(k, 0)
        if n_k <= 0:
            continue
        rate = (w / total_w) * n_total / n_k
        e = int(rate)
        epochs[k] = e
        fracs[k] = min(int((rate - e) * buckets + 0.5), buckets)
    if not epochs:
        return sdf.filter(F.lit(False)).withColumn(epoch_col, F.lit(0))
    e_map = F.create_map(*[F.lit(x) for k, e in epochs.items() for x in (k, e)])
    f_map = F.create_map(*[F.lit(x) for k, t in fracs.items() for x in (k, t)])
    n_copies = e_map[F.col(strata_col)] + F.when(h < f_map[F.col(strata_col)], 1).otherwise(0)
    kept = sdf.withColumn("__nc__", n_copies).filter(
        F.col("__nc__").isNotNull() & (F.col("__nc__") > 0)
    )
    return kept.withColumn(
        epoch_col, F.explode(F.sequence(F.lit(0), F.col("__nc__") - 1))
    ).drop("__nc__")


def pack_context_windows(frame, token_col: str, budget: int, bin_col: str = "bin"):
    """Contiguous context-window sharding for training-data assembly:
    documents (already in the desired curriculum order) are assigned to
    fixed-budget bins by EXCLUSIVE cumulative token count — bin i holds
    the docs whose preceding-token total lies in [i*budget, (i+1)*budget).
    A doc may straddle its bin boundary (documented; streaming loaders
    handle the carry), which is what keeps the assignment a pure prefix
    sum — one pass over the corpus through the DISTRIBUTED cumulative
    kernel (operators/ordered.cumulative), no sequential packing loop.

    ``frame`` is an explorer_spark DataFrame whose current row order is
    the packing order; returns the frame with ``bin_col`` added.
    """
    from ..expr import Expr, col, lit

    cum = Expr("cumulative_sum", col(token_col), False)
    excl = cum - col(token_col)
    binned = Expr("floor", excl / lit(float(budget))).cast(("s", 64))
    return frame.mutate(**{bin_col: binned})


def chunk_documents(
    sdf: SDF,
    chunk_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """Sliding-window document chunking for training/RAG assembly: each
    doc yields ceil((n_tokens - overlap) / stride) whitespace-token
    windows of ``chunk_tokens`` tokens advancing by ``stride =
    chunk_tokens - overlap`` (so consecutive chunks share ``overlap``
    tokens); a doc shorter than one window yields exactly one chunk.

    Pure codegen + ONE posexplode: split -> sequence(0, n_chunks-1) ->
    slice -> array_join, no UDF, no shuffle — the scan parallelism IS
    the chunking parallelism, so this holds at any corpus size. Output:
    (id, chunk_id, chunk_text, n_chunk_tokens)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    w = words(F.col(text_col))
    # empty/whitespace docs have no tokens (split yields [''] — count 0)
    w = F.when(F.length(wtrim(F.col(text_col))) == 0, F.array().cast("array<string>")).otherwise(w)
    n = F.size(w)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(stride))).cast("long")
    )
    s = sdf.select(
        F.col(id_col),
        w.alias("__w__"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("__i__", "chunk_id"),
    )
    sl = F.slice(F.col("__w__"), F.col("chunk_id").cast("int") * stride + 1, chunk_tokens)
    return s.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(sl, " ").alias("chunk_text"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
    )


def tfidf_topk(
    sdf: SDF,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """Top-k TF-IDF terms per document (corpus keyword extraction /
    topic signals for training-data curation): tf = in-doc term count,
    idf = ln((N + 1) / (df + 1)) + 1 (smoothed, sklearn's convention),
    deterministic tie-break (score desc, term asc).

    Scale shape: one explode + (doc, term) hash aggregation for tf, one
    term-keyed aggregation for df (bounded by vocabulary, broadcast back
    when small — AQE decides), and a per-doc top-k window partitioned by
    doc id. No driver state, no UDF: lowercased whitespace terms keep
    everything in codegen. Output: (id, term, tf, score) — score rounded
    to 6dp so SQL oracles reproduce it."""
    from pyspark.sql import Window as W

    toks = words(F.lower(F.col(text_col)))
    base = sdf.select(F.col(id_col), toks.alias("__t__")).filter(F.size("__t__") > 0)
    terms = base.select(F.col(id_col), F.explode("__t__").alias("term")).filter(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = sdf.select(F.col(id_col)).distinct().count()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df__"))
    scored = tf.join(df_, "term").withColumn(
        "score",
        F.round(
            F.col("tf").cast("double")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("__df__") + F.lit(1)).cast("double")) + F.lit(1.0)),
            6,
        ),
    )
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"), "score")
    )


def repetition_stats(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filtering; public heuristics): fraction of duplicate lines, fraction
    of duplicate words, and the share of the text taken by the single
    most frequent word. All pure built-in expressions — codegen, no
    shuffle until the caller aggregates; the standard cheap prefilter
    for LLM corpus cleaning alongside :func:`quality_score`."""
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    dup_line_fraction = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    ws = words(F.lower(text))
    n_words = F.size(ws)
    dup_word_fraction = F.when(
        n_words > 0,
        (n_words - F.size(F.array_distinct(ws))).cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    # share of occurrences of the single most frequent word: max over the
    # distinct words of their counts, via a higher-order filter per word
    top = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w)),
        )
    )
    top_word_share = F.when(
        n_words > 0, top.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    return {
        "dup_line_fraction": dup_line_fraction,
        "dup_word_fraction": dup_word_fraction,
        "top_word_share": top_word_share,
    }


# ---------------------------------------------------------------------------
# PII scrubbing (round 4)
# ---------------------------------------------------------------------------

# RE2-compatible patterns (no lookaround), so the same strings run in
# Spark (java.util.regex) and DuckDB (RE2) — oracle-reproducible.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def scrub_pii(sdf, text_col: str = "text", out_col: str = "scrubbed", with_counts: bool = True):
    """Redact emails/phones/IPv4s with ``<EMAIL>``/``<PHONE>``/``<IPV4>``
    tokens, optionally counting matches per category first (counts are
    against the ORIGINAL text). Pure regexp_count/regexp_replace column
    expressions — JVM-side, codegen, no shuffle, linear at any scale.
    Replacement applies in the fixed PII_PATTERNS order (email before
    phone before ipv4) so engines agree on overlapping matches."""
    out = sdf
    src = F.col(text_col)
    if with_counts:
        for name, pat in PII_PATTERNS.items():
            out = out.withColumn(f"n_{name}", F.regexp_count(src, F.lit(pat)))
    scrubbed = src
    for name, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn(out_col, scrubbed)


# ---------------------------------------------------------------------------
# benchmark decontamination (round 4)
# ---------------------------------------------------------------------------


def decontaminate_ngrams(
    corpus,
    eval_frame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with an evaluation set (the standard contamination check a
    training pipeline runs before a data release — cf. GPT-3 appendix C /
    PaLM-style 8-gram overlap).

    Plan shape for 100 TB: the eval side collapses to DISTINCT n-grams
    (eval sets are small — thousands of docs) and BROADCASTS; the corpus
    side is a map-only explode feeding a broadcast hash join, so the
    corpus never shuffles — the only exchange is the final per-doc
    aggregate of matched grams. Returns (id_col,
    n_contaminated_ngrams) for every corpus doc with >= 1 hit.
    """
    # shingle_rows_arrow (mapInPandas) keeps gram generation MAP-ONLY:
    # the window form would shuffle every exploded corpus word just to
    # assemble n-grams, and the array-expression form runs interpreted
    # per element — this is the no-shuffle, vectorized-batch middle.
    lower_ev = eval_frame.select(F.col(id_col), F.lower(F.col(text_col)).alias(text_col))
    ev = shingle_rows_arrow(lower_ev, id_col, text_col, n).select(
        F.col("shingle").alias("__g__")
    ).distinct()
    lower_c = corpus.select(F.col(id_col), F.lower(F.col(text_col)).alias(text_col))
    cg = shingle_rows_arrow(lower_c, id_col, text_col, n).select(
        F.col(id_col), F.col("shingle").alias("__g__")
    )
    hits = cg.join(F.broadcast(ev), "__g__")
    return hits.groupBy(id_col).agg(F.count_distinct(F.col("__g__")).alias("n_contaminated_ngrams"))


# ---------------------------------------------------------------------------
# C4-style line cleaning (round 4)
# ---------------------------------------------------------------------------


def clean_lines(sdf, text_col: str = "text", id_col: str = "doc_id", min_words: int = 3, out_col: str = "clean_text"):
    """C4-style boilerplate line filtering (Raffel et al. 2020 §2.2):
    keep only lines with >= ``min_words`` words AND terminal punctuation,
    rejoin survivors in original line order. Docs with no surviving line
    come back with an empty string (kept, so callers can drop or inspect).

    Plan: posexplode lines (codegen) -> codegen filter -> one groupBy per
    doc re-assembling via array_sort(collect_list(struct(pos, line))) —
    the per-line work never leaves whole-stage codegen and the only
    shuffle carries surviving lines keyed by doc."""
    lines = sdf.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("__ln__", "__line__")
    )
    keep = lines.filter(
        (F.size(F.split(wtrim(F.col("__line__")), r"\s+")) >= min_words)
        & F.col("__line__").rlike(r"[.!?]$")
    )
    agg = keep.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__ln__", "__line__"))),
                lambda s: s["__line__"],
            ),
            "\n",
        ).alias(out_col),
    )
    base = sdf.select(F.col(id_col))
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
    )


# Budget for pinning a derived gram stream (bytes of estimated
# MATERIALIZED grams, ~6x the input text bytes). 1 GiB: far above any
# bench/test corpus, far below what a 100 TB corpus would expand to.
GRAM_PIN_BYTES = 1 << 30

# remove_repeated_spans' target per-partition (id, pos) volume: sized so
# the r8 64x probe's measured optimum (~17.5M words -> ~128 partitions;
# 32 spills, 256 pays the over-partitioning tax) falls out of the formula
SPANS_ROWS_PER_PARTITION = 150_000


def maybe_pin_gram_stream(grams: SDF, src: SDF, text_col: str = "text", expand_factor: int = 6):
    """Size-gated pin (r12, carried VERDICT item) for a gram stream
    consumed by BOTH a corpus-wide hot count and a join back
    (q_text_dup_spans / q_text_dup_substrings): without a pin the
    map-only Arrow kernel re-tokenizes the corpus once per consumer;
    with one, the block manager holds ~``expand_factor`` x the input
    text bytes. Pin iff Catalyst's free column-pruned input estimate,
    expanded, fits the budget (``GRAM_PIN_BYTES``, 1 GiB) — at corpus
    scale the estimate exceeds any sane budget and the stream stays
    map-only (a second tokenization pass beats
    materializing ~6x 100 TB); test/bench-sized inputs pin and skip the
    second pass (measured ~15% at sf0.1). Unknown statistics never pin.
    Returns ``(stream, pinned)``."""
    est = estimate_bytes(src.select(text_col))
    if est is not None and est * expand_factor <= GRAM_PIN_BYTES:
        return grams.localCheckpoint(eager=False), True
    return grams, False


def remove_repeated_spans(
    sdf: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 5,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> SDF:
    """REMOVE corpus-repeated substrings from documents — the actionable
    half of the Lee et al. 2022 dedup signal (q_text_dup_substrings
    DETECTS them): every word ``gram_n``-gram seen >= ``min_count``
    times corpus-wide marks its span hot; adjacent/overlapping hot
    spans merge into maximal substrings (gaps-and-islands over start
    positions); the covered word positions are CUT and the remaining
    words rejoin with single spaces (canonical whitespace — the same
    normalization the gram kernel reads through).

    Output: (id, out_col, n_words, words_removed) — one row per input
    doc, docs with no hot spans pass through canonicalized.

    Plan shape at 100 TB: the map-only Arrow gram kernel + a map-side-
    combined hot count + one gram-keyed equi-join (as the detector),
    one per-doc window bounded by doc length for the island merge,
    covered positions EXPLODED from spans (output bounded by total
    words — never a range join's cartesian block), an anti-join on
    (id, pos), and a per-doc ordered rebuild. No driver state."""
    from pyspark.sql import Window as W

    # Partition discipline (round-9 verdict #4): the per-doc window and
    # the (id, pos) joins below shuffle into spark.sql.shuffle.partitions
    # — a fixed small count spills once the exploded word volume grows
    # (the 64x probe: 32 partitions 42.7 s vs 128 partitions 22.4 s).
    # Size the exchanges from the DATA: ceil(total_words /
    # SPANS_ROWS_PER_PARTITION), floored at the session default so small
    # corpora don't over-partition.
    import math
    import re

    spark = sdf.sparkSession
    # estimate WITHOUT running a job (round-10: the previous count() +
    # 200-row prefix scan cost two eager jobs per call and a skewed
    # prefix misprices the tail): Catalyst's optimizedPlan stats give a
    # column-pruned byte estimate for free. Calibration on the sf0.1
    # documents corpus: ~0.73 estimated bytes per word (parquet
    # compression roughly cancels the raw ~6 bytes/word), so 1 byte ≈ 1
    # word; less-compressible corpora estimate MORE bytes per word,
    # which over-partitions — the cheap direction (vs spilling).
    texts = sdf.select(text_col)
    n_words_total = estimate_bytes(texts)
    if n_words_total is not None:
        # the ~1 byte/word calibration is a PARQUET-scan property
        # (compression cancels raw bytes/word); CSV/JSON scans report
        # raw bytes — 5-10x the word count — so a non-parquet source
        # with known stats would over-partition by that factor. Trust
        # the estimate only over parquet RELATIONS: the optimized plan
        # (already built by the estimate) renders leaf scans as
        # "Relation [cols...] <format>", so match the format token
        # itself — a bare substring test would misfire on file paths or
        # column names containing "parquet"
        plan = texts._jdf.queryExecution().optimizedPlan().toString()
        fmts = re.findall(r"Relation \[[^\]]*\] (\w+)", plan)
        if not fmts or any(f.lower() != "parquet" for f in fmts):
            n_words_total = None
    if n_words_total is None:
        # statistics unknown or not from a parquet scan (a checkpoint
        # keeps its origin's statistics but renders as LogicalRDD): fall
        # back to the measured estimate —
        # row count (metadata-cheap) x a 200-row words-per-doc average —
        # rather than silently disabling the partition sizing
        n_docs = sdf.count()
        avg_row = (
            sdf.select(F.size(words(F.col(text_col))).alias("__n__"))
            .limit(200)
            .agg(F.avg("__n__"))
            .first()[0]
            or 0
        )
        n_words_total = int(n_docs * avg_row)
    try:
        default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (ValueError, TypeError):
        default_parts = 32
    nparts = max(default_parts, math.ceil(n_words_total / SPANS_ROWS_PER_PARTITION))

    def _sized(df, *cols):
        # explicit exchanges only when the data OUTGROWS the session
        # default — small inputs keep the plain plan (no extra shuffles)
        return df.repartition(nparts, *cols) if nparts > default_parts else df

    grams = shingle_rows_arrow(
        sdf.select(id_col, text_col), id_col, text_col, gram_n, pos_col="__pos__"
    )
    # r12: same size-gated pin as the detector queries — the stream is
    # consumed by the hot count AND the join below (two tokenizations
    # unpinned); corpus-scale inputs stay map-only
    grams, _ = maybe_pin_gram_stream(grams, sdf, text_col)
    hot = (
        grams.groupBy("shingle")
        .count()
        .filter(F.col("count") >= min_count)
        .select("shingle")
    )
    # explicit hash partitioning on the doc key at the computed width:
    # the window below reuses it (no second exchange), and per-partition
    # sort volume stays bounded at any replication factor
    hp = _sized(grams.join(hot, "shingle").select(id_col, "__pos__"), id_col)
    wd = W.partitionBy(id_col).orderBy("__pos__")
    runs = (
        hp.withColumn(
            "__brk__",
            F.when(
                F.col("__pos__") - F.lag("__pos__").over(wd) <= gram_n, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("__rid__", F.sum("__brk__").over(wd.rowsBetween(W.unboundedPreceding, 0)))
    )
    spans = runs.groupBy(id_col, "__rid__").agg(
        F.min("__pos__").alias("__s__"),
        (F.max("__pos__") + F.lit(gram_n - 1)).alias("__e__"),
    )
    # r11: spans feeds BOTH the covered-position explode and the
    # words_removed count below — pin the (island-bounded, tiny) table so
    # the gram+hot-join+window chain doesn't run twice
    spans = spans.localCheckpoint(eager=False)
    # merged islands are DISJOINT per doc (a new island starts only when
    # the gap exceeds gram_n, so the previous island's end pos + gram_n-1
    # stays strictly below the next start), hence the exploded (id, pos)
    # rows are already unique — the dropDuplicates exchange this carried
    # before r11 was a no-op shuffle+aggregate over the full exploded
    # position volume
    covered = spans.select(
        id_col,
        F.explode(F.sequence(F.col("__s__"), F.col("__e__"))).alias("__pos__"),
    )
    wpos = _sized(
        sdf.select(
            F.col(id_col), F.posexplode(words(F.col(text_col))).alias("__pos0__", "__w__")
        ).withColumn("__pos__", F.col("__pos0__") + 1),
        id_col,
        "__pos__",
    )
    kept = wpos.join(covered, [id_col, "__pos__"], "left_anti")
    rebuilt = _sized(kept, id_col).groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__w__"))),
                lambda s: s["__w__"],
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).alias("__kept__"),
    )
    # r11 optimization: n_words = kept + removed, so the third corpus
    # tokenization pass (a size(words(text)) scan joined back per doc)
    # is redundant — removed words per doc are the summed span lengths
    # (spans are disjoint), a summary-sized aggregate over the pinned
    # span table. Every doc tokenizes to >= 1 word (empty text is one
    # empty token), so kept ∪ removed spans the full id universe and the
    # outer join below loses nobody: a doc absent from `rebuilt` had
    # every word removed (clean_text ''), one absent from `removed`
    # lost none.
    removed = spans.groupBy(id_col).agg(
        F.sum(F.col("__e__") - F.col("__s__") + 1).alias("__rm__")
    )
    return rebuilt.join(removed, id_col, "full_outer").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        (F.coalesce(F.col("__kept__"), F.lit(0)) + F.coalesce(F.col("__rm__"), F.lit(0))).alias(
            "n_words"
        ),
        F.coalesce(F.col("__rm__"), F.lit(0)).alias("words_removed"),
    )
