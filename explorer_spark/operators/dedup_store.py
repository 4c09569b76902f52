"""Cross-run dedup signature store: persist MinHash signatures + LSH
band buckets ONCE per corpus, then dedup every NEW shard against the
corpus by scan + equi-join only — corpus signatures are never
recomputed and corpus TEXT is never read again. This is the operating
mode of a 100 TB training-data pipeline where shards arrive
incrementally: the store grows by appending each accepted shard's
signatures, and the per-shard cost is proportional to the SHARD, not
the corpus.

Layout (plain parquet, readable by any engine):

    <path>/meta/        one row: kind, num_hashes, bands, shingle_n
    <path>/signatures/  key, mh0..mh{k-1}      (estimated-Jaccard verify)
    <path>/buckets/     key, band, bucket      (the LSH join side,
                                                partitioned by band)

Join-time plan shape: new-shard signatures compute locally (Arrow
grams -> one md5 per shingle -> k codegen min-aggs,
dedup.minhash_signatures), band buckets equi-join the store's
``buckets/`` on (band, bucket) — never a cross join — and verification
reads only the store's ``signatures/`` (estimated Jaccard = fraction of
equal MinHash components, the standard unbiased estimator), so the
corpus text stays cold. Buckets
are partitioned by ``band`` so a band-restricted probe prunes files at
the scan.

The reference has no cross-run surface (its dedup story is
single-frame, explorer data_frame distinct/uniq tests); the banding
design follows operators/dedup.py (same hash family, same band
construction) so a store written from a frame agrees bit-for-bit with
the in-memory pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

from .dedup import lsh_buckets, minhash_signatures, minhash_signature_struct_sql

META_VERSION = 1


def write_signature_store(
    sdf: SDF,
    path: str,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    lowercase: bool = False,
    mode: str = "overwrite",
) -> None:
    """Compute MinHash signatures + LSH band buckets for ``sdf`` and
    persist them under ``path``. ``mode="append"`` adds a new shard's
    rows to an existing store (parameters must match — validated
    against meta); ``"overwrite"`` (re)creates the store.

    Signatures come from dedup.minhash_signatures: map-only Arrow
    grams + one map-side-combined min-agg exchange of (key, k longs) —
    the corpus TEXT never enters a shuffle. Both tables write through
    ordinary distributed parquet writers — nothing funnels through the
    driver."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must divide into bands ({bands})")
    spark = sdf.sparkSession
    if mode == "append":
        meta = read_store_meta(spark, path)
        got = (meta["num_hashes"], meta["bands"], meta["shingle_n"], meta.get("lowercase", False))
        want = (num_hashes, bands, shingle_n, lowercase)
        if got != want:
            raise ValueError(
                f"signature store at {path!r} was written with "
                f"(num_hashes, bands, shingle_n, lowercase)={got}; appending with {want} "
                f"would silently break candidate recall — recreate the store "
                f"or match its parameters"
            )
    sig = minhash_signatures(
        sdf,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        key_col=key_col,
        lowercase=lowercase,
    ).withColumnRenamed(key_col, "key")
    # two consumers (signatures write + bucket derivation): pin so the
    # signature kernel executes once, not twice
    sig = sig.localCheckpoint(eager=False)
    buckets = lsh_buckets(
        sig, key_col="key", num_hashes=num_hashes, bands=bands
    )
    sig.write.mode(mode).parquet(f"{path}/signatures")
    buckets.write.mode(mode).partitionBy("band").parquet(f"{path}/buckets")
    if mode != "append":
        # single-partition literal row: coalesce(1) on a driver-local
        # relation costs a 4-8 s task on this runtime (measured), a
        # 1-partition range projection writes in ~0.5 s
        meta_df = spark.range(0, 1, 1, 1).select(
            F.lit("minhash_lsh").alias("kind"),
            F.lit(num_hashes).cast("int").alias("num_hashes"),
            F.lit(bands).cast("int").alias("bands"),
            F.lit(shingle_n).cast("int").alias("shingle_n"),
            F.lit(bool(lowercase)).alias("lowercase"),
            F.lit(META_VERSION).cast("int").alias("version"),
        )
        meta_df.write.mode("overwrite").parquet(f"{path}/meta")


_META_CACHE: dict = {}


def read_store_meta(spark, path: str) -> dict:
    """Store meta, cached per (path, meta-file fingerprint): the meta
    table is one immutable row per store write, but reading it costs a
    Spark job (~0.3 s) that every store-querying call would repeat. The
    fingerprint (listing of the meta dir's parquet files + mtimes)
    invalidates the cache when a store is rewritten in place; remote
    paths (no local listing) skip the cache."""
    import os as _os

    key = None
    try:
        meta_dir = f"{path}/meta"
        names = sorted(_os.listdir(meta_dir))
        fp = tuple((n, _os.stat(_os.path.join(meta_dir, n)).st_mtime_ns) for n in names)
        key = (path, fp)
    except OSError:
        pass
    if key is not None and key in _META_CACHE:
        return dict(_META_CACHE[key])
    row = spark.read.parquet(f"{path}/meta").collect()[0]
    meta = row.asDict()
    if key is not None:
        _META_CACHE[key] = dict(meta)
    return meta


def dedup_against_store(
    new_sdf: SDF,
    path: str,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.5,
) -> SDF:
    """Match a NEW shard against a persisted corpus store. Returns one
    row per (new_key, corpus_key) near-duplicate candidate that passes
    the estimated-Jaccard threshold:

        new_key, corpus_key, est_jaccard

    Plan shape (the scale contract, asserted by tests/test_scale.py):
    the store side is parquet SCAN + one equi-join on (band, bucket)
    plus one equi-join on key for the verify columns — no signature
    recomputation, no corpus text read, no cross join. New-shard work
    is the minhash_signatures kernel over the SHARD only."""
    spark = new_sdf.sparkSession
    meta = read_store_meta(spark, path)
    k, bands = meta["num_hashes"], meta["bands"]
    sig_cols = [f"mh{i}" for i in range(k)]
    new_sig = minhash_signatures(
        new_sdf,
        text_col=text_col,
        num_hashes=k,
        shingle_n=meta["shingle_n"],
        key_col=key_col,
        lowercase=meta.get("lowercase", False),
    ).select(F.col(key_col).alias("new_key"), *[F.col(c).alias(f"n_{c}") for c in sig_cols])
    # two consumers (banding + the verify join): pin the shard kernel
    new_sig = new_sig.localCheckpoint(eager=False)
    new_buckets = lsh_buckets(
        new_sig.select(F.col("new_key"), *[F.col(f"n_{c}").alias(c) for c in sig_cols]),
        key_col="new_key",
        num_hashes=k,
        bands=bands,
    )
    store_buckets = spark.read.parquet(f"{path}/buckets").withColumnRenamed("key", "corpus_key")
    cand = (
        new_buckets.join(store_buckets, ["band", "bucket"])
        .select("new_key", "corpus_key")
        .distinct()
    )
    store_sig = spark.read.parquet(f"{path}/signatures").withColumnRenamed("key", "corpus_key")
    # estimated Jaccard: fraction of equal signature components — the
    # unbiased MinHash estimator; verification never touches corpus text
    eq = sum(
        F.when(F.col(f"n_mh{i}") == F.col(f"mh{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        cand.join(new_sig, "new_key")
        .join(store_sig, "corpus_key")
        .select(
            "new_key",
            "corpus_key",
            (eq.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
    )


def filter_new_against_store(
    new_sdf: SDF,
    path: str,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.5,
) -> SDF:
    """The pipeline face: drop every new-shard document that near-dups
    anything already in the corpus (left_anti on the match keys), so the
    survivors can be appended to the store and the corpus."""
    matches = dedup_against_store(
        new_sdf, path, text_col=text_col, key_col=key_col, threshold=threshold
    )
    hit = matches.select(F.col("new_key").alias(key_col)).distinct()
    return new_sdf.join(hit, key_col, "left_anti")


def stream_dedup_against_store(
    stream_sdf: SDF,
    path: str,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.5,
) -> SDF:
    """Streaming face of ``dedup_against_store``: documents arriving on
    a stream match the persisted corpus via the STATELESS signature
    expression (dedup.minhash_signature_struct_sql — equal to the
    store's batch kernel) and stream-static equi-joins against the
    store's buckets and signatures. No mid-stream aggregation, no
    state: every micro-batch row either matches the corpus or passes.

    Returns the match stream (new_key, corpus_key, est_jaccard ≥
    threshold) — feed it to a sink, or anti-join it back per batch for
    the keep-side. Works identically on a batch frame (the Spark
    batch/stream API symmetry), which is how the test pins it to
    dedup_against_store's results."""
    spark = stream_sdf.sparkSession
    meta = read_store_meta(spark, path)
    k, bands = meta["num_hashes"], meta["bands"]
    rows_per_band = k // bands
    # two-step select: the struct projection evaluates the shingle fold
    # ONCE per row; the field projection after it is free
    sig = stream_sdf.select(
        F.col(key_col).alias("new_key"),
        minhash_signature_struct_sql(
            text_col,
            num_hashes=k,
            shingle_n=meta["shingle_n"],
            lowercase=meta.get("lowercase", False),
        ).alias("__mh__"),
    ).select(
        "new_key",
        *[F.col("__mh__")[f"m{i}"].alias(f"n_mh{i}") for i in range(k)],
    )
    entries = []
    for b in range(bands):
        parts = [F.col(f"n_mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    banded = sig.select(
        "new_key",
        *[F.col(f"n_mh{i}") for i in range(k)],
        F.explode(F.array(*entries)).alias("e"),
    ).select(
        "new_key",
        *[F.col(f"n_mh{i}") for i in range(k)],
        F.col("e.band").alias("band"),
        F.col("e.bucket").alias("bucket"),
    )
    store_buckets = spark.read.parquet(f"{path}/buckets").withColumnRenamed("key", "corpus_key")
    store_sig = spark.read.parquet(f"{path}/signatures").withColumnRenamed("key", "corpus_key")
    cand = banded.join(store_buckets, ["band", "bucket"]).select(
        "new_key", "corpus_key", *[F.col(f"n_mh{i}") for i in range(k)]
    )
    # a pair found via several bands would duplicate: distinct is an
    # aggregation (illegal mid-stream), so dedup on (keys, band) is left
    # to the consumer OR collapse by keeping band 0..n first match —
    # here we keep duplicates out by joining signatures and filtering,
    # then dropDuplicatesWithinWatermark/foreachBatch downstream can
    # collapse; for the batch face .distinct() applies directly.
    eq = sum(F.when(F.col(f"n_mh{i}") == F.col(f"mh{i}"), 1).otherwise(0) for i in range(k))
    out = (
        cand.join(store_sig, "corpus_key")
        .select(
            "new_key",
            "corpus_key",
            (eq.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
    )
    return out if stream_sdf.isStreaming else out.distinct()


def compact_signature_store(path: str, spark, target_partitions: int | None = None) -> None:
    """Rewrite the store's data tables to healthy file counts — the
    maintenance step after many shard appends (each append adds its own
    small files; a 100 TB store appended hourly accumulates thousands,
    and small files tax every scan's planning and open() costs).

    Reads and rewrites signatures/ and buckets/ through a staging
    directory, then swaps via rename-aside (old table moved out of the
    way, staging moved in, old copy dropped LAST) so a crash at any
    point leaves either the old or the new table live and the aside
    copy recoverable — never a deleted store. The swap is posix-only:
    non-local schemes (s3a://, hdfs://) are rejected up front; compact
    an object-store table by writing a new prefix and flipping the
    reader's path. Bucket partitioning (by band) is preserved.
    ``target_partitions`` defaults to max(spark default parallelism,
    current_rows / ~1M) — roughly 1M rows per output file."""
    import math
    import os
    import shutil
    import uuid
    from urllib.parse import urlparse

    scheme = urlparse(str(path)).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"compact_signature_store swaps directories on the local "
            f"filesystem; store path {path!r} has scheme {scheme!r}. "
            "Rewrite to a fresh prefix and repoint readers instead."
        )
    sig = spark.read.parquet(f"{path}/signatures")
    n = sig.count()
    if target_partitions is None:
        target_partitions = max(
            1, min(spark.sparkContext.defaultParallelism, math.ceil(n / 1_000_000))
        )
    stage = f"{path}/.compact-{uuid.uuid4().hex[:8]}"
    sig.repartition(target_partitions).write.parquet(f"{stage}/signatures")
    buckets = spark.read.parquet(f"{path}/buckets")
    buckets.repartition(target_partitions).write.partitionBy("band").parquet(f"{stage}/buckets")
    # rename-aside swap: never a window where the table is deleted and
    # its replacement absent — restore the aside copy if the move fails
    for tbl in ("signatures", "buckets"):
        live, fresh = f"{path}/{tbl}", f"{stage}/{tbl}"
        aside = f"{path}/.pre-compact-{tbl}-{uuid.uuid4().hex[:8]}"
        os.rename(live, aside)
        try:
            shutil.move(fresh, live)
        except BaseException:
            os.rename(aside, live)
            raise
        shutil.rmtree(aside)
    shutil.rmtree(stage, ignore_errors=True)
