"""Bucketed tables: shuffle-free co-located joins (the 100 TB join path).

At cluster scale the dominant cost of a big-fact ⋈ big-fact join is the
shuffle. Writing both sides bucketed by the join key
(``bucketBy(n, key).sortBy(key)``) lets Spark plan a SortMergeJoin with
NO Exchange on either side — each bucket pairs off locally. This module
wraps the write/read/verify cycle; `tests/test_scale.py` asserts the
exchange-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF, SparkSession

from ..sizing import estimate_bytes


def write_bucketed(
    sdf: SDF, table: str, key: str, buckets: int = 8, sort: bool = True, mode: str = "overwrite"
) -> None:
    spark = sdf.sparkSession
    # managed-table location can outlive the (in-memory) catalog entry
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").replace("file:", "")
    import shutil

    shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
    writer = sdf.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> SDF:
    return spark.table(table)


def cocated_join_plan_is_shuffle_free(spark: SparkSession, left: str, right: str, key: str) -> bool:
    """True when the bucketed-table join plans without any Exchange.

    Broadcast is disabled during the check: with a broadcastable side the
    planner ignores bucketing (correct at small scale); the point of
    bucketing is the big-⋈-big case, so that's what we assert.
    """
    import io
    from contextlib import redirect_stdout

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), key)
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        return "Exchange" not in plan and "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def salted_join(
    left: SDF, right: SDF, on: str, salt: int = 8, how: str = "inner", seed: int = 42
) -> SDF:
    """Equi-join with manual key salting for KNOWN skew: left rows get a
    random salt in [0, salt); the right side replicates each row ``salt``
    times. The hot key's rows then spread over ``salt`` reducers instead
    of one straggler. Use when AQE's skew-join can't help (e.g. the skew
    is in a single key so even split partitions stay hot, or the join is
    a broadcast-ineligible big-x-big).

    Only ``inner``/``left`` are supported: the right side is replicated
    ``salt`` times, so right/full outer would emit every unmatched right
    row once per salt value. The salt is seeded so the assignment is
    stable across plan re-analysis.

    Cost: |right| x salt replication — keep for skew-dominated joins
    where the right side is the smaller one. AQE remains the first
    choice; this is the explicit fallback Spark can't derive.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated right side would duplicate unmatched right rows"
        )
    l_s = left.withColumn("__salt__", (F.rand(seed) * salt).cast("int"))
    r_s = right.crossJoin(
        F.broadcast(left.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt__")))
    )
    out = l_s.join(r_s, [on, "__salt__"], how)
    return out.drop("__salt__")


def fan_out_small(sdf, min_factor: int = 2):
    """Repartition a frame whose scan yields fewer partitions than
    cores/min_factor (single-row-group files read as ONE split — parquet
    can't split inside a row group, so a heavy per-row pass such as an
    Arrow UDF or an md5 pipeline would run serially). Above the gate the
    scan's own splits already parallelize and no shuffle is added; below
    it the exchange is input-row-count sized and trivially cheap compared
    to the work it unlocks.

    Fan-out WIDTH (r12): derived from input BYTES (one partition per
    ~64 KB of the column-pruned estimate, clamped to [2, parallelism])
    instead of a flat ``repartition($cores)`` — the flat width made the
    downstream kernel's task count scale with the CORE count, so the
    same small corpus ran 32 near-empty kernel tasks on local[32] and 8
    on local[8] and measured FASTER at 8 (driver r11 scaling block:
    hamming 0.82). A byte-derived width is identical at any core count
    and sits at the measured optimum (width sweep at sf0.1, 32 cores:
    8-16 partitions beat both 4 and 32 by ~10-15%). When statistics are
    unavailable the old cores width applies; at scale the scan has many
    splits and this function no-ops entirely."""
    par = sdf.sparkSession.sparkContext.defaultParallelism
    gate = max(par // min_factor, 2)
    # The probe must see the PHYSICAL partitioning: a file count is NOT a
    # lower bound on scan splits (FileSourceScan bin-packs many small
    # files into few FilePartitions, and an upstream coalesce/repartition
    # is invisible to inputFiles()), so only rdd.getNumPartitions() — one
    # physical-planning pass per call — answers correctly. Callers invoke
    # this once per pipeline build, not per row/batch, so the planning
    # cost is bounded and the wrong-parallelism failure mode (a whole
    # md5/Arrow pipeline on 1-2 tasks) is far costlier.
    if sdf.rdd.getNumPartitions() < gate:
        est = estimate_bytes(sdf)
        width = par if est is None else max(2, min(par, -(-est // (64 * 1024))))
        return sdf.repartition(width)
    return sdf
