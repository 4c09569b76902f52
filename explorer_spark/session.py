"""SparkSession management for explorer_spark.

One shared session, configured for correctness-vs-oracle (UTC session
timezone, ANSI off to match permissive semantics) and local-mode
throughput (AQE, Arrow exchange, shuffle partitions sized to cores).

At cluster scale the same builder applies — only ``master`` and the
memory/shuffle sizing change; the engine never relies on local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "explorer_spark", cpus: str | int | None = None) -> SparkSession:
    """Return (building if needed) the shared SparkSession on
    ``local[cpus]`` (else ``SPARK_GRAFT_CPUS``, else the cores this
    process may use), with a driver heap of ``SPARK_GRAFT_DRIVER_MEM``
    (else 3/4 of physical memory, at most 48g, leaving room for the OS
    and the Python workers)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(48 << 10, phys_mb * 3 // 4)}m"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r12 (guide §2.2): post-shuffle partition COUNTS come from DATA
        # BYTES (advisory size), not from the core count — with the
        # default parallelismFirst=true, AQE refuses to coalesce below
        # local parallelism, so every tiny sf0.1 shuffle ran $CPUS
        # near-empty reduce tasks and queries measured FASTER at 8 cores
        # than 32 (driver r11 scaling block). Size-driven coalesce gives
        # the same partition count at any core count locally and the
        # guide's 64 MB-1 GB partitions at scale. Both are runtime SQL
        # confs: a deployment tunes them with spark.conf.set on the
        # returned session (tools/ab_conf.py A/Bs such settings).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark 4 defaults ANSI ON; the reference (and the DuckDB oracle)
        # are permissive — integer % or / by zero is NULL, not an error —
        # so the session must actually SET this off, not just intend it
        # (found in round 4: remainder-by-zero raised DIVIDE_BY_ZERO)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        # parquet TIMESTAMP(NANOS) is otherwise unreadable; read as int64
        # nanos and convert at the scan wrapper (SURVEY.md §1.2: ns -> us)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", heap)
        # G1 sizes its regions from the max heap; keep the 32 MB regions the
        # old fixed 48g heap had (a small heap's 8 MB regions made the verbs
        # benchmark's warm pass ~10% slower on a 4-core / 15 GB host)
        .config("spark.driver.defaultJavaOptions", "-XX:G1HeapRegionSize=32m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the 129-query bench generates ~4x the default 100 codegen cache
        # entries in one JVM; evicted entries re-compile (~0.5-2 s for the
        # fused-aggregate plans) on their next rep
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # r11: kernels pin intermediates with localCheckpoint; the blocks
        # free only when the ContextCleaner notices the RDD is dead, which
        # by default waits for a driver GC (or 30 min). A long bench/test
        # session otherwise accumulates dead checkpoint blocks in the
        # block manager until they surface as GC pauses in later queries.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
