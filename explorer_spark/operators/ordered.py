"""Distributed kernels for *global* (ungrouped) order-dependent ops.

The reference computes cumulative/rank/shift/fill on a single node
(lib/explorer/series.ex:2000-2330, 3104-3342 — Polars does one sorted
pass).  A naive Spark rendering is ``Window.partitionBy()`` — every row
moves to ONE task, which is fatal at scale.  These kernels render the
same semantics with bounded parallel stages:

1. **Global index** (`with_global_index`): range-repartition on the
   sort key, then derive each row's contiguous position from a fresh
   ``monotonically_increasing_id`` (assigned after the in-partition
   sort, so ids are per-partition contiguous) plus an exclusive prefix
   sum of per-partition counts.  The per-partition summary (#partitions
   rows) is collected to the DRIVER and re-emitted as a literal
   broadcast lookup — exactly the strategy of Spark's own
   ``RDD.zipWithIndex`` (core/rdd/ZippedWithIndexRDD.scala runs a
   count-per-partition job first).  The literal table keeps the plan
   tree shallow: the broadcast side is a LocalRelation, not a derived
   subplan, so chained kernels stay linear in plan size.
2. **Index buckets** (`idx div B`): sequential logic (cumulative, fill,
   lag/lead frames) runs in per-bucket windows — a hash exchange on the
   bucket id, uniform by construction, skew-proof.
3. **Cross-bucket combination**: unbounded ops (cumulative, fill, EWM)
   collect the tiny per-bucket summary (ceil(n / B) rows) and attach
   the driver-computed prefix back (`_attach`: constant arrays, or a
   literal broadcast past ARRAY_LOOKUP_MAX keys); bounded ops
   (shift, peaks, rolling) duplicate the <= k boundary rows into the
   neighbour bucket and drop them after (`with_boundary_context`).
4. **Value rank**: one distinct-value kernel (`value_ranks`). Any
   number of same-typed columns melt into one ``(column id, value,
   count)`` table (`_value_counts`); one prefix pass over it
   (`_value_prefix`: a per-column window when summary-sized, else the
   range-partition + driver per-partition-offset pattern of 1) yields
   count-prefix and dense position; every min/max/average/dense rank
   derives from those (`_rank_expr`) before one equi-join back per
   column, so ties need no colocation. The whole-frame quantile
   fallback reads the same prefix (`_cum_value_counts`).

The only sequential work anywhere is a driver loop over summary rows
whose count is #partitions or ceil(n / 2^18) — the same bound Spark
itself accepts for ``zipWithIndex``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import DataFrame as SDF
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Rows per index bucket. Big enough that the per-bucket summary table is
# tiny even at 10^12 rows; small enough that sf0.1 still fans out.
# Tests shrink it to force multi-bucket paths on small data.
BUCKET_SIZE = 1 << 18

BUCKET = "__bkt__"
CTX = "__ctx__"


def bucket_size_for(n: int | None) -> int:
    """Adaptive index-bucket width for the driver-summary kernels.

    ``max(BUCKET_SIZE, ceil(n / (32 * parallelism)))``: the per-bucket
    summary the driver collects stays O(cores) at ANY row count (a fixed
    2^18 width would collect ~4M summary rows at 10^12 rows — bounded,
    but needlessly large). Callers that don't know ``n`` pass None and
    keep the fixed floor; tests that shrink ``BUCKET_SIZE`` still win
    because small ``n`` keeps the adaptive term below the floor."""
    if not n or n <= 0:
        return BUCKET_SIZE
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    par = spark.sparkContext.defaultParallelism if spark is not None else 32
    return max(BUCKET_SIZE, -(-n // (32 * max(par, 1))))


def _lookup_df(spark, rows: list[tuple], fields: list[T.StructField]) -> SDF:
    """A driver-built lookup table for broadcast joins, sliced by ROWS
    (createDataFrame's default parallelizes into $cores slices, so every
    stage reading a few-thousand-row lookup schedules $cores near-empty
    tasks)."""
    nsl = max(1, -(-len(rows) // (1 << 18)))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, nsl), T.StructType(fields)
    )


# Above this many summary entries the constant-array projection gives way
# to a broadcast join (a plan-constant array of ~64k longs is fine; tens
# of millions would bloat the plan).
ARRAY_LOOKUP_MAX = 1 << 16

# Value-statistic ranks need an ordered prefix over the DISTINCT-value
# table. When the FRAME row count (an upper bound on distinct values,
# and metadata-fast to get for parquet-backed frames) is below this, the
# table is "summary-sized": one hash-partitioned window (+ broadcast
# join-back) beats the full range-shuffle/checkpoint/stats-job kernel by
# ~3x in fixed cost; above it the distributed kernel takes over.
# 2^17, not higher: the small path puts a column's WHOLE distinct table
# in ONE window task, and the frame-row gate can't see uniqueness — a
# near-unique 600k-value column under a 2^21 gate ran a 583k-row
# single-task window and LOST to the distributed kernel ~2x (measured
# sf0.1 spearman: small 3.6s vs big 2.0s cold). At 2^17 the worst-case
# single task is ~0.1-0.3s, and genuinely small frames keep the cheap path.
SMALL_VALS_MAX = 1 << 17

# Broadcast budget for rank join-back tables (value + rank + row
# overhead): force the broadcast hint only when the MEASURED estimate
# fits — comfortably under the session's 64 MB autoBroadcastJoinThreshold
# and orders of magnitude under the 8 GB broadcast hard cap. Row counts
# alone can't gate this (2M distinct wide strings != 2M distinct longs).
BC_BYTES_MAX = 48 * 1024 * 1024


def _rank_small_ok(n_distinct: int, est_bytes: int | None, approx: bool = False) -> bool:
    """May this column's value table take :func:`_value_prefix`'s
    single-window small path (:func:`value_ranks` asks once per column)?
    Beyond the unconditional SMALL_VALS_MAX, allow it up to the
    BROADCAST bound (2^21 rows AND estimated bytes under BC_BYTES_MAX):
    a rank table the pipeline is prepared to hand every executor as a
    broadcast is by the same argument small enough for one window task —
    which replaces the range-sample + shuffle + checkpoint + stats-job
    kernel (3 driver barriers) with zero extra jobs. So forcing the range
    kernel on a test-sized table takes BOTH gates zeroed. ``approx``
    shaves 10% off the row bound to absorb approx_count_distinct's
    error; a mis-route in either direction is still CORRECT, only
    differently priced."""
    if n_distinct <= SMALL_VALS_MAX:
        return True
    bound = int(0.9 * (1 << 21)) if approx else (1 << 21)
    return n_distinct <= bound and est_bytes is not None and est_bytes <= BC_BYTES_MAX

# Below this many rows a global row index comes from one single-partition
# sort (deterministic — the sort keys are total orders) instead of the
# range-shuffle + checkpoint + stats-job kernel: ~3 fewer jobs and no
# plan-to-RDD checkpoint compile, which dominate small/mid frames.
SMALL_INDEX_MAX = 1 << 17


def _attach(sdf: SDF, keys: list[str], rows: dict, fields: list[T.StructField]) -> SDF:
    """Attach driver-computed ``fields`` to every row of ``sdf`` by the
    value of its ``keys`` columns. ``rows`` maps a key (a tuple when
    there are several key columns) to one value tuple in ``fields``
    order; a key absent from ``rows`` reads null.

    One key column is a dense 0-based id (partition, bucket or slot
    number): up to ARRAY_LOOKUP_MAX ids each field becomes a
    constant-array projection ``values[key]`` — no extra DataFrame, no
    broadcast exchange, pure codegen. Past that, or with several key
    columns (a grouped kernel's group values + bucket), the rows become
    a literal broadcast table (:func:`_lookup_df`) matched on null-safe
    keys: a null group key is a real group."""
    if len(keys) == 1 and max(rows, default=-1) < ARRAY_LOOKUP_MAX:
        ids = range(1 + max(rows, default=-1))
        key = F.col(keys[0]).cast("int")
        return sdf.withColumns(
            {
                f.name: F.get(F.array(*[F.lit(rows[i][j] if i in rows else None).cast(f.dataType) for i in ids]), key)
                for j, f in enumerate(fields)
            }
        )
    tmp = [f"__key{i}__" for i in range(len(keys))]
    lut = _lookup_df(
        sdf.sparkSession,
        [(k if len(keys) > 1 else (k,)) + tuple(v) for k, v in rows.items()],
        [T.StructField(t, sdf.schema[k].dataType) for t, k in zip(tmp, keys)] + fields,
    )
    cond = F.col(keys[0]).eqNullSafe(lut[tmp[0]])
    for k, t in zip(keys[1:], tmp[1:]):
        cond = cond & F.col(k).eqNullSafe(lut[t])
    return sdf.join(F.broadcast(lut), cond, "left").drop(*tmp)


def _prefix_scan(vals: list, kind: str, reverse: bool = False) -> list:
    """Exclusive null-skipping prefix of per-bucket totals (driver side;
    the list is bounded by the bucket count)."""
    import operator

    op = {
        "sum": operator.add,
        "count": operator.add,
        "product": operator.mul,
        "min": min,
        "max": max,
    }[kind]
    src = list(reversed(vals)) if reverse else vals
    out, running = [], None
    for v in src:
        out.append(running)
        if v is not None:
            running = v if running is None else op(running, v)
    return list(reversed(out)) if reverse else out


def with_global_index(
    sdf: SDF,
    keys: list[Column],
    name: str,
    aligned: bool = False,
    total_col: str | None = None,
    stats_out: dict | None = None,
    n_hint: int | None = None,
    skip_probe: bool = False,
) -> SDF:
    """Attach a contiguous 0-based position ordered by ``keys``.

    ``aligned=True`` promises the physical partition layout already
    matches ``keys`` (ascending partition id == ascending key) and skips
    the range shuffle.  ``total_col`` additionally attaches the total
    row count to every row (a literal — known from the same stats job).
    """
    # small frames: one deterministic single-partition sort, no range
    # sampling pass, no checkpoint, no stats job. The keys passed here
    # are always total orders (ORDER_COL participates), so the ids are
    # reproducible across re-executions without pinning. count() is
    # metadata-fast on parquet-backed frames; the threshold bounds the
    # single task like every driver-summary gate in this module.
    # probe with a limit, not a full count: above the threshold a bare
    # count() would fully execute an arbitrary upstream plan just to
    # discard the number (only bare parquet scans count from metadata);
    # the limit short-circuits. At or under the threshold the probe IS
    # the exact count.
    # ``n_hint``: exact row count already known (kernel stats upstream) —
    # reuse it. ``skip_probe``: the plan contains a global sort (limit
    # cannot short-circuit it), so probing would execute the sort just to
    # count; go straight to the big path, whose stats job yields n anyway.
    if n_hint is not None:
        n = n_hint
    elif skip_probe:
        n = SMALL_INDEX_MAX + 1  # unknown: assume large
    else:
        n = sdf.limit(SMALL_INDEX_MAX + 1).count()
    if stats_out is not None and n <= SMALL_INDEX_MAX:
        stats_out["n"] = n
    if n <= SMALL_INDEX_MAX:
        # repartition (not coalesce): coalesce(1) would collapse the whole
        # upstream stage into one task; an exchange of <=SMALL_INDEX_MAX
        # rows keeps upstream parallelism and the sort restores order
        s = sdf.repartition(1).sortWithinPartitions(*keys)
        s = s.withColumn(name, F.monotonically_increasing_id())
        if total_col is not None:
            s = s.withColumn(total_col, F.lit(n).cast("long"))
        return s
    # aligned=True promises rows are already physically ordered by keys
    # (e.g. right after a global sort) — the local re-sort would be a no-op
    # Spark can't prove away, so skip it entirely
    s = sdf if aligned else sdf.repartitionByRange(*keys).sortWithinPartitions(*keys)
    # fresh id AFTER the sort: per-partition contiguous, iteration order
    s = s.withColumn("__mono__", F.monotonically_increasing_id())
    s = s.withColumn("__pid__", F.spark_partition_id())
    # pin before the stats job: the ids are nondeterministic, so the
    # offsets collected below are only valid against THIS materialization.
    # localCheckpoint (not persist): ~2x cheaper to build than the columnar
    # cache, auto-freed by the ContextCleaner once unreferenced (persist
    # entries pile up in the CacheManager and slow every later plan
    # analysis), and on partition loss it fails loudly instead of silently
    # recomputing different ids.
    s = s.localCheckpoint(eager=False)
    stats = s.groupBy("__pid__").agg(
        F.count(F.lit(1)).alias("__cnt__"), F.min("__mono__").alias("__mn__")
    ).collect()
    stats.sort(key=lambda r: r["__pid__"])
    offs, off = {}, 0
    for r in stats:
        offs[r["__pid__"]] = (off, r["__mn__"])
        off += r["__cnt__"]
    s = _attach(
        s, ["__pid__"], offs, [T.StructField("__off__", T.LongType()), T.StructField("__mn__", T.LongType())]
    )
    s = s.withColumn(name, (F.col("__off__") + (F.col("__mono__") - F.col("__mn__"))).cast("long"))
    if total_col is not None:
        s = s.withColumn(total_col, F.lit(off).cast("long"))
    if stats_out is not None:
        stats_out["n"] = off
    return s.drop("__pid__", "__mono__", "__off__", "__mn__")


# ---------------------------------------------------------------------------
# unbounded ops: cumulative aggregates & fill
# ---------------------------------------------------------------------------

_CUM_AGG = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "product": F.product,
    "count": F.count,
}


def _ns_add(a: Column, b: Column) -> Column:
    return F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
        F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
    )


def _ns_mul(a: Column, b: Column) -> Column:
    return F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
        F.coalesce(a, F.lit(1.0)) * F.coalesce(b, F.lit(1.0))
    )


_CUM_COMBINE = {
    "sum": _ns_add,
    "min": F.least,
    "max": F.greatest,
    "product": _ns_mul,
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
}


def cumulative(
    sdf: SDF,
    idx_col: str,
    value_col: str,
    out_col: str,
    kind: str,
    reverse: bool = False,
    n_hint: int | None = None,
) -> SDF:
    """Global cumulative sum/min/max/product/count over index order.

    Local per-bucket window + a driver-computed exclusive prefix of the
    per-bucket totals (bounded: ceil(n / bucket width) rows, and the
    width adapts to ``n_hint`` so the summary stays O(cores)) joined
    back as a literal broadcast."""
    aggfn = _CUM_AGG[kind]
    s = sdf.withColumn(BUCKET, F.floor(F.col(idx_col) / F.lit(bucket_size_for(n_hint))))
    # pin before the driver summary: the frame is consumed twice (the
    # per-bucket collect below + the returned plan), and without the pin
    # an arbitrary upstream chain re-executes per consumption — chained
    # kernels would multiply upstream cost (review r4)
    s = s.localCheckpoint(eager=False)
    order = F.col(idx_col).desc() if reverse else F.col(idx_col).asc()
    w = W.partitionBy(BUCKET).orderBy(order).rowsBetween(W.unboundedPreceding, 0)
    local = aggfn(F.col(value_col)).over(w)
    per = s.groupBy(BUCKET).agg(aggfn(F.col(value_col)).alias("__tot__"))
    tot_type = per.schema["__tot__"].dataType
    rows = per.collect()
    rows.sort(key=lambda r: r[BUCKET])
    pre = _prefix_scan([r["__tot__"] for r in rows], kind, reverse=reverse)
    s = _attach(
        s.withColumn("__loc__", local),
        [BUCKET],
        {r[BUCKET]: (p,) for r, p in zip(rows, pre)},
        [T.StructField("__pre__", tot_type)],
    )
    combined = _CUM_COMBINE[kind](F.col("__loc__"), F.col("__pre__"))
    if kind == "product":
        # Spark's PRODUCT always emits double; integer series keep their
        # dtype (series.ex cumulative_product doctest: s64)
        vt = s.schema[value_col].dataType
        if isinstance(vt, T.IntegralType):
            combined = combined.cast(vt)
    if kind != "count":
        # nil positions STAY nil; accumulation skips them (series.ex
        # cumulative_* doctests: [1, 2, nil, 4] -> [1, 3, nil, 7])
        combined = F.when(F.col(value_col).isNotNull(), combined)
    s = s.withColumn(out_col, combined)
    return s.drop(BUCKET, "__loc__", "__pre__")


def fill_missing(
    sdf: SDF,
    idx_col: str,
    value_col: str,
    out_col: str,
    backward: bool = False,
    n_hint: int | None = None,
) -> SDF:
    """Global forward/backward non-null carry over index order."""
    s = sdf.withColumn(BUCKET, F.floor(F.col(idx_col) / F.lit(bucket_size_for(n_hint))))
    s = s.localCheckpoint(eager=False)  # consumed twice — see cumulative()
    order = F.col(idx_col).desc() if backward else F.col(idx_col).asc()
    w = W.partitionBy(BUCKET).orderBy(order).rowsBetween(W.unboundedPreceding, 0)
    local = F.last(F.col(value_col), ignorenulls=True).over(w)
    # per-bucket carry value: the bucket's latest (earliest, if backward)
    # non-null value; null-key rows are ignored by max_by/min_by
    pickfn = F.min_by if backward else F.max_by
    per = s.groupBy(BUCKET).agg(
        pickfn(F.col(value_col), F.when(F.col(value_col).isNotNull(), F.col(idx_col))).alias("__lv__")
    )
    lv_type = per.schema["__lv__"].dataType
    rows = per.collect()
    rows.sort(key=lambda r: r[BUCKET], reverse=backward)
    carries, running = {}, None
    for r in rows:
        carries[r[BUCKET]] = (running,)
        if r["__lv__"] is not None:
            running = r["__lv__"]
    s = _attach(s.withColumn("__loc__", local), [BUCKET], carries, [T.StructField("__pv__", lv_type)])
    s = s.withColumn(out_col, F.coalesce(F.col("__loc__"), F.col("__pv__")))
    return s.drop(BUCKET, "__loc__", "__pv__")


# ---------------------------------------------------------------------------
# bounded ops: shift / peaks / rolling windows via boundary duplication
# ---------------------------------------------------------------------------


def with_boundary_context(sdf: SDF, idx_col: str, need_before: int, need_after: int) -> SDF:
    """Bucket rows by index and duplicate the <= k rows adjacent to each
    bucket boundary into the neighbouring bucket (flagged ``__ctx__``),
    so any window frame spanning [-need_before, +need_after] rows is
    exact inside a single bucket.  Callers compute their windows with
    ``Window.partitionBy(BUCKET).orderBy(idx)`` and then call
    ``strip_boundary_context``."""
    b = BUCKET_SIZE
    while need_before >= b or need_after >= b:
        b *= 2
    bkt = F.floor(F.col(idx_col) / F.lit(b))
    pos = F.col(idx_col) % F.lit(b)
    base = sdf.withColumn(BUCKET, bkt).withColumn(CTX, F.lit(False))
    parts = [base]
    if need_before > 0:
        parts.append(
            sdf.filter(pos >= F.lit(b - need_before))
            .withColumn(BUCKET, bkt + 1)
            .withColumn(CTX, F.lit(True))
        )
    if need_after > 0:
        parts.append(
            sdf.filter(pos < F.lit(need_after)).withColumn(BUCKET, bkt - 1).withColumn(CTX, F.lit(True))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def strip_boundary_context(sdf: SDF) -> SDF:
    return sdf.filter(~F.col(CTX)).drop(BUCKET, CTX)


# ---------------------------------------------------------------------------
# rank: one distinct-value kernel
# ---------------------------------------------------------------------------


def _value_counts(sdf: SDF, cols: list[str]) -> SDF:
    """The ``(__cid__, __v__, __c__)`` melt: one row per column id and
    distinct non-null value, with its row count — one map-combined
    groupBy, memory bounded by distinct values per task, never rows.
    Nulls are left out, so non-null prefixes are unshifted and a left
    join back reports nil for null rows (reference rank/2 keeps nils as
    nil without consuming ranks). ``cols`` share one Spark type (the
    melt array is uniform)."""
    melted = sdf.select(F.posexplode(F.array(*[F.col(c) for c in cols])).alias("__cid__", "__v__"))
    return (
        melted.filter(F.col("__v__").isNotNull())
        .groupBy("__cid__", "__v__")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )


def _value_prefix(vals: SDF, key: Column, small: bool) -> SDF:
    """Add ``__lc__`` (inclusive row-count prefix: rows whose value is at
    or before this one in ``key`` order) and ``__dp__`` (0-based dense
    position) within each column id of a :func:`_value_counts` table.

    ``small`` (a summary-sized table): one window partitioned by
    ``__cid__`` — a deliberate one-task-per-column window, bounded like
    every driver summary here, with no range sampling pass, checkpoint
    or stats job. ``__cid__`` comes out of the posexplode, so it is not
    foldable and WindowExec stays keyed even for one column. Otherwise
    the distributed kernel: range-partition on ``(cid, key)``, pin the
    nondeterministic ids, one stats job, per-(partition, column) offsets
    accumulated on the driver and attached back by :func:`_attach`."""
    if small:
        w = W.partitionBy("__cid__").orderBy(key)
        return vals.withColumn(
            "__lc__", F.sum("__c__").over(w.rowsBetween(W.unboundedPreceding, 0))
        ).withColumn("__dp__", F.row_number().over(w) - 1)
    cid = F.col("__cid__").asc()
    v = vals.repartitionByRange(cid, key).sortWithinPartitions(cid, key)
    v = v.withColumn("__mono__", F.monotonically_increasing_id())
    v = v.withColumn("__vpid__", F.spark_partition_id())
    v = v.localCheckpoint(eager=False)  # pin nondeterministic ids before the stats job
    stats = v.groupBy("__vpid__", "__cid__").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.min("__mono__").alias("__mn__"),
        F.sum("__c__").alias("__t__"),
    ).collect()
    nc = 1 + max((r["__cid__"] for r in stats), default=0)
    # accumulate each column's prefixes over its partitions in range order
    stats.sort(key=lambda r: (r["__cid__"], r["__vpid__"]))
    offs: dict = {}  # slot -> (dense offset, min mono id, row-count offset)
    run: dict = {}
    for r in stats:
        c, p = r["__cid__"], r["__vpid__"]
        d0, c0 = run.get(c, (0, 0))
        offs[p * nc + c] = (d0, r["__mn__"], c0)
        run[c] = (d0 + r["__n__"], c0 + r["__t__"])
    w = W.partitionBy("__vpid__", "__cid__").orderBy("__mono__").rowsBetween(W.unboundedPreceding, 0)
    v = v.withColumns({"__lc__": F.sum("__c__").over(w), "__slot__": F.col("__vpid__") * nc + F.col("__cid__")})
    names = ("__doff__", "__vmn__", "__coff__")
    v = _attach(v, ["__slot__"], offs, [T.StructField(n, T.LongType()) for n in names])
    v = v.withColumns(
        {
            "__lc__": F.col("__coff__") + F.col("__lc__"),
            "__dp__": F.col("__doff__") + (F.col("__mono__") - F.col("__vmn__")),
        }
    )
    return v.drop("__mono__", "__vpid__", "__slot__", *names)


def _rank_expr(method: str) -> Column:
    """A value-statistic rank from the :func:`_value_prefix` columns."""
    lc, c = F.col("__lc__"), F.col("__c__")
    if method == "min":
        return (lc - c + 1).cast("long")
    if method == "max":
        return lc.cast("long")
    if method == "average":
        return (2 * lc - c + 1).cast("double") / 2.0
    if method == "dense":
        return (F.col("__dp__") + 1).cast("long")
    raise NotImplementedError(f"rank method {method!r}")


def value_ranks(
    sdf: SDF,
    specs: dict[str, dict[str, str]],
    descending: bool = False,
    n_hint: int | None = None,
) -> SDF:
    """Global value-statistic ranks (reference series.ex rank/2 methods
    min/max/average/dense) of one or more columns in ONE kernel pass.

    ``specs``: source column -> {out column: method}; an out column may
    replace its source (the spearman path ranks in place). All sources
    share ONE Spark type (callers cast first if they accept the loss).
    The frame never range-shuffles: the sources melt into one
    distinct-value table (:func:`_value_counts`), one prefix pass over it
    (:func:`_value_prefix`) yields count, count-prefix and dense
    position, every requested method derives from those three, and each
    source equi-joins its slice back on the value — ties need no
    colocation. Null values rank as nil.

    Routing: a caller-known exact row count ``n_hint`` at or under
    SMALL_VALS_MAX bounds every column's table, so all columns take the
    small path with a broadcast join-back. Otherwise ONE map-combined
    approx probe (routing only, never results) measures each column's
    distinct count and bytes; :func:`_rank_small_ok` routes each column
    small or big, and the join-back broadcasts only a column whose
    estimated bytes fit BC_BYTES_MAX (row count alone must not force a
    wide-string broadcast)."""
    cols = list(specs)
    nc = len(cols)
    dts = {sdf.schema[c].dataType.simpleString() for c in cols}
    assert len(dts) == 1, f"value_ranks requires one shared dtype, got {dts}"
    rank_cols = {m: _rank_expr(m) for outs in specs.values() for m in outs.values()}
    key = F.col("__v__").desc() if descending else F.col("__v__").asc()
    vals = _value_counts(sdf, cols)
    if n_hint is not None and n_hint <= SMALL_VALS_MAX:
        small = bc = set(range(nc))
    else:
        var_width = not isinstance(
            sdf.schema[cols[0]].dataType,
            (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType),
        )
        aggs = [F.approx_count_distinct(c).alias(f"__nd{i}__") for i, c in enumerate(cols)]
        if var_width:
            # per-ROW byte sums: upper bounds on the distinct-value bytes,
            # so they can only under-broadcast (the safe direction)
            aggs += [
                F.sum(F.octet_length(F.col(c).cast("binary"))).alias(f"__b{i}__")
                for i, c in enumerate(cols)
            ]
        stat = sdf.select(*cols).agg(*aggs).collect()[0]
        nd = [stat[f"__nd{i}__"] or 0 for i in range(nc)]
        ebytes = [
            ((stat[f"__b{i}__"] or 0) if var_width else 8 * nd[i]) + 16 * nd[i] for i in range(nc)
        ]
        small = {i for i in range(nc) if _rank_small_ok(nd[i], ebytes[i], approx=True)}
        bc = {i for i in range(nc) if ebytes[i] <= BC_BYTES_MAX}
    big = set(range(nc)) - small
    # pin the melt when it has more than one consumer: each small
    # column's join-back is its own plan branch, and the big kernel's
    # range exchange samples its child before shuffling it
    if len(small) + 2 * bool(big) > 1:
        vals = vals.localCheckpoint(eager=False)
    tables = {}
    for is_small, ids in ((True, small), (False, big)):
        if ids:
            part = vals if len(ids) == nc else vals.filter(F.col("__cid__").isin(sorted(ids)))
            rv = _value_prefix(part, key, is_small).select(
                "__cid__",
                F.col("__v__").alias("__vv__"),
                *[e.alias(f"__rk_{m}__") for m, e in rank_cols.items()],
            )
            tables.update(dict.fromkeys(ids, rv))
    out, tmp = sdf, {}
    for i, c in enumerate(cols):
        rvi = tables[i].filter(F.col("__cid__") == i).select(
            "__vv__",
            *[F.col(f"__rk_{m}__").alias(f"__rk{i}_{m}__") for m in dict.fromkeys(specs[c].values())],
        )
        if i in bc:
            rvi = F.broadcast(rvi)
        out = out.join(rvi, F.col(c).eqNullSafe(F.col("__vv__")), "left").drop("__vv__")
        tmp.update({o: f"__rk{i}_{m}__" for o, m in specs[c].items()})
    # temp names + withColumns so an out column may replace its source
    out = out.withColumns({o: F.col(t) for o, t in tmp.items()})
    return out.drop(*set(tmp.values()))


def global_rank(
    sdf: SDF,
    order_col: str | None,
    value_col: str,
    out_col: str,
    method: str = "ordinal",
    descending: bool = False,
    seed: int | None = None,
) -> SDF:
    """One global rank column (reference series.ex rank/2). ordinal and
    random need per-row positions and go through the full-frame global
    index (ties broken by ``order_col`` or a seeded draw); the value
    statistics go through :func:`value_ranks`."""
    c = F.col(value_col)
    # nulls order LAST so non-null rows take ranks 1..n_valid, then the
    # mask nils them out (series_test.exs rank-with-nan grid)
    key = c.desc_nulls_last() if descending else c.asc_nulls_last()
    if method == "random":
        s = sdf.withColumn("__rnd__", F.rand(seed))
        tie = [F.col("__rnd__").asc()]
    elif method == "ordinal":
        s = sdf
        tie = [F.col(order_col).asc()] if order_col is not None else []
    else:
        return value_ranks(sdf, {value_col: {out_col: method}}, descending)
    s = with_global_index(s, [key] + tie, name="__rk__")
    return s.withColumn(
        out_col, F.when(c.isNotNull(), (F.col("__rk__") + 1).cast("long"))
    ).drop("__rk__", "__rnd__")


# ---------------------------------------------------------------------------
# global EWM: one affine-state scan, composed across index buckets
# ---------------------------------------------------------------------------
#
# Every adjust/ignore_nils family of pandas' ewm (NaN == missing,
# bias=False variance) is one first-order recurrence over four channels:
# the sum of weights SW, the weighted sum SWX, the weighted sum of
# squares SWX2 and the sum of squared weights SW2. A valid x that comes
# g positions after the previous valid one steps the state AFFINELY,
# with multipliers that do not depend on the values (c = 1 - alpha):
#
#   SW'   = m*SW    + u          adjust=True:  m = c^g,         u = 1
#   SWX'  = m*SWX   + u*x        adjust=False: m = c^g/(c^g+a), u = a/(c^g+a)
#   SWX2' = m*SWX2  + u*x^2
#   SW2'  = m^2*SW2 + u^2
#
# The first valid value starts the state at (1, x, x^2, 1), which is the
# same step with c^g = 0. g is 1 under ignore_nils (the compacted valid
# sequence). adjust=True without ignore_nils decays every row by c
# instead: a held state shrinks alike in every channel, and the outputs
# are ratios, so they are unchanged:
#
#   mean = SWX/SW,  var = max(SWX2/SW - mean^2, 0) * SW^2/(SW^2 - SW2)
#
# Affine maps compose, so the scan runs bucket-parallel (a bucketed
# prefix scan):
#   1. one pandas pass per index bucket (a uniform hash exchange on the
#      bucket id) emits per row the multiplier A (the product of the m;
#      SW2 takes A^2) and the zero-seeded run B. Where a bucket cannot
#      tell whether a valid value came before it (adjust=False under
#      ignore_nils) it also emits the fresh run U, seeded by the
#      bucket's first valid value;
#   2. the bucket end states compose sequentially on the DRIVER
#      (ceil(n/B) rows, plus one per group boundary when grouped) into
#      each bucket's incoming carry, attached back by :func:`_attach`;
#   3. a row's state is A*carry + B, or U (B where there is no U) when no
#      valid value came before its bucket.
# Where m is constant the pass scans vectorized (`_geo_scan`). The one
# family whose m depends on the gap (adjust=False without ignore_nils)
# reads each bucket's previous valid index from a pre-pass and loops.
# c^g underflows to exactly 0.0 for huge gaps in both engines: m=0, u=1
# is then an exact state reset, same as pandas.

_EWM_CH = ("sw", "swx", "swx2", "sw2")


def _geo_scan(x, c):
    """y_t = c*y_{t-1} + x_t as a chunked closed form (vectorized; chunk
    sized so c^-chunk cannot overflow)."""
    import math as _math

    import numpy as np

    n = len(x)
    out = np.empty(n, dtype="float64")
    if c <= 0.0:  # alpha == 1: y_t = x_t
        return x.astype("float64")
    # invc = (1/c)^(chunk-1) must stay finite: exponent bound 300 < 308
    chunk = 128 if c >= 0.02 else max(1, int(300.0 / -_math.log10(c)))
    powc = c ** np.arange(1, chunk + 1, dtype="float64")
    invc = (1.0 / c) ** np.arange(chunk, dtype="float64")
    carry = 0.0
    for s in range(0, n, chunk):
        xa = x[s : s + chunk]
        k = len(xa)
        local = np.cumsum(xa * invc[:k]) * (powc[:k] / c)
        y = local + powc[:k] * carry
        out[s : s + k] = y
        carry = y[-1]
    return out


def _ewm_scan(x, idx, a: float, adjust: bool, ignore_nils: bool, nch: int, prev: int):
    """One EWM family over one bucket's rows in index order: ``x`` the
    values (NaN where missing), ``idx`` their indexes, ``nch`` the
    channels kept (2 for a mean, 4 with the squared ones), ``prev`` the
    index of the last valid value before the bucket (-1: none; read only
    by the gap-dependent family). Returns ``(A, B, U)``: the per-row
    multiplier, then the zero-seeded and the fresh run as one array per
    channel; U is None where it equals B."""
    import numpy as np

    c = 1.0 - a
    valid = ~np.isnan(x)
    ratios = (c, c, c, c * c)

    def terms(w, xv):
        return (w, w * xv, w * xv * xv, w * w)[:nch]

    if ignore_nils:
        k = np.cumsum(valid)
        xv = x[valid]

        def run(first):
            w = np.full(len(xv), 1.0 if adjust else a)
            w[:1] = first
            return [np.concatenate([[0.0], _geo_scan(t, r)])[k] for t, r in zip(terms(w, xv), ratios)]

        return c**k, run(1.0 if adjust else a), None if adjust else run(1.0)
    if adjust:
        B = [_geo_scan(t, r) for t, r in zip(terms(valid.astype("float64"), np.where(valid, x, 0.0)), ratios)]
        return c ** np.arange(1, len(x) + 1, dtype="float64"), B, None
    A, B = np.ones(len(x)), [np.zeros(len(x)) for _ in range(nch)]
    mult, st, last = 1.0, [0.0] * 4, prev
    vpos = np.flatnonzero(valid)
    for j, end in zip(vpos, [*vpos[1:], len(x)]):
        i, xj = int(idx[j]), float(x[j])
        cg = c ** (i - last) if last >= 0 else 0.0
        m, u = cg / (cg + a), a / (cg + a)
        mult *= m
        st = [m * st[0] + u, m * st[1] + u * xj, m * st[2] + u * xj * xj, m * m * st[3] + u * u]
        # the state holds from this valid row to the next one
        A[j:end] = mult
        for ch in range(nch):
            B[ch][j:end] = st[ch]
        last = i
    return A, B, None


def ewm_global(
    sdf: SDF,
    idx_col: str,
    specs: dict,
    n_hint: int | None = None,
    group_cols: list[str] | None = None,
) -> SDF:
    """Distributed EWM over index order: every adjust/ignore_nils family
    through the one affine-state scan above, in one local pass, one
    driver combine and one carry attach.

    specs: out_name -> (kind, src_col, alpha, adjust[, ignore_nils]),
    kind in {mean, variance, standard_deviation}. ``ignore_nils=True``
    (the reference default, lib/explorer/series.ex:5325) skips nulls
    entirely; False matches pandas ``ignore_na=False`` (weights decay by
    absolute position). Rows before the first valid value are nil; a
    variance is 0.0 from the first valid value on (reference
    ewm_variance doctest series.ex:5449; pandas' ddof NaN diverges).

    ``group_cols``: the per-GROUP face (the giant-group path of grouped
    ewm, rolling.ewm_columns): ``idx_col`` must then be a contiguous
    0-based index WITHIN each group, every pass keys on (group, bucket),
    and the driver combine resets its state at each group boundary. The
    caller routes only groups larger than the giant-group gate here, so
    the (group, bucket) carry rows stay bounded by n/bucket_width +
    n/gate."""
    import pandas as pd

    gcols = list(group_cols or [])
    keycols = gcols + [BUCKET]
    specs = {o: (t + (True,) if len(t) == 4 else t) for o, t in specs.items()}
    # one family per (src, alpha, adjust, ignore_nils); the squared
    # channels only where a variance or std asks for them
    nch: dict = {}
    for kind, src, a, adj, ign in specs.values():
        fam = (src, float(a), bool(adj), bool(ign))
        nch[fam] = max(nch.get(fam, 2), 2 if kind == "mean" else 4)
    fams = sorted(nch)
    has_u = [not adj and ign for (_s, _a, adj, ign) in fams]
    gap_srcs = sorted({src for (src, _a, adj, ign) in fams if not adj and not ign})

    def names(i, part):
        return [f"__e{i}{part}{ch}__" for ch in _EWM_CH[: nch[fams[i]]]]

    def fresh(i):
        return names(i, "U" if has_u[i] else "B")

    def ckey(r):
        return tuple(r[k] for k in keycols) if gcols else r[BUCKET]

    def walk(rows):
        """The rows group by group (a null key is a real group), buckets
        ascending, each flagged True where its group starts."""
        prev_g = object()
        for r in sorted(rows, key=lambda r: tuple((r[g] is None, r[g]) for g in gcols) + (r[BUCKET],)):
            g = tuple(r[c] for c in gcols)
            yield r, g != prev_g
            prev_g = g

    s = sdf.withColumn(BUCKET, F.floor(F.col(idx_col) / F.lit(bucket_size_for(n_hint))))
    prev_valid: dict = {}  # carry key -> last valid index before it, per gap src
    if gap_srcs:
        lv_aggs = [
            F.max(F.when(F.col(src).isNotNull() & ~F.isnan(F.col(src).cast("double")), F.col(idx_col)))
            for src in gap_srcs
        ]
        pre = s.groupBy(*keycols).agg(*[e.alias(f"__lv{i}__") for i, e in enumerate(lv_aggs)]).collect()
        for r, first in walk(pre):
            if first:
                lv = [-1] * len(gap_srcs)
            prev_valid[ckey(r)] = tuple(lv)
            lv = [v if r[f"__lv{i}__"] is None else r[f"__lv{i}__"] for i, v in enumerate(lv)]

    local_cols = []
    for i in range(len(fams)):
        local_cols += [f"__e{i}A__"] + names(i, "B") + (names(i, "U") if has_u[i] else [])
    schema = T.StructType(
        list(sdf.schema.fields)
        + [T.StructField(BUCKET, T.LongType())]
        + [T.StructField(n, T.DoubleType()) for n in local_cols]
    )

    def local_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(idx_col).reset_index(drop=True)
        idx = pdf[idx_col].to_numpy(dtype="int64")
        if gap_srcs:
            # pandas reads a null group key as NaN; the driver's Rows as None
            key = tuple(None if pd.isna(v) else v for v in (pdf[k].iloc[0] for k in keycols))
            lv = prev_valid[key if gcols else key[0]]
        for i, (src, a, adj, ign) in enumerate(fams):
            x = pdf[src].to_numpy(dtype="float64", na_value=np.nan)
            prev = lv[gap_srcs.index(src)] if not (adj or ign) else -1
            A, B, U = _ewm_scan(x, idx, a, adj, ign, nch[fams[i]], prev)
            pdf = pdf.assign(**{f"__e{i}A__": A}, **dict(zip(names(i, "B"), B)), **dict(zip(names(i, "U"), U or [])))
        return pdf

    local = s.groupBy(*keycols).applyInPandas(local_pass, schema).localCheckpoint(eager=False)
    ends = local.groupBy(*keycols).agg(
        *[F.max_by(F.col(n), F.col(idx_col)).alias(n) for n in local_cols]
    ).collect()
    carries: dict = {}
    for r, first in walk(ends):
        if first:
            state = [None] * len(fams)  # the state never crosses a group boundary
        carries[ckey(r)] = tuple(v for i, st in enumerate(state) for v in (st or [None] * nch[fams[i]]))
        for i, st in enumerate(state):
            if st is None:
                run = [r[n] for n in fresh(i)]
                if run[0]:  # the bucket holds the first valid value
                    state[i] = run
            else:
                A = r[f"__e{i}A__"]
                state[i] = [(A * A if ch == 3 else A) * v + r[b] for ch, (v, b) in enumerate(zip(st, names(i, "B")))]
    carry_cols = [n for i in range(len(fams)) for n in names(i, "C")]
    j = _attach(local, keycols, carries, [T.StructField(n, T.DoubleType()) for n in carry_cols])

    def channels(i):
        A = F.col(f"__e{i}A__")
        return [
            F.when(F.col(c).isNotNull(), (A * A if ch == 3 else A) * F.col(c) + F.col(b)).otherwise(F.col(u))
            for ch, (c, b, u) in enumerate(zip(names(i, "C"), names(i, "B"), fresh(i)))
        ]

    out = {}
    for o, (kind, src, a, adj, ign) in specs.items():
        sw, swx, *sq = channels(fams.index((src, float(a), bool(adj), bool(ign))))
        expr = mean = swx / sw
        if kind != "mean":
            swx2, sw2 = sq
            denom = sw * sw - sw2
            # one effective observation -> 0.0, not nil
            expr = F.when(denom > 0, F.greatest(swx2 / sw - mean * mean, F.lit(0.0)) * sw * sw / denom).otherwise(
                F.lit(0.0)
            )
            if kind == "standard_deviation":
                expr = F.sqrt(expr)
        out[o] = F.when(sw > 0, expr)
    return j.withColumns(out).drop(BUCKET, *local_cols, *carry_cols)


# ---------------------------------------------------------------------------
# whole-frame NEAREST quantile / nth-element (distributed)
# ---------------------------------------------------------------------------


def _cum_value_counts(sdf: SDF, value_col: str):
    """Distinct-value inclusive row-count prefix over a whole column,
    WITHOUT a whole-column collect: the rank kernel's
    :func:`_value_counts` table, pinned (it feeds the exact stats probe
    AND the prefix pass), then :func:`_value_prefix` — the small window
    when the table is summary-sized, else the distributed kernel.

    Returns ``(v2, n)``: a frame with ``__v__`` (distinct non-null
    value), ``__c__`` (its row count) and ``__lc__`` (rows with value
    <= it), plus the total non-null row count (``(None, 0)`` when
    empty). NaN groups to one distinct value and sorts greatest (Spark
    ordering), exactly like a sorted-array rendering."""
    vals = _value_counts(sdf, [value_col]).localCheckpoint(eager=False)
    stat = vals.agg(
        F.count(F.lit(1)).alias("__nv__"), F.sum("__c__").alias("__n__")
    ).collect()[0]
    nv, n = stat["__nv__"], stat["__n__"]
    if not n:
        return None, 0
    return _value_prefix(vals, F.col("__v__").asc(), nv <= SMALL_VALS_MAX), n


def nearest_quantiles(sdf: SDF, value_col: str, qs: list) -> list:
    """Whole-frame NEAREST quantiles — the ELEMENT at sorted position
    ``floor(q*(n-1)+0.5)`` (reference quantile/2 default; native
    parse_quantile_interpol_options Nearest, series.rs:1355).

    Orderable primitive columns (ints, floats, date, timestamps) go
    through :func:`quantile_select` — multi-rank probe-count selection:
    NO shuffle at all, just a handful of whole-column conditional-count
    scans (value grids generated in IEEE-bit space for floats, so the
    bracket provably shrinks 16x per round) and one bounded bracket
    collect. Everything else (decimal, string, ...) falls back to the
    rank kernel's distinct-value prefix (``_cum_value_counts`` — one
    groupBy shuffle bounded by distinct values, then ``_value_prefix``,
    range-partitioned past SMALL_VALS_MAX distinct values) + one
    min-filter aggregation.
    Returns python scalars, None per q for an empty/all-null column."""
    import math as _math

    dt_ = sdf.schema[value_col].dataType
    if isinstance(
        dt_,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DateType,
            T.TimestampType,
            T.TimestampNTZType,
        ),
    ):
        return quantile_select(sdf, value_col, qs)
    v2, n = _cum_value_counts(sdf, value_col)
    if not n:
        return [None for _ in qs]
    targets = [min(max(int(_math.floor(q * (n - 1) + 0.5)) + 1, 1), n) for q in qs]
    row = v2.agg(
        *[
            F.min(F.when(F.col("__lc__") >= F.lit(t), F.col("__v__"))).alias(f"__q{i}__")
            for i, t in enumerate(targets)
        ]
    ).collect()[0]
    return [row[f"__q{i}__"] for i in range(len(qs))]


def quantile_select(sdf: SDF, value_col: str, qs: list) -> list:
    """NEAREST quantiles by multi-rank probe-count selection — the
    zero-shuffle quantile: every round is ONE whole-column aggregation
    of batched conditional counts (``sum(when(lo < c <= t))`` for a
    value grid inside each unresolved rank's bracket), the driver sees
    only counts, and the final brackets (each ≤ ``SELECT_BRACKET_MAX``
    rows by construction) are collected and resolved exactly in python.

    Grid thresholds for float columns are generated in monotone
    IEEE-754 bit space (numpy int64 view), so the bracket's BIT span —
    not its numeric span — shrinks 16x per round: ≤ 16 rounds
    worst-case for any value distribution; integer/date/timestamp
    columns grid in their own integer space with the same bound. This
    beats the distinct-value rank kernel whenever the column is
    high-cardinality: no groupBy of the distinct values (at 100 TB that
    groupBy is itself a full shuffle of up to every row), no range
    repartition, no checkpoint — only scans of the (pinned or pushed)
    source.

    NaN sorts greatest (Spark/polars ordering): counts use plain
    comparisons (false for NaN), NaN rows are counted once in the first
    aggregation, and a target rank above the non-NaN count resolves to
    NaN directly."""
    import math as _math

    import numpy as np

    dt_ = sdf.schema[value_col].dataType
    is_float = isinstance(dt_, (T.FloatType, T.DoubleType))
    is_ts = isinstance(dt_, (T.TimestampType, T.TimestampNTZType))
    c0 = F.col(value_col)
    # probe comparisons run on a monotone LONG/DOUBLE view of the column
    if is_float:
        view = c0.cast("double")
    elif is_ts:
        view = F.unix_micros(c0.cast(T.TimestampType()))
    elif isinstance(dt_, T.DateType):
        view = F.datediff(c0, F.lit("1970-01-01").cast("date"))
    else:
        view = c0.cast("long")
    # the probe rounds re-scan this projection: pin the ONE skinny
    # column so an arbitrary upstream plan (joins, UDFs) executes once —
    # for a bare parquet scan the checkpoint is the same single-column
    # read it replaces
    sdf = sdf.select(view.alias("__qv__")).localCheckpoint(eager=False)
    c = F.col("__qv__")

    def to_bits(v: float) -> int:
        # monotone IEEE-754 map: doubles ordered as doubles == keys
        # ordered as python ints. Positives keep their bit pattern;
        # negatives reflect (bigger magnitude -> smaller key), with
        # -0.0 landing at key -1, just below +0.0's key 0.
        b = int(np.float64(v).view(np.int64))
        return b if b >= 0 else -(1 << 63) - b - 1

    def from_bits(k: int) -> float:
        b = k if k >= 0 else -(1 << 63) - k - 1
        return float(np.int64(b).view(np.float64))

    stats = sdf.agg(
        F.count(c).alias("__n__"),
        (
            F.min(F.when(~F.isnan(c), c)) if is_float else F.min(c)
        ).alias("__mn__"),
        (
            F.max(F.when(~F.isnan(c), c)) if is_float else F.max(c)
        ).alias("__mx__"),
        (F.sum(F.when(F.isnan(c), 1).otherwise(0)) if is_float else F.lit(0)).alias("__nan__"),
    ).collect()[0]
    n, mn, mx, n_nan = stats["__n__"], stats["__mn__"], stats["__mx__"], stats["__nan__"] or 0
    if not n:
        return [None for _ in qs]
    n_valid = n - n_nan
    targets = [min(max(int(_math.floor(q * (n - 1) + 0.5)) + 1, 1), n) for q in qs]

    # bracket per distinct target rank over the non-NaN values:
    # (lo exclusive or None, lo_rank, hi inclusive, hi_rank)
    results: dict[int, object] = {}
    brackets: dict[int, list] = {}
    for t in set(targets):
        if t > n_valid:
            results[t] = float("nan")  # ranked into the NaN tail
        elif mn == mx:
            results[t] = mn
        else:
            brackets[t] = [None, 0, mx, n_valid]

    def grid(lo, hi) -> list:
        # ≤ SELECT_PROBE_WAYS strictly-increasing thresholds in (lo, hi)
        k = SELECT_PROBE_WAYS
        if is_float:
            blo = to_bits(lo if lo is not None else mn) - (1 if lo is None else 0)
            bhi = to_bits(hi)
            ts = {blo + (bhi - blo) * j // (k + 1) for j in range(1, k + 1)}
            return sorted(from_bits(b) for b in ts if blo < b < bhi)
        ilo = (lo if lo is not None else mn - 1)
        ts = {ilo + (hi - ilo) * j // (k + 1) for j in range(1, k + 1)}
        return sorted(v for v in ts if ilo < v < hi)

    while True:
        live = {t: b for t, b in brackets.items() if t not in results}
        probes: list = []  # (t, threshold)
        for t, (lo, lo_r, hi, hi_r) in live.items():
            if hi_r - lo_r <= SELECT_BRACKET_MAX:
                continue
            g = grid(lo, hi)
            if not g:
                # value span exhausted: every bracketed row equals hi
                results[t] = hi
                continue
            probes.extend((t, th) for th in g)
        if not probes:
            break
        row = sdf.agg(
            *[
                F.sum(
                    F.when(
                        (c <= F.lit(th)) if live[t][0] is None else ((c > F.lit(live[t][0])) & (c <= F.lit(th))),
                        1,
                    ).otherwise(0)
                ).alias(f"__p{i}__")
                for i, (t, th) in enumerate(probes)
            ]
        ).collect()[0]
        counts: dict[int, list] = {}
        for i, (t, th) in enumerate(probes):
            counts.setdefault(t, []).append((th, live[t][1] + (row[f"__p{i}__"] or 0)))
        for t, pairs in counts.items():
            lo, lo_r, hi, hi_r = live[t]
            for th, r in sorted(pairs):
                if r < t:
                    lo, lo_r = th, r
                else:
                    hi, hi_r = th, r
                    break
            brackets[t] = [lo, lo_r, hi, hi_r]

    pending = {t: b for t, b in brackets.items() if t not in results}
    if pending:
        conds = [
            (c <= F.lit(hi)) if lo is None else ((c > F.lit(lo)) & (c <= F.lit(hi)))
            for (lo, _lr, hi, _hr) in pending.values()
        ]
        union = conds[0]
        for cd in conds[1:]:
            union = union | cd
        # Arrow transfer + numpy sort: the bracket is bounded (each ≤
        # SELECT_BRACKET_MAX) but row-based collect of ~10^5 values paid
        # more than the probe rounds it concluded
        vals = np.sort(sdf.filter(union).select(c.alias("__v__")).toPandas()["__v__"].to_numpy())
        for t, (lo, lo_r, hi, hi_r) in pending.items():
            i0 = 0 if lo is None else int(np.searchsorted(vals, lo, side="right"))
            results[t] = vals[i0 + (t - lo_r - 1)].item()

    def back(v):
        if v is None:
            return None
        if is_float and _math.isnan(v):
            return float("nan")
        if is_ts:
            import datetime as _dtm

            tz = _dtm.timezone.utc if isinstance(dt_, T.TimestampType) else None
            return _dtm.datetime(1970, 1, 1, tzinfo=tz) + _dtm.timedelta(microseconds=int(v))
        if isinstance(dt_, T.DateType):
            import datetime as _dtm

            return _dtm.date(1970, 1, 1) + _dtm.timedelta(days=int(v))
        if is_float:
            return float(v)
        return int(v)

    return [back(results[t]) for t in targets]


SELECT_BRACKET_MAX = 1 << 17  # final-bracket collect bound (longs, ~1 MB)
SELECT_PROBE_WAYS = 15  # conditional counts batched per probe round


def uniform_select(sdf: SDF, value_col: str, n: int, total: int, domain_hi: int) -> tuple:
    """Exact nth-smallest of a non-null LONG column ~uniform on
    ``[0, domain_hi)`` (hash draws) — ZERO shuffles: each round is ONE
    whole-column conditional-count aggregation (codegen ``sum(when(u <=
    t_j))`` for a value-grid of thresholds inside the current bracket),
    so only counts reach the driver; the final bracket (≤
    ``SELECT_BRACKET_MAX`` rows by construction) is collected and
    resolved exactly in python — the same bounded-driver-summary gate
    every kernel here uses.

    Returns ``(value, below, at)``: the value at 1-based rank ``n``,
    rows strictly smaller, rows equal. Rounds shrink the value span
    ~16x each — 2 scans at 5M rows, ~6 at 10^12 — and for adversarially
    non-uniform data the integer value span still shrinks 16x per round,
    bounding rounds by log16(domain_hi) = 15.
    """
    c = F.col(value_col)
    lo_v, lo_rank = -1, 0  # invariant: count(u <= lo_v) == lo_rank < n
    hi_v, hi_rank = domain_hi - 1, total  # count(u <= hi_v) == hi_rank >= n
    while hi_rank - lo_rank > SELECT_BRACKET_MAX:
        if hi_v - lo_v <= 1:
            # every bracketed row holds the single value hi_v
            return hi_v, lo_rank, hi_rank - lo_rank
        k = min(SELECT_PROBE_WAYS, hi_v - lo_v - 1)
        ts = sorted({lo_v + (hi_v - lo_v) * j // (k + 1) for j in range(1, k + 1)} - {lo_v})
        row = sdf.agg(
            *[
                F.sum(F.when((c > lo_v) & (c <= F.lit(t)), 1).otherwise(0)).alias(f"__t{i}__")
                for i, t in enumerate(ts)
            ]
        ).collect()[0]
        ranks = [lo_rank + (row[f"__t{i}__"] or 0) for i in range(len(ts))]
        nlo_v, nlo_rank, nhi_v, nhi_rank = lo_v, lo_rank, hi_v, hi_rank
        for t, r in zip(ts, ranks):
            if r < n:
                nlo_v, nlo_rank = t, r
            else:
                nhi_v, nhi_rank = t, r
                break
        lo_v, lo_rank, hi_v, hi_rank = nlo_v, nlo_rank, nhi_v, nhi_rank
    import bisect

    need = n - lo_rank
    vals = sorted(
        r[0] for r in sdf.filter((c > lo_v) & (c <= hi_v)).select(c).collect()
    )
    t = vals[need - 1]
    i0 = bisect.bisect_left(vals, t)
    return t, lo_rank + i0, bisect.bisect_right(vals, t) - i0


def grouped_nearest_quantiles(
    sdf: SDF, groups: list, value_col: str, qs: list, out_names: list
) -> SDF:
    """Per-group NEAREST quantiles with the executor buffer bounded by
    per-group DISTINCT values, never the group's rows:

    1. one map-combined ``groupBy(groups + value)`` count collapses
       duplicates (partial aggregation bounds task memory),
    2. a per-group value-ordered running count assigns each distinct
       value its rank interval ``[cum - cnt, cum)`` — WindowExec SORTS
       (spillable), it does not buffer the group as an array,
    3. ONE min-filter aggregation per group picks the element whose
       interval contains ``k = floor(q*(n-1)+0.5)`` for every requested
       q simultaneously.

    This replaces the ``array_sort(collect_list)`` rendering for grouped
    quantiles (frame._rewrite_grouped_quantiles): a sorted collect is
    bounded by group size and OOMs its executor on one giant/skewed
    group at scale. Nulls are excluded (quantile ignores nils); NaN
    groups to one distinct value and orders greatest (Spark = polars =
    reference sort semantics); an all-null group vanishes here and the
    caller's left join reports nil. Returns one row per group:
    ``groups + out_names`` (out_names[i] = quantile qs[i] of value_col).
    """
    CNT, CUM, N = "__gqc__", "__gqcum__", "__gqn__"
    v = F.col(value_col)
    cnt = (
        sdf.select(*groups, value_col)
        .filter(v.isNotNull())
        .groupBy(*groups, value_col)
        .agg(F.count(F.lit(1)).alias(CNT))
    )
    wv = W.partitionBy(*groups).orderBy(v.asc()).rowsBetween(W.unboundedPreceding, 0)
    wg = W.partitionBy(*groups)
    sel = cnt.select(
        *groups,
        v,
        F.col(CNT),
        F.sum(CNT).over(wv).alias(CUM),
        F.sum(CNT).over(wg).alias(N),
    )
    aggs = []
    for q, out in zip(qs, out_names):
        k = F.floor(F.lit(float(q)) * (F.col(N) - F.lit(1)).cast("double") + F.lit(0.5)).cast(
            "long"
        )
        hit = F.when((F.col(CUM) - F.col(CNT) <= k) & (k < F.col(CUM)), v)
        aggs.append(F.min(hit).alias(out))
    return sel.groupBy(*groups).agg(*aggs)
