"""Rolling windows and exponentially-weighted moving stats.

Reference: ``window_sum/mean/median/min/max/standard_deviation(window_size,
weights, min_periods, center)`` (lib/explorer/series.ex:5123-5342) and
``ewm_mean/standard_deviation/variance(alpha, adjust, ...)``
(series.ex:5344-5528).

Spark rendering:

- Unweighted rolling -> built-in aggregate over
  ``Window.orderBy(order).rowsBetween(-(n-1), 0)`` (center shifts the
  frame) with a count-based ``min_periods`` null-out. Fully JVM-side,
  whole-stage-codegen, scales per group.
- Weighted rolling -> closed-form sum of ``lag(col, k) * w[k]`` terms —
  still JVM-side; cost is O(window_size) expressions.
- EWM -> inherently sequential; rendered as a grouped ``applyInPandas``
  using pandas' ewm (Arrow-batched). At scale this parallelizes per
  group; an ungrouped series runs in a single task (documented, same as
  any global sequential scan).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..expr import LowerCtx, _c, _ordered_window

# grouped ewm: groups above this many rows leave the per-group pandas
# frame for the distributed prefix-composition kernel
EWM_GROUP_GATE = 1 << 21

_ROLL_FNS = {
    "window_sum": F.sum,
    "window_mean": F.avg,
    "window_median": F.median,
    "window_min": F.min,
    "window_max": F.max,
    "window_standard_deviation": F.stddev_samp,
}


def _frame_bounds(window_size: int, center: bool) -> tuple[int, int]:
    if center:
        lo = -(window_size // 2)
        hi = window_size - 1 - (window_size // 2)
        return lo, hi
    return -(window_size - 1), 0


def _lower_rolling(op):
    def low(ctx: LowerCtx, a, window_size: int, weights=None, min_periods: int | None = None, center: bool = False):
        if weights is not None:
            return _lower_weighted(ctx, a, op, window_size, list(weights), min_periods, center)
        lo, hi = _frame_bounds(window_size, center)
        if op == "window_median":
            # Spark's median/percentile aggregates reject window frames
            # (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) — build the window
            # as lag/lead positions and take the exact array median.
            return _lower_median(ctx, a, window_size, min_periods, center)
        w = _ordered_window(ctx).rowsBetween(lo, hi)
        c = _c(a, ctx)
        out = _ROLL_FNS[op](c).over(w)
        # Explorer defaults min_periods: 1 (series.ex window_* docs)
        mp = 1 if min_periods is None else min_periods
        if mp > 1:
            cnt = F.count(c).over(w)
            out = F.when(cnt >= mp, out)
        return out

    return low


def _lower_weighted(ctx, a, op, n, weights, min_periods, center):
    """Weighted rolling aggregates as closed-form lag/lead expressions.

    Each relative window position ``p`` in ``[lo, hi]`` carries the fixed
    weight ``weights[p - lo]`` (weights[0] -> oldest element). Positions
    that fall off the frame edge contribute nothing, which matches the
    reference's truncated-window alignment (window_min doctest,
    lib/explorer/series.ex:5229: first partial window pairs the value
    with the LAST weight).

    Semantics per op (reference doctests, series.ex:5123-5342):
    - sum/mean: weighted sum / weight-normalized mean.
    - min/max: elementwise value*weight, then min/max (polars rule).
    - standard_deviation: sqrt(sum w*(x-mu_w)^2 / sum w) — the biased
      weighted variance (series.ex:5295 doctest: 0.433..., not the
      ddof=1 0.707...). Scale-invariant in the weights.
    - median: weighted quantile(0.5) with linear interpolation over
      cumulative weights. Polars' weighted rolling-median interpolation
      is implementation-defined (its own docs call the weighted-quantile
      method non-canonical); we document linear-cumulative-weight
      semantics rather than chase it.
    """
    lo, hi = _frame_bounds(n, center)
    w = _ordered_window(ctx)
    c = _c(a, ctx)

    def pos_val(p):
        # element at relative position p: lag for p<0, lead for p>0
        return F.lag(c, -p).over(w) if p != 0 else c

    vals = [pos_val(lo + k) for k in range(n)]
    wts = [float(weights[k]) for k in range(n)]

    if op in ("window_min", "window_max"):
        scaled = [v * F.lit(wk) for v, wk in zip(vals, wts)]
        out = (F.least if op == "window_min" else F.greatest)(*scaled) if n > 1 else scaled[0]
    elif op == "window_median":
        # polars IGNORES weights for rolling_median — the reference
        # doctest (series.ex:5195, weights + min_periods: nil) renders
        # the plain window median. (Its min_periods-1 first element is a
        # polars edge artifact; see the doctest skip list.)
        return _lower_median(ctx, a, n, min_periods, center)
    else:
        sw = [F.when(v.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0)) for v, wk in zip(vals, wts)]
        swx = [F.when(v.isNotNull(), v * F.lit(wk)).otherwise(F.lit(0.0)) for v, wk in zip(vals, wts)]
        wsum = sw[0]
        total = swx[0]
        for t in sw[1:]:
            wsum = wsum + t
        for t in swx[1:]:
            total = total + t
        if op == "window_sum":
            out = total
        elif op == "window_mean":
            out = total / F.nullif(wsum, F.lit(0.0))
        else:  # window_standard_deviation
            swx2 = [
                F.when(v.isNotNull(), v * v * F.lit(wk)).otherwise(F.lit(0.0))
                for v, wk in zip(vals, wts)
            ]
            total2 = swx2[0]
            for t in swx2[1:]:
                total2 = total2 + t
            wsum_nz = F.nullif(wsum, F.lit(0.0))
            mu = total / wsum_nz
            var = total2 / wsum_nz - mu * mu
            out = F.sqrt(F.greatest(var, F.lit(0.0)))
    mp = 1 if min_periods is None else min_periods
    cnt = F.count(c).over(w.rowsBetween(lo, hi))
    return F.when(cnt >= mp, out)


def _lower_median(ctx, a, window_size, min_periods, center):
    """Exact rolling median as lag/lead positions + sorted-array midpoint.

    Matches the reference doctest (series.ex:5182-5186: window_median(1..10, 4)
    -> [1.0, 1.5, 2.0, 2.5, 3.5, ...]): the median of the non-nil values in
    the window, averaging the two middle values for even counts. Spark's
    median/percentile aggregates reject window frames, hence the explicit
    positional construction; cost is O(n log n) expressions per row in the
    (small, fixed) window size, all within one projection — no extra shuffle.
    """
    lo, hi = _frame_bounds(window_size, center)
    w = _ordered_window(ctx)
    c = _c(a, ctx)

    def pos_val(p):
        return F.lag(c, -p).over(w) if p != 0 else c

    vals = [pos_val(lo + k).cast("double") for k in range(window_size)]
    arr = F.array_sort(F.filter(F.array(*vals), lambda x: x.isNotNull()))
    n = F.size(arr)
    mid_lo = F.get(arr, F.floor((n - F.lit(1)) / F.lit(2)).cast("int"))
    mid_hi = F.get(arr, F.floor(n / F.lit(2)).cast("int"))
    out = (mid_lo + mid_hi) / F.lit(2.0)
    mp = 1 if min_periods is None else min_periods
    cnt = F.count(c).over(w.rowsBetween(lo, hi))
    return F.when(cnt >= mp, out)


def register() -> None:
    """Install rolling ops into the expression op table."""
    from .. import expr as E

    for op in _ROLL_FNS:
        E._LOWER[op] = _lower_rolling(op)
    E.ORDERED_OPS |= set(_ROLL_FNS)


# --------------------------------------------------------------------------
# EWM via grouped applyInPandas (frame-level verb, see frame.ewm_*)
# --------------------------------------------------------------------------


def ewm_columns(frame, specs: dict[str, tuple], order_cols=None):
    """Add EWM columns to a frame.

    specs: out_name -> (kind, src_col, alpha, adjust[, ignore_nils]) with
    kind in {"mean", "variance", "standard_deviation"}.  ignore_nils
    defaults to True (reference lib/explorer/series.ex:5325-5345: nulls
    are skipped entirely); False decays weights by absolute position
    (pandas ignore_na=False).
    """
    import pandas as pd

    from ..frame import ORDER_COL, DataFrame

    specs = {o: (t + (True,) if len(t) == 4 else t) for o, t in specs.items()}
    base = frame._ordered()
    sdf = base._sdf
    schema_fields = sdf.schema.fields
    from pyspark.sql import types as T

    # an out name may REPLACE its source column (pandas assigns by name)
    out_schema = T.StructType(
        [f for f in schema_fields if f.name not in specs]
        + [T.StructField(n, T.DoubleType()) for n in specs]
    )
    groups = list(frame.groups)

    def _fill_first_valid(src_s: pd.Series, r: pd.Series) -> pd.Series:
        # pandas ewm var/std are NaN until the SECOND valid observation;
        # the reference (polars) emits 0.0 from the first (series.ex:5449)
        seen = src_s.notna().cumsum() >= 1
        return r.mask(r.isna() & seen, 0.0)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ORDER_COL)
        for out_name, (kind, src, alpha, adjust, ign) in specs.items():
            ew = pdf[src].ewm(alpha=alpha, adjust=adjust, ignore_na=ign, min_periods=1)
            if kind == "mean":
                pdf[out_name] = ew.mean()
            elif kind == "variance":
                pdf[out_name] = _fill_first_valid(pdf[src], ew.var(bias=False))
            else:
                pdf[out_name] = _fill_first_valid(pdf[src], ew.std(bias=False))
        return pdf

    if groups:
        # one Arrow batch per HASH BUCKET of groups, not per group: pandas'
        # grouped ewm is a single cython pass over the bucket with per-group
        # window bounds, so the per-group Arrow/pandas spin-up (~ms x #groups)
        # disappears while per-group semantics stay exact
        nb = max(sdf.sparkSession.sparkContext.defaultParallelism * 2, 8)

        def apply_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.drop(columns="__ewmb__").sort_values([*groups, ORDER_COL])
            # dropna=False: a null group key is a real group (reference
            # semantics) — pandas' default would silently null those rows
            g = pdf.groupby(groups, sort=False, group_keys=False, dropna=False)
            for out_name, (kind, src, alpha, adjust, ign) in specs.items():
                ew = g[src].ewm(alpha=alpha, adjust=adjust, ignore_na=ign, min_periods=1)
                if kind == "mean":
                    r = ew.mean()
                elif kind == "variance":
                    r = ew.var(bias=False)
                else:
                    r = ew.std(bias=False)
                if isinstance(r.index, pd.MultiIndex):
                    r = r.droplevel(list(range(len(groups))))
                if kind != "mean":
                    # first valid obs per GROUP is 0.0, not pandas' NaN
                    seen = g[src].apply(lambda s: s.notna().cumsum() >= 1)
                    if isinstance(seen.index, pd.MultiIndex):
                        seen = seen.droplevel(list(range(len(groups))))
                    r = r.mask(r.isna() & seen, 0.0)
                pdf[out_name] = r
            return pdf

        # giant-group gate (r7 verdict #4): the bucket path is exact and
        # fast at normal cardinality, but a single skewed group lands
        # WHOLE in one executor's pandas frame at 100x. Probe the max
        # group size (one map-side-combined count agg); when any group
        # exceeds the gate, those groups route through the distributed
        # affine prefix-composition kernel (ewm_global's grouped face:
        # per-group contiguous index -> bucketed local scans -> bounded
        # per-group carry combine; the ignore_nils=False + adjust=False
        # corner routes through ewm_gapped's grouped face) while
        # normal-size groups keep the pandas path.
        mx = None
        # limit-probe first: a frame with <= gate rows can't hold a
        # giant group, and the limit short-circuits without the
        # group-count shuffle (the common case pays ~one scan task)
        if sdf.limit(EWM_GROUP_GATE + 1).count() > EWM_GROUP_GATE:
            mx_row = (
                sdf.groupBy(*groups)
                .agg(F.count(F.lit(1)).alias("__c__"))
                .agg(F.max("__c__").alias("__m__"))
                .first()
            )
            mx = mx_row["__m__"] if mx_row else None
        if mx is not None and mx > EWM_GROUP_GATE:
            return _ewm_grouped_giant(sdf, groups, specs, out_schema, apply_bucket, nb, EWM_GROUP_GATE)
        bucketed = sdf.withColumn("__ewmb__", F.pmod(F.xxhash64(*groups), F.lit(nb)))
        out = bucketed.groupBy("__ewmb__").applyInPandas(apply_bucket, out_schema)
        return DataFrame(out, groups=groups, has_order=True)
    # ungrouped: bucket-parallel prefix composition — one uniform hash
    # exchange, never a single whole-frame task (operators/ordered.py;
    # the adjust=False + ignore_nils=False corner routes through the
    # affine-channel gapped kernel there, also fully distributed)
    from .ordered import ewm_global

    idxed = frame._with_row_index("__eidx__")
    out = ewm_global(
        idxed._sdf, "__eidx__", specs, n_hint=getattr(idxed, "_row_count_hint", None)
    ).drop("__eidx__")
    return DataFrame(out, groups=[], has_order=True)


def _ewm_grouped_giant(sdf, groups, specs, out_schema, apply_bucket, nb, gate):
    """Grouped ewm when at least one group exceeds the giant-group gate:
    normal-size groups keep the exact pandas bucket path; giant groups
    route through the distributed affine prefix-composition kernel
    (ewm_global with group_cols) so no single task ever holds a whole
    group. Per-group contiguous indexes come from one range-partitioned
    sort over (groups, order) + the per-partition-offset kernel — each
    giant group occupies a contiguous index range, so the (group,
    bucket) carry rows stay bounded by n/bucket_width + n/gate."""
    from ..frame import ORDER_COL, DataFrame
    from .ordered import ewm_global, with_global_index

    sizes = sdf.groupBy(*groups).agg(F.count(F.lit(1)).alias("__gsz__"))
    gtmp = [f"__gk{i}__" for i in range(len(groups))]
    giant_keys = sizes.filter(F.col("__gsz__") > gate).select(
        *[F.col(g).alias(t) for g, t in zip(groups, gtmp)]
    )
    cond = F.lit(True)
    for g, t in zip(groups, gtmp):
        cond = cond & F.col(g).eqNullSafe(F.col(t))  # null keys are real groups
    normal_sdf = sdf.join(F.broadcast(giant_keys), cond, "left_anti")
    giant_sdf = sdf.join(F.broadcast(giant_keys), cond, "left_semi")

    bucketed = normal_sdf.withColumn("__ewmb__", F.pmod(F.xxhash64(*groups), F.lit(nb)))
    out_n = bucketed.groupBy("__ewmb__").applyInPandas(apply_bucket, out_schema)

    keys = [F.col(g).asc_nulls_last() for g in groups] + [F.col(ORDER_COL).asc()]
    idxed = with_global_index(giant_sdf, keys, name="__gix__")
    starts = idxed.groupBy(*[F.col(g).alias(t) for g, t in zip(groups, gtmp)]).agg(
        F.min("__gix__").alias("__gstart__")
    )
    lidxed = (
        idxed.join(F.broadcast(starts), cond, "left")
        .withColumn("__lidx__", F.col("__gix__") - F.col("__gstart__"))
        .drop("__gstart__", *gtmp)
    )
    out_g = ewm_global(lidxed, "__lidx__", specs, group_cols=list(groups)).drop(
        "__gix__", "__lidx__"
    )
    out = out_n.unionByName(out_g.select(*[f.name for f in out_schema.fields]))
    return DataFrame(out, groups=list(groups), has_order=True)
