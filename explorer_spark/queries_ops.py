"""Per-operator oracle queries (round 2): every SURVEY §2 verb that was
unit-test-only in round 1 gets its own driver-checked CORRECTNESS entry —
mask, put, concat_columns, Series.transform, ewm, argmin/argmax, cut with
explicit breaks, categorise, fill min/max/mean, rank tie methods, asof
forward/nearest, unnest, transpose, grouped head/tail/slice/sample,
distinct keep-first, seeded sample, mutate keep:, first-value pivot, and
ISO-year edges."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import functions as SF

from . import functions as f
from .expr import col, lit
from .queries import query
from .series import Series
from .sources import from_columns, load_table


def _t(spark, sf_dir, name):
    return load_table(sf_dir, name, spark=spark)


# ---------------------------------------------------------------------------
# row selection / projection edges (SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "q_mask",
    """
    SELECT COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total
    FROM customer WHERE c_acctbal > 5000 AND c_nationkey < 10
    """,
)
def q_mask(spark, sf_dir):
    """DataFrame.mask with a raw boolean column (SURVEY §2.2;
    reference data_frame.ex mask/2)."""
    cust = _t(spark, sf_dir, "customer")
    masked = cust.mask((SF.col("c_acctbal") > 5000) & (SF.col("c_nationkey") < 10))
    return masked.summarise(
        n=f.size(col("c_custkey")), total=f.round(f.sum(col("c_acctbal")), 2)
    ).lazy_sdf()


@query(
    "q_put",
    """
    SELECT r_regionkey, r_name,
           CASE r_regionkey WHEN 0 THEN 'c0' WHEN 1 THEN 'c1' WHEN 2 THEN 'c2'
                            WHEN 3 THEN 'c3' ELSE 'c4' END AS code
    FROM region
    """,
)
def q_put(spark, sf_dir):
    """DataFrame.put: positional column insertion from a list
    (reference data_frame.ex put/3)."""
    reg = _t(spark, sf_dir, "region").sort_by("r_regionkey")
    return reg.put("code", ["c0", "c1", "c2", "c3", "c4"]).select(
        ["r_regionkey", "r_name", "code"]
    ).lazy_sdf()


@query(
    "q_concat_columns",
    """
    SELECT a.r_regionkey, a.r_name, b.r_name AS rev_name
    FROM region a JOIN region b ON b.r_regionkey = 4 - a.r_regionkey
    """,
)
def q_concat_columns(spark, sf_dir):
    """concat_columns: horizontal positional concatenation
    (reference data_frame.ex:5719-5760)."""
    reg = _t(spark, sf_dir, "region")
    asc = reg.sort_by("r_regionkey").select(["r_regionkey", "r_name"])
    desc = reg.sort_by("r_regionkey", descending=True).select(["r_name"]).rename({"r_name": "rev_name"})
    return asc.concat_columns(desc).lazy_sdf()


@query(
    "q_distinct_first",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders)
    WHERE rn = 1
    """,
)
def q_distinct_first(spark, sf_dir):
    """distinct(keep_all=True) keeps the whole FIRST row per key in frame
    order (reference lazyframe.rs UniqueKeepStrategy::First)."""
    orders = _t(spark, sf_dir, "orders").sort_by("o_orderkey")
    return orders.distinct(["o_custkey"], keep_all=True).select(
        ["o_custkey", "o_orderkey", "o_totalprice"]
    ).lazy_sdf()


@query(
    "q_sample_seeded",
    "SELECT CAST(500 AS BIGINT) AS n_rows, CAST(500 AS BIGINT) AS n_unique",
)
def q_sample_seeded(spark, sf_dir):
    """Seeded sample(n): shape contract — exactly n distinct rows (value
    determinism is engine-specific; the reference seeds Polars' RNG the
    same way, data_frame.ex:4475-4540)."""
    li = _t(spark, sf_dir, "lineitem")
    picked = li.sample(500, seed=7).mutate(key=col("l_orderkey") * lit(10) + col("l_linenumber"))
    return picked.summarise(n_rows=f.size(col("key")), n_unique=f.n_distinct(col("key"))).lazy_sdf()


@query(
    "q_grouped_sample",
    """
    SELECT c_nationkey, CAST(FLOOR(COUNT(*) * 0.25) AS BIGINT) AS n
    FROM customer GROUP BY c_nationkey
    HAVING FLOOR(COUNT(*) * 0.25) > 0
    """,
)
def q_grouped_sample(spark, sf_dir):
    """Grouped frac sample: floor(frac*len) rows drawn per group
    (reference polars_backend/data_frame.ex:779-796). frac=0.25 is a
    binary-exact fraction so the floor parity with the oracle holds at
    every SF; groups small enough to floor to zero vanish on both sides
    (a fixed-n sample would raise the population error at tiny SFs)."""
    cust = _t(spark, sf_dir, "customer").group_by("c_nationkey")
    return cust.sample(0.25, seed=11).summarise(n=f.size(col("c_custkey"))).lazy_sdf()


# ---------------------------------------------------------------------------
# grouped positional verbs (SURVEY §2.2 grouped semantics)
# ---------------------------------------------------------------------------


@query(
    "q_grouped_head_tail",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn,
               row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey DESC) AS rrn
        FROM orders
    )
    SELECT o_orderpriority, o_orderkey, 'head' AS kind FROM ranked WHERE rn <= 3
    UNION ALL
    SELECT o_orderpriority, o_orderkey, 'tail' AS kind FROM ranked WHERE rrn <= 3
    """,
)
def q_grouped_head_tail(spark, sf_dir):
    """Grouped head/tail: first/last n rows per group in frame order
    (reference data_frame.ex head/tail grouped docs)."""
    orders = _t(spark, sf_dir, "orders").sort_by("o_orderkey").group_by("o_orderpriority")
    heads = orders.head(3).mutate(kind=lit("head"))
    tails = orders.tail(3).mutate(kind=lit("tail"))
    return heads.concat_rows(tails).select(["o_orderpriority", "o_orderkey", "kind"]).lazy_sdf()


@query(
    "q_grouped_slice",
    """
    SELECT o_orderpriority, o_orderkey
    FROM (SELECT o_orderpriority, o_orderkey,
                 row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
          FROM orders)
    WHERE rn BETWEEN 3 AND 5
    """,
)
def q_grouped_slice(spark, sf_dir):
    """Grouped slice(offset, length): positional within each group
    (reference data_frame.ex:4238-4372)."""
    orders = _t(spark, sf_dir, "orders").sort_by("o_orderkey").group_by("o_orderpriority")
    return orders.slice(2, 3).select(["o_orderpriority", "o_orderkey"]).lazy_sdf()


@query(
    "q_grouped_sort_positions",
    """
    WITH base AS (
      SELECT o_orderpriority AS g, o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS pos
      FROM orders
    ),
    a AS (SELECT g, pos, row_number() OVER (PARTITION BY g ORDER BY pos) AS r FROM base),
    b AS (SELECT g, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY g ORDER BY o_totalprice DESC, pos) AS r
          FROM base)
    SELECT a.pos - 1 AS idx, b.o_orderkey, b.o_totalprice
    FROM a JOIN b ON a.g = b.g AND a.r = b.r
    """,
)
def q_grouped_sort_positions(spark, sf_dir):
    """Grouped sort is a within-group permutation that KEEPS each
    group's original row positions (reference lazy_test.exs:780, polars
    window-sort): the i-th key-sorted row of a group lands on the
    group's i-th original position. The oracle states the same
    permutation with two partitioned row_numbers joined on rank; the
    engine runs the dense-index remap kernel (two global-index range
    sorts + one equi-join — no per-group window, giant-group safe).
    row_index materializes the final order so the hash GRADES order."""
    orders = (
        _t(spark, sf_dir, "orders")
        .select(["o_orderpriority", "o_orderkey", "o_totalprice"])
        .sort_by("o_orderkey")
        .group_by("o_orderpriority")
        .sort_by("o_totalprice", descending=True)
        .ungroup()
    )
    return (
        orders.mutate(idx=f.row_index())
        .select(["idx", "o_orderkey", "o_totalprice"])
        .lazy_sdf()
    )


@query(
    "q_summarise_stable_order",
    """
    WITH agg AS (
      SELECT o_orderpriority, COUNT(*) AS n, MIN(o_orderkey) AS mo
      FROM orders GROUP BY o_orderpriority
    )
    SELECT CAST(rank() OVER (ORDER BY mo) AS BIGINT) - 1 AS idx,
           o_orderpriority, n
    FROM agg
    """,
)
def q_summarise_stable_order(spark, sf_dir):
    """Stable grouped summarise emits groups in FIRST-APPEARANCE order
    (reference data_frame.ex:6094 fossil doctest; round-9 fix — the
    min(order) per group rides as the output's hidden order column, a
    map-side-combined agg with no extra shuffle). row_index materializes
    the order so the driver hash GRADES it; the oracle derives the same
    order from min(o_orderkey) per group."""
    orders = (
        _t(spark, sf_dir, "orders")
        .select(["o_orderpriority", "o_orderkey"])
        .sort_by("o_orderkey")
        .group_by("o_orderpriority", stable=True)
        .summarise(n=f.size(col("o_orderkey")))
    )
    return (
        orders.mutate(idx=f.row_index())
        .select(["idx", "o_orderpriority", "n"])
        .mutate(n=col("n").cast(("s", 64)))
        .lazy_sdf()
    )


@query(
    "q_pivot_longer_order",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid,
             COUNT(*) OVER () AS n
      FROM lineitem
    ),
    longd AS (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
             l_quantity AS value, 0 * n + rid AS idx FROM base
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             l_extendedprice, 1 * n + rid FROM base
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount',
             l_discount, 2 * n + rid FROM base
    )
    SELECT CAST(idx AS BIGINT) AS idx, l_orderkey, l_linenumber, variable,
           ROUND(value, 6) AS value
    FROM longd
    """,
)
def q_pivot_longer_order(spark, sf_dir):
    """pivot_longer stacks VARIABLE-MAJOR (polars melt — all rows of the
    first pivoted column before any of the second; reference
    data_frame.ex:4734 fossil doctest; round-9 fix derives the order as
    vi*n + dense-row-index with no sort). row_index pins the row order
    for the driver hash; the oracle is the UNION ALL with computed
    positions."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"]
        )
        .sort_by("l_orderkey", "l_linenumber")
        .pivot_longer(["l_quantity", "l_extendedprice", "l_discount"])
    )
    return (
        li.mutate(idx=f.row_index())
        .mutate(idx=col("idx").cast(("s", 64)), value=f.round(col("value"), 6))
        .select(["idx", "l_orderkey", "l_linenumber", "variable", "value"])
        .lazy_sdf()
    )


@query(
    "q_mutate_keep_none",
    """
    SELECT c_nationkey, ROUND(AVG(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS bal_avg
    FROM customer
    """,
)
def q_mutate_keep_none(spark, sf_dir):
    """Grouped mutate with keep: :none — only group + created columns
    survive (reference data_frame.ex:2915-2930)."""
    cust = _t(spark, sf_dir, "customer").group_by("c_nationkey")
    return cust.mutate_with(keep="none", bal_avg=f.round(f.mean(col("c_acctbal")), 6)).lazy_sdf()


# ---------------------------------------------------------------------------
# scalar/series kernels (SURVEY §2.3, §2.9)
# ---------------------------------------------------------------------------


@query(
    "q_series_transform",
    "SELECT reverse(lower(n_name)) AS n_name FROM nation",
)
def q_series_transform(spark, sf_dir):
    """Series.transform: arbitrary Python over an Arrow-batched pandas_udf
    (reference series.ex transform/2 — an eager element loop there)."""
    names = _t(spark, sf_dir, "nation").select(["n_name"])
    out = Series(names, "n_name").transform(lambda v: v.lower()[::-1])
    return out.to_frame().lazy_sdf()


@query(
    "q_categorise",
    """
    SELECT CASE c_custkey % 4 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                              WHEN 2 THEN 'bronze' ELSE 'iron' END AS code
    FROM customer
    """,
)
def q_categorise(spark, sf_dir):
    """Series.categorise: integer codes -> category strings (dictionary
    decode, reference series.ex:1327-1438)."""
    cust = _t(spark, sf_dir, "customer").mutate(code=f.remainder(col("c_custkey"), lit(4)))
    out = Series(cust.select(["code"]), "code").categorise(["gold", "silver", "bronze", "iron"])
    return out.to_frame().lazy_sdf()


@query(
    "q_fill_stats",
    """
    SELECT event_id,
           ROUND(COALESCE(v, MIN(v) OVER u), 4) AS f_min,
           ROUND(COALESCE(v, MAX(v) OVER u), 4) AS f_max,
           ROUND(COALESCE(v, AVG(v) OVER u), 4) AS f_mean
    FROM (SELECT event_id, user_id,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
          FROM events)
    WINDOW u AS (PARTITION BY user_id)
    """,
)
def q_fill_stats(spark, sf_dir):
    """fill_missing with :min/:max/:mean strategies inside groups
    (reference series.ex:5594-5628)."""
    ev = _t(spark, sf_dir, "events")
    v = f.select(col("event_type") == lit("error"), lit(None).cast(("f", 64)), col("value"))
    return (
        ev.mutate(v=v)
        .group_by("user_id")
        .mutate(
            f_min=f.round(f.fill_missing(col("v"), "min"), 4),
            f_max=f.round(f.fill_missing(col("v"), "max"), 4),
            f_mean=f.round(f.fill_missing(col("v"), "mean"), 4),
        )
        .ungroup()
        .select(["event_id", "f_min", "f_max", "f_mean"])
        .lazy_sdf()
    )


@query(
    "q_argminmax",
    """
    WITH x AS (SELECT value, row_number() OVER (ORDER BY ts, event_id) - 1 AS idx FROM events)
    SELECT (SELECT idx FROM x ORDER BY value ASC, idx LIMIT 1) AS amin,
           (SELECT idx FROM x ORDER BY value DESC, idx LIMIT 1) AS amax
    """,
)
def q_argminmax(spark, sf_dir):
    """Series.argmin/argmax: positional index of the extremum in frame
    order, first occurrence on ties (reference series.ex argmin/argmax)."""
    ev = _t(spark, sf_dir, "events").sort_by("ts", "event_id")
    s = Series(ev.select(["value"]), "value")
    return from_columns({"amin": [s.argmin()], "amax": [s.argmax()]}, spark=spark).lazy_sdf()


@query(
    "q_cut_breaks",
    """
    SELECT break_point, category, COUNT(*) AS n
    FROM (
        SELECT CASE WHEN l_quantity <= 10 THEN 10.0 WHEN l_quantity <= 25 THEN 25.0
                    WHEN l_quantity <= 40 THEN 40.0 ELSE CAST('infinity' AS DOUBLE) END AS break_point,
               CASE WHEN l_quantity <= 10 THEN '(-inf, 10]' WHEN l_quantity <= 25 THEN '(10, 25]'
                    WHEN l_quantity <= 40 THEN '(25, 40]' ELSE '(40, inf]' END AS category
        FROM lineitem
    )
    GROUP BY break_point, category
    """,
)
def q_cut_breaks(spark, sf_dir):
    """cut with explicit breaks: 3-column (values/break_point/category)
    reference shape (series.ex cut/3), aggregated per bin."""
    li = _t(spark, sf_dir, "lineitem")
    binned = li.cut("l_quantity", [10.0, 25.0, 40.0])
    return (
        binned.group_by(["break_point", "category"])
        .summarise(n=f.size(col("values")))
        .lazy_sdf()
    )


@query(
    "q_ewm_mean",
    """
    WITH x AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
        FROM events
    )
    SELECT event_id,
           ROUND(SUM(value * POW(1.25, i)) OVER w / SUM(POW(1.25, i)) OVER w, 6) AS ewm
    FROM x
    WINDOW w AS (PARTITION BY user_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ewm_mean(spark, sf_dir):
    """Grouped ewm_mean(alpha=0.2, adjust=True); the oracle is the closed
    form sum_j x_j (1-a)^(t-j) / sum_j (1-a)^(t-j) with the (1-a)^t factor
    cancelled (reference series.ex:5344-5528)."""
    ev = _t(spark, sf_dir, "events").sort_by("ts", "event_id").group_by("user_id")
    out = ev.ewm(ewm=("mean", "value", 0.2, True))
    return out.ungroup().mutate(ewm=f.round(col("ewm"), 6)).select(["event_id", "ewm"]).lazy_sdf()


@query(
    "q_ewm_global",
    """
    WITH s AS (
        SELECT event_id, value, row_number() OVER (ORDER BY ts, event_id) - 1 AS i
        FROM events
        ORDER BY ts, event_id LIMIT 2000
    )
    SELECT event_id,
           ROUND(SUM(value * POW(1.25, i)) OVER w / SUM(POW(1.25, i)) OVER w, 6) AS ewm
    FROM s
    WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ewm_global(spark, sf_dir):
    """UNGROUPED ewm_mean(alpha=0.2, adjust=True) over global frame order
    through the distributed bucket-composition kernel
    (operators/ordered.py ewm_global) — never a single whole-frame task.
    Restricted to the first 2000 rows so the oracle's POW(1.25, i)
    closed form stays inside double range."""
    ev = _t(spark, sf_dir, "events").sort_by("ts", "event_id").slice(0, 2000)
    out = ev.ewm(ewm=("mean", "value", 0.2, True))
    return out.mutate(ewm=f.round(col("ewm"), 6)).select(["event_id", "ewm"]).lazy_sdf()


@query(
    "q_rank_ties",
    """
    SELECT c_custkey,
           CAST(rank() OVER (ORDER BY c_nationkey) AS DOUBLE)
               + (COUNT(*) OVER (PARTITION BY c_nationkey) - 1) / 2.0 AS r_avg,
           CAST(rank() OVER (ORDER BY c_nationkey) + COUNT(*) OVER (PARTITION BY c_nationkey) - 1
                AS INTEGER) AS r_max,
           CAST(dense_rank() OVER (ORDER BY c_nationkey) AS INTEGER) AS r_dense
    FROM customer
    """,
)
def q_rank_ties(spark, sf_dir):
    """rank tie methods average/max/dense on a heavily tied column,
    through the distributed value-rank kernel (reference series.ex rank;
    operators/ordered.py value_ranks)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.mutate(
        r_avg=f.rank(col("c_nationkey"), method="average"),
        r_max=f.rank(col("c_nationkey"), method="max"),
        r_dense=f.rank(col("c_nationkey"), method="dense"),
    ).select(["c_custkey", "r_avg", "r_max", "r_dense"]).lazy_sdf()


# ---------------------------------------------------------------------------
# asof joins, forward & nearest & tolerance (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "q_join_asof_tolerance",
    """
    SELECT e.event_id,
           CASE WHEN p.ts IS NOT NULL AND e.ts - p.ts <= INTERVAL 2 HOUR
                THEN p.event_id END AS prev_purchase_id
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """join_asof backward with a 2-hour tolerance: matches farther than
    the tolerance drop to null (pandas merge_asof semantics; the
    reference leaves tolerance TODO at lazyframe.rs:371-427)."""
    import datetime

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(col("event_type") == lit("purchase"))
        .select(["user_id", "ts", "event_id"])
        .rename({"event_id": "prev_purchase_id"})
    )
    joined = ev.join_asof(
        purchases, on="ts", by=["user_id"], strategy="backward", tolerance=datetime.timedelta(hours=2)
    )
    return joined.select(["event_id", "prev_purchase_id"]).lazy_sdf()


@query(
    "q_join_asof_forward",
    """
    SELECT e.event_id, p.event_id AS next_purchase_id
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
)
def q_join_asof_forward(spark, sf_dir):
    """join_asof forward with by-keys: first purchase at-or-after each
    event (reference data_frame.ex:5566-5690 strategy :forward)."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(col("event_type") == lit("purchase"))
        .select(["user_id", "ts", "event_id"])
        .rename({"event_id": "next_purchase_id"})
    )
    joined = ev.join_asof(purchases, on="ts", by=["user_id"], strategy="forward")
    return joined.select(["event_id", "next_purchase_id"]).lazy_sdf()


@query(
    "q_join_asof_nearest",
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    b AS (SELECT e.event_id, p.event_id AS bid, p.ts AS bts
          FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts),
    fw AS (SELECT e.event_id, p.event_id AS fid, p.ts AS fts
           FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts)
    SELECT e.event_id,
           CASE WHEN bid IS NULL THEN fid
                WHEN fid IS NULL THEN bid
                WHEN (e.ts - bts) <= (fts - e.ts) THEN bid ELSE fid END AS near_purchase_id
    FROM events e JOIN b USING (event_id) JOIN fw USING (event_id)
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """join_asof nearest with by-keys; equidistant ties resolve toward the
    EARLIER right key (documented engine rule, matched in the oracle)."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(col("event_type") == lit("purchase"))
        .select(["user_id", "ts", "event_id"])
        .rename({"event_id": "near_purchase_id"})
    )
    joined = ev.join_asof(purchases, on="ts", by=["user_id"], strategy="nearest")
    return joined.select(["event_id", "near_purchase_id"]).lazy_sdf()


# ---------------------------------------------------------------------------
# reshape edges (SURVEY §2.8)
# ---------------------------------------------------------------------------


@query(
    "q_unnest_struct",
    """
    SELECT p_partkey, split_part(p_name, ' ', 1) AS adjective, split_part(p_name, ' ', 2) AS noun
    FROM part
    """,
)
def q_unnest_struct(spark, sf_dir):
    """split_into -> struct column -> unnest to top-level fields
    (reference data_frame.ex:6341-6382, series.ex split_into)."""
    part = _t(spark, sf_dir, "part")
    st = part.mutate(st=f.split_into(col("p_name"), " ", ["adjective", "noun"]))
    return st.unnest("st").select(["p_partkey", "adjective", "noun"]).lazy_sdf()


@query(
    "q_transpose",
    """
    SELECT 'sum_qty' AS name, CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS value FROM lineitem
    UNION ALL
    SELECT 'avg_price', CAST(ROUND(AVG(l_extendedprice), 6) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 'max_disc', CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
    """,
)
def q_transpose(spark, sf_dir):
    """transpose of a one-row aggregate frame into (name, value) rows
    (reference data_frame.ex:4630-4700)."""
    li = _t(spark, sf_dir, "lineitem")
    one = li.summarise(
        sum_qty=f.round(f.sum(col("l_quantity")), 2),
        avg_price=f.round(f.mean(col("l_extendedprice")), 6),
        max_disc=f.max(col("l_discount")),
    )
    t = one.transpose(header="name", columns=["value"])
    return t.mutate(value=col("value").cast("f64")).lazy_sdf()


@query(
    "q_pivot_first",
    """
    SELECT o_custkey,
           MIN(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderkey END) AS "p_1-URGENT",
           MIN(CASE WHEN o_orderpriority = '2-HIGH' THEN o_orderkey END) AS "p_2-HIGH",
           MIN(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_orderkey END) AS "p_3-MEDIUM",
           MIN(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_orderkey END) AS "p_4-NOT SPECIFIED",
           MIN(CASE WHEN o_orderpriority = '5-LOW' THEN o_orderkey END) AS "p_5-LOW"
    FROM orders GROUP BY o_custkey
    """,
)
def q_pivot_first(spark, sf_dir):
    """pivot_wider with the reference's FIRST-value cell rule: first in
    frame order (= min o_orderkey after the sort), deterministic via
    min_by(value, row_order) (reference dataframe.rs:463 PivotAgg::First)."""
    orders = _t(spark, sf_dir, "orders").sort_by("o_orderkey")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return orders.select(["o_custkey", "o_orderpriority", "o_orderkey"]).pivot_wider(
        "o_orderpriority", "o_orderkey", id_columns=["o_custkey"], values=prios, names_prefix="p_"
    ).lazy_sdf()


@query(
    "q_duration_us",
    """
    WITH x AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT user_id, COUNT(prev) AS n_gaps,
           CAST(MAX(date_diff('microsecond', prev, ts)) AS BIGINT) AS max_gap_us,
           CAST(MIN(date_diff('microsecond', prev, ts) // 1000) AS BIGINT) AS min_gap_ms,
           ROUND(AVG(date_diff('microsecond', prev, ts)), 4) AS avg_gap_us
    FROM x GROUP BY user_id
    """,
)
def q_duration_us(spark, sf_dir):
    """datetime - datetime -> duration, converted to exact µs/ms counts
    (reference duration precisions, shared.ex:12-22; duration_test.exs)."""
    ev = _t(spark, sf_dir, "events").sort_by("ts", "event_id").group_by("user_id")
    gaps = ev.mutate(
        gap_us=f.duration_total(col("ts") - f.shift(col("ts"), 1), "us"),
        gap_ms=f.duration_total(col("ts") - f.shift(col("ts"), 1), "ms"),
    )
    return gaps.summarise(
        n_gaps=f.count(col("gap_us")),
        max_gap_us=f.max(col("gap_us")),
        min_gap_ms=f.min(col("gap_ms")),
        avg_gap_us=f.round(f.mean(f.cast(col("gap_us"), ("f", 64))), 4),
    ).lazy_sdf()


# ---------------------------------------------------------------------------
# temporal edge: ISO year over year boundaries (SURVEY §2.9)
# ---------------------------------------------------------------------------


@query(
    "q_iso_year_edges",
    """
    SELECT CAST(d AS DATE) AS d, CAST(isoyear(d) AS INTEGER) AS iso_yr,
           CAST(weekofyear(d) AS INTEGER) AS iso_wk
    FROM (SELECT unnest(generate_series(DATE '1993-12-20', DATE '1999-01-10', INTERVAL 1 DAY)) AS d)
    """,
)
def q_iso_year_edges(spark, sf_dir):
    """iso_year / week_of_year across every Dec-28..Jan-4 boundary of
    1993-1999 (the dates where ISO year != calendar year; reference
    series.ex temporal accessors)."""
    days = [
        _dt.date(1993, 12, 20) + _dt.timedelta(days=i)
        for i in range((_dt.date(1999, 1, 10) - _dt.date(1993, 12, 20)).days + 1)
    ]
    frame = from_columns({"d": days}, spark=spark)
    return frame.mutate(
        iso_yr=f.iso_year(col("d")), iso_wk=f.week_of_year(col("d"))
    ).lazy_sdf()


@query(
    "q_time_parts",
    """
    SELECT event_id,
           CAST(epoch_ns(ts) - epoch_ns(date_trunc('second', ts)) AS BIGINT) AS ns_of_sec,
           CAST(epoch_ns(ts) - epoch_ns(date_trunc('day', ts)) AS BIGINT) AS ns_of_day
    FROM events
    ORDER BY ts, event_id LIMIT 200
    """,
)
def q_time_parts(spark, sf_dir):
    """nanosecond component and to_time (ns-since-midnight time
    representation) — reference series.ex nanosecond/1 + to_time/1,
    time dtype as ns counts (shared.ex:12-16)."""
    ev = _t(spark, sf_dir, "events").sort_by("ts", "event_id").head(200)
    return ev.mutate(
        ns_of_sec=f.nanosecond(col("ts")), ns_of_day=f.to_time(col("ts"))
    ).select(["event_id", "ns_of_sec", "ns_of_day"]).lazy_sdf()


# ---------------------------------------------------------------------------
# sample with replacement (round 4): exact-n via deterministic hash draws
# ---------------------------------------------------------------------------

# DuckDB mirror of frame._hash_draw: first 15 hex chars of md5 parsed by
# nibble arithmetic (same trick as the simhash oracle) — draw values
# reproduce bit-for-bit, so replacement sampling is value-checkable.
# 15 nibbles = 60 bits, matching the widened draw (mod-total bias
# ≤ total/2^60, negligible at any frame size).
_HEX8 = "(" + " + ".join(
    f"(CASE WHEN ascii(substr(h, {k}, 1)) <= 57 THEN ascii(substr(h, {k}, 1)) - 48 "
    f"ELSE ascii(substr(h, {k}, 1)) - 87 END) * CAST({16 ** (15 - k)} AS BIGINT)"
    for k in range(1, 16)
) + ")"


@query(
    "q_sample_replace",
    f"""
    WITH base AS (
        SELECT r_regionkey, row_number() OVER (ORDER BY r_regionkey) - 1 AS gp FROM region
    ),
    hashed AS (
        SELECT {_HEX8} % (SELECT COUNT(*) FROM region) AS gp
        FROM (SELECT md5('3|' || CAST(i AS VARCHAR)) AS h FROM generate_series(0, 11) t(i))
    )
    SELECT COUNT(*) AS n_rows, CAST(SUM(b.r_regionkey) AS BIGINT) AS key_sum
    FROM hashed x JOIN base b ON b.gp = x.gp
    """,
)
def q_sample_replace(spark, sf_dir):
    """sample(n, replace=True) is EXACT: always n rows, oversampling past
    the frame length allowed (reference sample_n with replacement). Draw
    i resolves to row hash(seed, i) % total (frame._hash_draw), a pure
    column expression any engine reproduces — the oracle rebuilds the
    drawn multiset value-for-value."""
    reg = _t(spark, sf_dir, "region").sort_by("r_regionkey")
    picked = reg.sample(12, replace=True, seed=3)
    return picked.summarise(
        n_rows=f.size(col("r_regionkey")), key_sum=f.sum(col("r_regionkey"))
    ).lazy_sdf()


@query(
    "q_grouped_sample_replace",
    f"""
    WITH sizes AS (SELECT c_nationkey, COUNT(*) AS gn FROM customer GROUP BY c_nationkey),
    hashed AS (
        SELECT c_nationkey, {_HEX8} % gn AS gp
        FROM (
            SELECT c_nationkey, gn,
                   md5('13|' || CAST(c_nationkey AS VARCHAR) || '|' || CAST(i AS VARCHAR)) AS h
            FROM sizes, generate_series(0, 3) t(i)
        )
    ),
    ranked AS (
        SELECT c_nationkey, c_custkey,
               row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) - 1 AS gp
        FROM customer
    )
    SELECT r.c_nationkey, COUNT(*) AS n, CAST(SUM(r.c_custkey) AS BIGINT) AS key_sum
    FROM hashed x JOIN ranked r ON r.c_nationkey = x.c_nationkey AND r.gp = x.gp
    GROUP BY r.c_nationkey
    """,
)
def q_grouped_sample_replace(spark, sf_dir):
    """Grouped sample(n, replace=True) (reference data_frame.ex:4475-4540
    replace: true on grouped frames): exactly n draws per group, draw i
    of group g = row hash(seed, g, i) % group_len within g's frame
    order. Distributed end-to-end (sizes aggregate -> sequence-explode
    -> broadcast multiplicity join); the oracle mirrors the hash."""
    cust = _t(spark, sf_dir, "customer").sort_by("c_custkey").group_by("c_nationkey")
    picked = cust.sample(4, replace=True, seed=13)
    return picked.summarise(
        n=f.size(col("c_custkey")), key_sum=f.sum(col("c_custkey"))
    ).lazy_sdf()


# ---------------------------------------------------------------------------
# round 5: driver rows for the last unit-only verbs (VERDICT r4 gap #2) —
# drop_nil, correlation/covariance matrices, rename/rename_with/relocate,
# pull-shaped materialization
# ---------------------------------------------------------------------------


@query(
    "q_drop_nil",
    """
    WITH base AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
               CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS u
        FROM events
    )
    SELECT COUNT(*) AS n, ROUND(SUM(v), 2) AS v_sum, CAST(SUM(u) AS BIGINT) AS u_sum
    FROM base WHERE v IS NOT NULL AND u IS NOT NULL
    """,
)
def q_drop_nil(spark, sf_dir):
    """drop_nil over synthesized nulls (reference data_frame.ex:3751
    drop_nil/2 — subset form). Nulls woven into two columns, rows with a
    null in EITHER dropped, then one aggregate proves the surviving set."""
    ev = _t(spark, sf_dir, "events")
    base = ev.mutate(
        v=f.select(col("event_type") == lit("error"), lit(None).cast(("f", 64)), col("value")),
        u=f.select(col("user_id") % lit(7) == lit(0), lit(None).cast(("s", 64)), col("user_id")),
    )
    return (
        base.drop_nil(["v", "u"])
        .summarise(
            n=f.size(col("event_id")),
            v_sum=f.round(f.sum(col("v")), 2),
            u_sum=f.sum(col("u")),
        )
        .lazy_sdf()
    )


@query(
    "q_corr_matrix",
    """
    WITH s AS (
        SELECT CAST(l_quantity AS DOUBLE) AS q, CAST(l_extendedprice AS DOUBLE) AS p,
               CAST(l_discount AS DOUBLE) AS d
        FROM lineitem
    )
    SELECT 'l_quantity' AS names, ROUND(corr(q, q), 6) AS l_quantity,
           ROUND(corr(q, p), 6) AS l_extendedprice, ROUND(corr(q, d), 6) AS l_discount FROM s
    UNION ALL
    SELECT 'l_extendedprice', ROUND(corr(p, q), 6), ROUND(corr(p, p), 6), ROUND(corr(p, d), 6) FROM s
    UNION ALL
    SELECT 'l_discount', ROUND(corr(d, q), 6), ROUND(corr(d, p), 6), ROUND(corr(d, d), 6) FROM s
    """,
)
def q_corr_matrix(spark, sf_dir):
    """Pearson correlation MATRIX (reference data_frame.ex:6832-6860
    correlation/2): k numeric columns -> k x k frame with a `names`
    column. ONE aggregate job computes all k^2 cells."""
    li = _t(spark, sf_dir, "lineitem").select(["l_quantity", "l_extendedprice", "l_discount"])
    m = li.correlation()
    return m.mutate(
        **{c: f.round(col(c), 6) for c in ("l_quantity", "l_extendedprice", "l_discount")}
    ).lazy_sdf()


@query(
    "q_cov_matrix",
    """
    WITH s AS (
        SELECT CAST(l_quantity AS DOUBLE) AS q, CAST(l_discount AS DOUBLE) AS d FROM lineitem
    )
    SELECT 'l_quantity' AS names, ROUND(covar_samp(q, q), 4) AS l_quantity,
           ROUND(covar_samp(q, d), 4) AS l_discount FROM s
    UNION ALL
    SELECT 'l_discount', ROUND(covar_samp(d, q), 4), ROUND(covar_samp(d, d), 4) FROM s
    """,
)
def q_cov_matrix(spark, sf_dir):
    """Sample covariance MATRIX (reference data_frame.ex:6862-6884
    covariance/2, ddof=1)."""
    li = _t(spark, sf_dir, "lineitem").select(["l_quantity", "l_discount"])
    m = li.covariance()
    return m.mutate(
        **{c: f.round(col(c), 4) for c in ("l_quantity", "l_discount")}
    ).lazy_sdf()


@query(
    "q_rename_relocate",
    """
    SELECT n_nationkey, n_name AS nation_name, n_regionkey AS n_regionkey_r
    FROM nation
    """,
)
def q_rename_relocate(spark, sf_dir):
    """rename (map form) + rename_with (callback over a selector) +
    relocate after a named column (reference data_frame.ex:3821-4092)."""
    nat = _t(spark, sf_dir, "nation")
    return (
        nat.rename({"n_name": "nation_name"})
        .rename_with(lambda c: c + "_r", ["n_regionkey"])
        .relocate(["nation_name"], after="n_nationkey")
        .lazy_sdf()
    )


@query(
    "q_pull_series",
    """
    SELECT (SELECT COUNT(*) FROM orders) AS n,
           (SELECT ROUND(SUM(o_totalprice), 2) FROM orders) AS total,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders) AS key_sum
    """,
)
def q_pull_series(spark, sf_dir):
    """pull by NAME and by 0-based INDEX (reference pull/2 returns a
    %Series{}): both pulled series re-materialize as frames and their
    aggregates align positionally via concat_columns."""
    orders = _t(spark, sf_dir, "orders")
    price = orders.pull("o_totalprice")
    key = orders.pull(0)  # o_orderkey by position
    a = price.to_frame().summarise(
        n=f.size(col("o_totalprice")), total=f.round(f.sum(col("o_totalprice")), 2)
    )
    b = key.to_frame().summarise(key_sum=f.sum(col("o_orderkey")))
    return a.concat_columns(b).lazy_sdf()


@query(
    "q_cube_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total, 'cube' AS kind
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total, 'rollup' AS kind
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_rollup(spark, sf_dir):
    """Spark-native CUBE/ROLLUP passthrough (additive over the reference
    surface, like streaming): one summarise per mode, aggregated over all
    grouping sets; NULL marks the rolled-up level (Spark semantics, same
    as ANSI)."""
    orders = _t(spark, sf_dir, "orders")
    aggs = dict(n=f.size(col("o_orderkey")), total=f.round(f.sum(col("o_totalprice")), 2))
    c = orders.cube("o_orderstatus", "o_orderpriority").summarise(**aggs).mutate(kind=lit("cube"))
    r = orders.rollup("o_orderstatus", "o_orderpriority").summarise(**aggs).mutate(kind=lit("rollup"))
    return c.concat_rows(r).lazy_sdf()


# ---------------------------------------------------------------------------
# row-order pinning after a shuffle (round 10: explode / concat_rows kept
# the physical partition layout as the new order whenever the frame had
# been shuffled — e.g. by a grouped mutate — instead of the logical
# ORDER_COL; the driver hash is order-insensitive, so these two oracles
# MATERIALIZE the row index and grade it)
# ---------------------------------------------------------------------------


@query(
    "q_explode_order",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS seg_n,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rid,
             str_split(c_name, '#') AS parts
      FROM customer
    )
    SELECT CAST(rid * 2 AS BIGINT) AS idx, c_custkey, c_mktsegment,
           CAST(seg_n AS BIGINT) AS seg_n, parts[1] AS part FROM base
    UNION ALL
    SELECT CAST(rid * 2 + 1 AS BIGINT), c_custkey, c_mktsegment,
           CAST(seg_n AS BIGINT), parts[2] FROM base
    """,
)
def q_explode_order(spark, sf_dir):
    """explode preserves the frame's ROW ORDER even after a shuffle
    (Polars explode is order-preserving, reference lazy_frame.ex explode;
    polars lazyframe.rs:163-167). The grouped mutate forces a hash
    shuffle first, so the physical layout no longer matches the logical
    order — the round-10 posexplode + (parent order, pos) re-sort is what
    this grades. row_index materializes the order for the driver hash."""
    cust = (
        _t(spark, sf_dir, "customer")
        .select(["c_custkey", "c_mktsegment", "c_name"])
        .sort_by("c_custkey")
        .group_by("c_mktsegment")
        .mutate(seg_n=f.size(col("c_custkey")))
        .ungroup()
        .mutate(part=f.split(col("c_name"), "#"))
        .discard("c_name")
        .explode("part")
    )
    return (
        cust.mutate(idx=f.row_index())
        .mutate(idx=col("idx").cast(("s", 64)), seg_n=col("seg_n").cast(("s", 64)))
        .select(["idx", "c_custkey", "c_mktsegment", "seg_n", "part"])
        .lazy_sdf()
    )


@query(
    "q_concat_rows_order",
    """
    WITH neg AS (
      SELECT c_custkey, c_mktsegment,
             CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_n,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rid
      FROM customer WHERE c_acctbal < 0
    ),
    pos AS (
      SELECT c_custkey, c_mktsegment,
             CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_n,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rid
      FROM customer WHERE c_acctbal >= 0
    )
    SELECT CAST(rid AS BIGINT) AS idx, c_custkey, c_mktsegment, seg_n FROM neg
    UNION ALL
    SELECT CAST(rid + (SELECT COUNT(*) FROM neg) AS BIGINT), c_custkey, c_mktsegment, seg_n
    FROM pos
    """,
)
def q_concat_rows_order(spark, sf_dir):
    """concat_rows preserves EACH input's row order, first frame's rows
    before the second's (reference concat_rows/2, data_frame.ex:5762).
    Both inputs are shuffled (grouped mutate) before the concat, so the
    round-10 per-input ORDER_COL re-sort is what this grades; row_index
    materializes the final order for the driver hash."""

    def half(pred):
        return (
            _t(spark, sf_dir, "customer")
            .select(["c_custkey", "c_mktsegment", "c_acctbal"])
            .sort_by("c_custkey")
            .filter(pred)
            .group_by("c_mktsegment")
            .mutate(seg_n=f.size(col("c_custkey")))
            .ungroup()
            .discard("c_acctbal")
        )

    neg = half(col("c_acctbal") < 0)
    pos = half(col("c_acctbal") >= 0)
    out = neg.concat_rows(pos)
    return (
        out.mutate(idx=f.row_index())
        .mutate(idx=col("idx").cast(("s", 64)), seg_n=col("seg_n").cast(("s", 64)))
        .select(["idx", "c_custkey", "c_mktsegment", "seg_n"])
        .lazy_sdf()
    )
