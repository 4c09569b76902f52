"""Extended parity queries: asof join, outer join, combinators, null
strategies, regex/strftime, one-hot, peaks, positional slicing, weighted
rolling — each exercising a SURVEY.md §2 verb with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as SF

from . import functions as f
from .expr import col, lit, raw
from .queries import query
from .sources import load_table


def _t(spark, sf_dir, name):
    return load_table(sf_dir, name, spark=spark)


@query(
    "q_join_asof_backward",
    """
    SELECT e.event_id, p.event_id AS last_purchase_id
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_join_asof_backward(spark, sf_dir):
    """join_asof backward with by-keys: each event matched to the same
    user's most recent purchase at-or-before it (SURVEY §2.4)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == lit("purchase")).select(["user_id", "ts", "event_id"]).rename(
        {"event_id": "last_purchase_id"}
    )
    joined = ev.join_asof(purchases, on="ts", by=["user_id"], strategy="backward")
    return joined.select(["event_id", "last_purchase_id"]).lazy_sdf()


@query(
    "q_join_outer",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS cust_without_orders,
           COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS orders_without_cust,
           ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS total
    FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
    """,
)
def q_join_outer(spark, sf_dir):
    """Full outer join keeps both key columns (reference outer-join rule)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = cust.join(orders, on=[("c_custkey", "o_custkey")], how="outer")
    return joined.summarise(
        n_rows=f.size(col("c_custkey")),
        cust_without_orders=f.count(f.select(col("o_orderkey").is_nil(), lit(1), lit(None).cast(("s", 32)))),
        orders_without_cust=f.count(f.select(col("c_custkey").is_nil(), lit(1), lit(None).cast(("s", 32)))),
        total=f.round(f.sum(f.coalesce(col("o_totalprice"), lit(0.0))), 2),
    ).lazy_sdf()


@query(
    "q_concat_rows",
    """
    SELECT kind, COUNT(*) AS n, ROUND(AVG(bal), 6) AS avg_bal
    FROM (
        SELECT 'customer' AS kind, c_acctbal AS bal FROM customer
        UNION ALL
        SELECT 'supplier' AS kind, s_acctbal AS bal FROM supplier
    )
    GROUP BY kind
    """,
)
def q_concat_rows(spark, sf_dir):
    """concat_rows with column matching (SURVEY §2.4 combinators)."""
    cust = _t(spark, sf_dir, "customer").select(["c_acctbal"]).rename({"c_acctbal": "bal"}).mutate(kind=lit("customer"))
    supp = _t(spark, sf_dir, "supplier").select(["s_acctbal"]).rename({"s_acctbal": "bal"}).mutate(kind=lit("supplier"))
    return (
        cust.concat_rows(supp)
        .group_by("kind")
        .summarise(n=f.size(col("bal")), avg_bal=f.round(f.mean(col("bal")), 6))
        .lazy_sdf()
    )


@query(
    "q_fill_forward",
    """
    SELECT event_id,
           ROUND(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    """,
)
def q_fill_forward(spark, sf_dir):
    """fill_missing(:forward) over synthesized nulls (SURVEY §2.9)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.sort_by("ts", "event_id")
        .mutate(v=f.select(col("event_type") == lit("error"), lit(None).cast(("f", 64)), col("value")))
        .group_by("user_id")
        .mutate(filled=f.round(f.fill_missing(col("v"), "forward"), 4))
        .ungroup()
        .select(["event_id", "filled"])
        .lazy_sdf()
    )


@query(
    "q_regex_ops",
    """
    SELECT p_partkey,
           len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
           CASE WHEN regexp_matches(p_name, '^[a-m]') THEN TRUE ELSE FALSE END AS starts_early,
           regexp_replace(p_name, '[0-9]+', '#', 'g') AS name_masked,
           regexp_extract(p_type, '([A-Za-z]+)$', 1) AS type_last
    FROM part
    """,
)
def q_regex_ops(spark, sf_dir):
    """Regex vocabulary: count/contains/replace/extract (SURVEY §2.9)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.mutate(
            n_vowels=f.cast(f.re_count_matches(col("p_name"), "[aeiou]"), ("s", 64)),
            starts_early=f.re_contains(col("p_name"), "^[a-m]"),
            name_masked=f.re_replace(col("p_name"), "[0-9]+", "#"),
            type_last=raw(SF.regexp_extract(SF.col("p_type"), r"([A-Za-z]+)$", 1)),
        )
        .select(["p_partkey", "n_vowels", "starts_early", "name_masked", "type_last"])
        .lazy_sdf()
    )


@query(
    "q_strftime_buckets",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def q_strftime_buckets(spark, sf_dir):
    """strftime month bucketing (chrono-token -> JVM-pattern shim)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.mutate(ym=f.strftime(col("o_orderdate"), "%Y-%m"))
        .group_by("ym")
        .summarise(n=f.size(col("o_orderkey")), total=f.round(f.sum(col("o_totalprice")), 2))
        .lazy_sdf()
    )


@query(
    "q_dummies_onehot",
    """
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_AUTOMOBILE,
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS seg_BUILDING,
           CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_FURNITURE,
           CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS seg_HOUSEHOLD,
           CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS seg_MACHINERY
    FROM customer GROUP BY c_nationkey
    """,
)
def q_dummies_onehot(spark, sf_dir):
    """dummies (one-hot) then per-nation sums (SURVEY §2.8). The dummies
    result is ONLY the flag columns (reference data_frame.ex:4057), so
    the id column rides back in via positional concat_columns — the
    reference idiom for keeping context columns."""
    cust = _t(spark, sf_dir, "customer")
    hot = (
        cust.select(["c_nationkey"])
        .concat_columns(cust.select(["c_mktsegment"]).dummies(["c_mktsegment"]))
        .rename_with(
            lambda c: c.replace("c_mktsegment_", "seg_") if c.startswith("c_mktsegment_") else c
        )
    )
    seg_cols = [c for c in hot.names if c.startswith("seg_")]
    return (
        hot.group_by("c_nationkey")
        .summarise(**{c: f.sum(col(c)) for c in seg_cols})
        .lazy_sdf()
    )


@query(
    "q_peaks",
    """
    SELECT user_id, COUNT(CASE WHEN is_peak THEN 1 END) AS n_peaks
    FROM (
        SELECT user_id,
               value > COALESCE(lag(value) OVER w, CAST('-infinity' AS DOUBLE))
               AND value > COALESCE(lead(value) OVER w, CAST('-infinity' AS DOUBLE)) AS is_peak
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    GROUP BY user_id
    """,
)
def q_peaks(spark, sf_dir):
    """peaks(:max): local maxima per user series (SURVEY §2.6)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.sort_by("ts", "event_id")
        .group_by("user_id")
        .mutate(is_peak=f.peaks(col("value"), "max"))
        .summarise(n_peaks=f.count(f.select(col("is_peak"), lit(1), lit(None).cast(("s", 32)))))
        .lazy_sdf()
    )


@query(
    "q_slice_offset",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10 OFFSET 5
    """,
)
def q_slice_offset(spark, sf_dir):
    """Positional slice on a sorted frame (ordered-row machinery)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.sort_by("l_extendedprice", "l_orderkey", "l_linenumber", descending=[True, False, False])
        .slice(5, 10)
        .select(["l_orderkey", "l_linenumber", "l_extendedprice"])
        .lazy_sdf()
    )


@query(
    "q_window_weighted",
    """
    SELECT o_orderkey,
           ROUND(COALESCE(0.25 * lag(o_totalprice) OVER w, 0) + 0.75 * o_totalprice, 4) AS wsum
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_weighted(spark, sf_dir):
    """Weighted rolling sum (weights [0.25, 0.75], oldest first)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.sort_by("o_orderdate", "o_orderkey")
        .group_by("o_custkey")
        .mutate(wsum=f.round(f.window_sum(col("o_totalprice"), 2, weights=[0.25, 0.75]), 4))
        .ungroup()
        .select(["o_orderkey", "wsum"])
        .lazy_sdf()
    )


@query(
    "q_window_rolling_full",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice AS x,
             lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS xl,
             median(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS med3
      FROM orders
    )
    SELECT o_orderkey,
      ROUND(LEAST(xl * 0.25, x * 0.75), 4) AS wmn,
      ROUND(GREATEST(xl * 0.25, x * 0.75), 4) AS wmx,
      ROUND(SQRT(GREATEST(
        (COALESCE((xl * xl) * 0.25, 0) + (x * x) * 0.75)
          / (CASE WHEN xl IS NULL THEN 0.75 ELSE 1.0 END)
        - ((COALESCE(xl * 0.25, 0) + x * 0.75)
            / (CASE WHEN xl IS NULL THEN 0.75 ELSE 1.0 END))
          * ((COALESCE(xl * 0.25, 0) + x * 0.75)
            / (CASE WHEN xl IS NULL THEN 0.75 ELSE 1.0 END)), 0)), 2) AS wsd,
      ROUND(med3, 4) AS med
    FROM t
    """,
)
def q_window_rolling_full(spark, sf_dir):
    """Weighted rolling min/max/std + exact rolling median
    (series.ex:5182-5342 window_* family; weights oldest-first,
    biased weighted variance per the window_standard_deviation doctest)."""
    orders = _t(spark, sf_dir, "orders")
    price = col("o_totalprice")
    return (
        orders.sort_by("o_orderdate", "o_orderkey")
        .group_by("o_custkey")
        .mutate(
            wmn=f.round(f.window_min(price, 2, weights=[0.25, 0.75]), 4),
            wmx=f.round(f.window_max(price, 2, weights=[0.25, 0.75]), 4),
            wsd=f.round(f.window_standard_deviation(price, 2, weights=[0.25, 0.75]), 2),
            med=f.round(f.window_median(price, 3), 4),
        )
        .ungroup()
        .select(["o_orderkey", "wmn", "wmx", "wsd", "med"])
        .lazy_sdf()
    )


@query(
    "q_duration_arith",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(AVG(date_diff('day', o_orderdate, l_shipdate)), 6) AS avg_delay_days,
           CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_delay_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_duration_arith(spark, sf_dir):
    """Temporal arithmetic: datetime - datetime -> duration in days
    (reference duration dtype semantics, SURVEY §1.2)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = orders.join(li, on=[("o_orderkey", "l_orderkey")], how="inner")
    delay = raw(SF.datediff(SF.col("l_shipdate"), SF.col("o_orderdate")))
    return (
        joined.mutate(delay=delay)
        .group_by("o_orderpriority")
        .summarise(
            n=f.size(col("delay")),
            avg_delay_days=f.round(f.mean(col("delay")), 6),
            max_delay_days=f.cast(f.max(col("delay")), ("s", 64)),
        )
        .lazy_sdf()
    )


@query(
    "q_mode_agg",
    """
    SELECT l_returnflag, CAST(mode(l_linenumber) AS INT) AS mode_line,
           CAST(mode(l_suppkey % 7) AS BIGINT) AS mode_bucket
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_mode_agg(spark, sf_dir):
    """mode() aggregate. The engine's mode returns ALL tied modes as a
    sorted list (reference semantics, round-8 parity fix); these
    distributions have clear winners, so element 1 mirrors DuckDB's
    scalar mode()."""
    from pyspark.sql import functions as SF

    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.mutate(bucket=col("l_suppkey") % lit(7))
        .group_by("l_returnflag")
        .summarise(
            mode_line=f.mode(col("l_linenumber")),
            mode_bucket=f.mode(col("bucket")),
        )
        .lazy_sdf()
    )
    return out.select(
        "l_returnflag",
        SF.element_at("mode_line", 1).cast("int").alias("mode_line"),
        SF.element_at("mode_bucket", 1).cast("long").alias("mode_bucket"),
    )


@query(
    "q_cummax_running",
    """
    SELECT o_orderkey,
           ROUND(MAX(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_max,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_n
    FROM orders
    """,
)
def q_cummax_running(spark, sf_dir):
    """cumulative_max + cumulative_count per group."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.sort_by("o_orderdate", "o_orderkey")
        .group_by("o_custkey")
        .mutate(
            run_max=f.round(f.cumulative_max(col("o_totalprice")), 2),
            run_n=f.cumulative_count(col("o_totalprice")),
        )
        .ungroup()
        .select(["o_orderkey", "run_max", "run_n"])
        .lazy_sdf()
    )


@query(
    "q_spearman_corr",
    """
    SELECT ROUND(corr(rq, rp), 6) AS spearman
    FROM (
        SELECT (CAST(rank() OVER (ORDER BY l_quantity) AS DOUBLE) * 2
                + COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
               (CAST(rank() OVER (ORDER BY l_extendedprice) AS DOUBLE) * 2
                + COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rp
        FROM lineitem
    )
    """,
)
def q_spearman_corr(spark, sf_dir):
    """Spearman correlation = Pearson over tie-corrected AVERAGE ranks
    (what Polars/pandas compute). The rank runs through the distributed
    kernel (operators/ordered.py) — no single-partition global window."""
    li = _t(spark, sf_dir, "lineitem")
    ranked = li.mutate(
        rq=f.rank(col("l_quantity"), method="average"),
        rp=f.rank(col("l_extendedprice"), method="average"),
    )
    return ranked.summarise(
        spearman=f.round(f.correlation(col("rq"), col("rp")), 6)
    ).lazy_sdf()


@query(
    "q_events_session_window",
    """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess
        FROM g
    )
    SELECT MIN(ts) AS w_start, MAX(ts) + INTERVAL 30 MINUTE AS w_end,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def q_events_session_window(spark, sf_dir):
    """session_window(gap) — Spark's native session windows in batch mode;
    oracle reproduces merge semantics via the lag+cumsum rendering."""
    from .streaming import session_windows_stream

    ev = _t(spark, sf_dir, "events").lazy_sdf()
    return session_windows_stream(ev, "30 minutes")


@query(
    "q_events_sliding",
    """
    -- 1h windows sliding every 30min: each event falls in exactly two
    -- windows, whose starts are the 30min bucket and the one before it
    WITH w AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value FROM events
    )
    SELECT w_start, ROUND(AVG(value), 6) AS avg_value, COUNT(*) AS n
    FROM w GROUP BY w_start
    """,
)
def q_events_sliding(spark, sf_dir):
    """Sliding event-time windows (1h / 30min hop)."""
    from .streaming import sliding_means

    ev = _t(spark, sf_dir, "events").lazy_sdf()
    return sliding_means(ev, "1 hour", "30 minutes")


@query(
    "q_sql_passthrough",
    """
    SELECT n_name, COUNT(*) AS n_supp, ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sql_passthrough(spark, sf_dir):
    """DataFrame.sql() pass-through (reference data_frame.ex:6924-6930) —
    multi-table via temp views."""
    supp = _t(spark, sf_dir, "supplier")
    _t(spark, sf_dir, "nation").lazy_sdf().createOrReplaceTempView("nation_v")
    out = supp.sql(
        """
        SELECT n_name, COUNT(*) AS n_supp, ROUND(SUM(s_acctbal), 2) AS total_bal
        FROM df JOIN nation_v ON s_nationkey = n_nationkey
        GROUP BY n_name
        """,
        table_name="df",
    )
    return out.lazy_sdf()


@query(
    "q_iso_temporal",
    """
    SELECT CAST(isoyear(l_shipdate) AS INT) AS iso_yr,
           CAST(weekofyear(l_shipdate) AS INT) AS iso_wk,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_iso_temporal(spark, sf_dir):
    """iso_year / week_of_year (ISO week numbering edge cases)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.mutate(iso_yr=f.iso_year(col("l_shipdate")), iso_wk=f.week_of_year(col("l_shipdate")))
        .group_by("iso_yr", "iso_wk")
        .summarise(n=f.size(col("l_orderkey")))
        .lazy_sdf()
    )


@query(
    "q_describe_stats",
    """
    WITH s AS (
        SELECT o_totalprice AS v,
               row_number() OVER (ORDER BY o_totalprice) - 1 AS pos,
               COUNT(*) OVER () AS n
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    q AS (
        SELECT MAX(CASE WHEN pos = CAST(FLOOR(0.25 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p25,
               MAX(CASE WHEN pos = CAST(FLOOR(0.50 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p50,
               MAX(CASE WHEN pos = CAST(FLOOR(0.75 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p75
        FROM s
    )
    SELECT COUNT(o_totalprice) AS cnt,
           ROUND(AVG(o_totalprice), 4) AS mean,
           ROUND(stddev_samp(o_totalprice), 4) AS std,
           ROUND(MIN(o_totalprice), 4) AS min,
           ROUND((SELECT p25 FROM q), 4) AS p25,
           ROUND((SELECT p50 FROM q), 4) AS p50,
           ROUND((SELECT p75 FROM q), 4) AS p75,
           ROUND(MAX(o_totalprice), 4) AS max
    FROM orders
    """,
)
def q_describe_stats(spark, sf_dir):
    """describe-shape statistics: NEAREST-element percentiles (the
    reference quantile default, native series.rs:1355), ddof=1 std."""
    orders = _t(spark, sf_dir, "orders")
    return orders.summarise(
        cnt=f.count(col("o_totalprice")),
        mean=f.round(f.mean(col("o_totalprice")), 4),
        std=f.round(f.standard_deviation(col("o_totalprice")), 4),
        min=f.round(f.min(col("o_totalprice")), 4),
        p25=f.round(f.quantile(col("o_totalprice"), 0.25), 4),
        p50=f.round(f.quantile(col("o_totalprice"), 0.5), 4),
        p75=f.round(f.quantile(col("o_totalprice"), 0.75), 4),
        max=f.round(f.max(col("o_totalprice")), 4),
    ).lazy_sdf()


@query(
    "q_ungrouped_quantile",
    """
    WITH s AS (
        SELECT l_extendedprice AS v,
               row_number() OVER (ORDER BY l_extendedprice) - 1 AS pos,
               COUNT(*) OVER () AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    q AS (
        SELECT MAX(CASE WHEN pos = CAST(FLOOR(0.10 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p10,
               MAX(CASE WHEN pos = CAST(FLOOR(0.50 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p50,
               MAX(CASE WHEN pos = CAST(FLOOR(0.90 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p90,
               MAX(CASE WHEN pos = CAST(FLOOR(0.99 * (n - 1) + 0.5) AS BIGINT) THEN v END) AS p99
        FROM s
    )
    SELECT p10, p50, p90, p99,
           (SELECT ROUND(MEDIAN(l_quantity), 4) FROM lineitem) AS med_qty
    FROM q
    """,
)
def q_ungrouped_quantile(spark, sf_dir):
    """Whole-frame NEAREST quantiles on the largest table (reference
    quantile/2 default, native series.rs:1355) — routed through
    multi-rank probe-count selection (operators/ordered.quantile_select:
    batched conditional-count scans over IEEE-bit-space value grids,
    ZERO shuffles, bounded bracket collect), NEVER
    ``array_sort(collect_list(col))`` — the sorted-collect rendering is
    for grouped frames only, where the buffer is one group. All four qs
    over the same column share ONE kernel pass. Median (linear
    interpolation, reference median/1) stays a Spark percentile
    aggregate: its buffer is a distinct-value count map, bounded by
    cardinality, not rows."""
    li = _t(spark, sf_dir, "lineitem")
    return li.summarise(
        p10=f.quantile(col("l_extendedprice"), 0.10),
        p50=f.quantile(col("l_extendedprice"), 0.50),
        p90=f.quantile(col("l_extendedprice"), 0.90),
        p99=f.quantile(col("l_extendedprice"), 0.99),
        med_qty=f.round(f.median(col("l_quantity")), 4),
    ).lazy_sdf()


@query(
    "q_at_every",
    """
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    QUALIFY (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) % 100 = 0
    """,
)
def q_at_every(spark, sf_dir):
    """at_every(100) on a sorted frame — contiguous row-index machinery
    (per-partition offsets, no global single-partition window).

    Projects the two needed columns BEFORE sorting: the index kernel must
    pin (localCheckpoint) every column the caller may read, so early
    projection is the scale pattern — it shrinks the sort exchange and
    the pin by the payload width (here 16 -> 2 columns)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(["l_orderkey", "l_linenumber"])
        .sort_by("l_orderkey", "l_linenumber")
        .at_every(100)
        .lazy_sdf()
    )


@query(
    "q_tz_wall_clock",
    """
    SELECT CAST(hour(timezone('America/New_York', timezone('UTC', ts))) AS INT) AS hr,
           CAST(isodow(timezone('America/New_York', timezone('UTC', ts))) AS INT) AS dow,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tz_wall_clock(spark, sf_dir):
    """{:datetime, us, tz} end to end: a mutate-level cast stamps the
    zone (expr._node_meta), and expression-level wall-clock
    extraction (expr._wall, reference shared.ex:78-79) reads LOCAL
    fields — hour/day_of_week here are America/New_York wall clock,
    spanning the EST->EDT jump in the 2024 event range. The shift is a
    zero-shuffle projection; the only exchange is the group-by."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.mutate(ts_ny=f.cast(col("ts"), ("datetime", "us", "America/New_York")))
        .mutate(hr=f.hour(col("ts_ny")), dow=f.day_of_week(col("ts_ny")))
        .group_by("hr", "dow")
        .summarise(n=f.size(col("event_id")), total=f.round(f.sum(col("value")), 2))
        .lazy_sdf()
    )


@query(
    "q_tz_derived_wall",
    """
    SELECT CAST(hour(timezone('America/New_York', timezone('UTC', ts + INTERVAL 90 MINUTE))) AS INT) AS hr,
           CAST(isodow(timezone('America/New_York', timezone('UTC', ts + INTERVAL 90 MINUTE))) AS INT) AS dow,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tz_derived_wall(spark, sf_dir):
    """Zone carriage through COMPUTED expression children (round-8
    closure of the last tz gap): the wall-clock read is over
    ``ts_ny + 90min`` — a derived child, which Spark strips column
    metadata from — so the zone must ride the repo's OWN Expr-tree
    dtype inference (expr._node_meta), the way the reference's
    LazySeries carries dtype per node (lazy_series.ex:216-236;
    wall-field semantics shared.ex:78-79). The oracle derives the same
    timestamp and reads it AT TIME ZONE in DuckDB. Plan shape matches
    q_tz_wall_clock: zero-shuffle projection + one group-by exchange."""
    import datetime as _dtm

    ev = _t(spark, sf_dir, "events")
    shifted = col("ts_ny") + _dtm.timedelta(minutes=90)
    return (
        ev.mutate(ts_ny=f.cast(col("ts"), ("datetime", "us", "America/New_York")))
        .mutate(hr=f.hour(shifted), dow=f.day_of_week(shifted))
        .group_by("hr", "dow")
        .summarise(n=f.size(col("event_id")), total=f.round(f.sum(col("value")), 2))
        .lazy_sdf()
    )


@query(
    "q_epoch_ms_counts",
    """
    SELECT COUNT(*) AS n,
           MIN(epoch_ms(ts)) AS mn_ms,
           MAX(epoch_ms(ts)) AS mx_ms,
           CAST(COUNT(DISTINCT epoch_ms(ts) // 3600000) AS BIGINT) AS n_hours
    FROM events
    """,
)
def q_epoch_ms_counts(spark, sf_dir):
    """{:naive_datetime, ms} precision: cast to ms (sub-ms truncates
    toward zero, expr._cast) then to s64 — the integer
    is the epoch COUNT in the column's logical precision (reference
    polars cast semantics), not Spark's timestamp->bigint seconds."""
    ev = _t(spark, sf_dir, "events")
    ms = ev.pull("ts").cast(("naive_datetime", "ms")).cast(("s", 64))
    fr = ms._frame.rename({ms.name: "ms"})
    return fr.summarise(
        n=f.size(col("ms")),
        mn_ms=f.min(col("ms")),
        mx_ms=f.max(col("ms")),
        n_hours=f.n_distinct(f.quotient(col("ms"), lit(3_600_000))),
    ).lazy_sdf()
