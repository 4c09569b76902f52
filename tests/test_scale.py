"""Scale-path evidence tests: bucketed co-located joins (no Exchange),
plan pushdown invariants, stateful streaming operator."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    from explorer_spark.operators.bucketing import (
        cocated_join_plan_is_shuffle_free,
        write_bucketed,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    write_bucketed(li.select("l_orderkey", "l_quantity"), "t_li_b", "l_orderkey", buckets=4)
    write_bucketed(orders.select("l_orderkey", "o_totalprice"), "t_ord_b", "l_orderkey", buckets=4)
    assert cocated_join_plan_is_shuffle_free(spark, "t_li_b", "t_ord_b", "l_orderkey")
    # and the join still returns correct rows
    got = spark.table("t_li_b").join(spark.table("t_ord_b"), "l_orderkey").count()
    want = li.join(orders, "l_orderkey").count()
    assert got == want


def test_filter_pushdown_reaches_scan(spark):
    from explorer_spark.sources import read_parquet
    from explorer_spark.expr import col, lit

    df = read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = df.filter(col("l_quantity") < lit(10)).select(["l_orderkey", "l_quantity"])
    plan = _plan(out.lazy_sdf())
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]" in plan
    # hidden order column pruned from the parquet read
    assert "__row_order__" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_hidden_order_column_pruned_in_agg(spark):
    from explorer_spark.sources import read_parquet
    from explorer_spark import f
    from explorer_spark.expr import col

    df = read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = df.group_by("l_returnflag").summarise(s=f.sum(col("l_quantity")))
    first_read = _plan(out.lazy_sdf()).split("ReadSchema: ")[1].splitlines()[0]
    assert "__row_order__" not in first_read
    assert "l_returnflag" in first_read


def test_stateful_running_totals_matches_batch(spark):
    from explorer_spark.streaming.stateful import run_stateful_once
    from explorer_spark.sources import read_parquet
    import tempfile

    ev = read_parquet("/root/testdata/sf0.001/events.parquet").lazy_sdf()
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/events"
        ev.write.mode("overwrite").parquet(path)
        out = run_stateful_once(spark, path).toPandas()
    batch = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .toPandas()
    )
    got = out.sort_values("user_id").reset_index(drop=True)
    want = batch.sort_values("user_id").reset_index(drop=True)
    assert (got["n_events"].values == want["n_events"].values).all()
    assert (abs(got["total_value"].values - want["total_value"].values) < 1e-6).all()


def test_rank_random_seeded(spark):
    import explorer_spark as ex
    from explorer_spark import col, f

    d = ex.from_columns({"x": [1, 1, 1, 2]}, spark=spark)
    r1 = d.mutate(r=f.rank(col("x"), method="random", seed=7)).to_columns()["r"]
    r2 = d.mutate(r=f.rank(col("x"), method="random", seed=7)).to_columns()["r"]
    assert sorted(r1) == [1, 2, 3, 4]
    assert r1 == r2  # seeded determinism
    assert r1[3] == 4  # the non-tied max value always ranks last


def test_minhash_lsh_stays_bounded(spark):
    """Scale evidence for the dedup family: every stage of the
    minhash->LSH->verify pipeline is O(tokens) or O(candidates), never
    O(n^2) — the property that survives a 100x corpus.

    Checks (sf0.01 documents, 500+ docs):
    1. shingle explosion is O(total tokens), not quadratic;
    2. candidate pairs are a vanishing fraction of all-pairs and exactly
       the per-bucket nC2 sum (equi-join on (band,bucket), no blowup);
    3. the pair join's physical plan contains no cartesian product or
       nested-loop join — the join is hash/merge on the bucket key.
    """
    from pyspark.sql import functions as F

    from explorer_spark.operators.dedup import lsh_buckets, lsh_candidate_pairs, minhash_signatures
    from explorer_spark.operators.text import shingle_rows
    from explorer_spark.sources import load_table

    docs = load_table("/root/testdata/sf0.01", "documents", spark=spark).lazy_sdf()
    n_docs = docs.count()
    total_words = docs.select(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("w")
    ).collect()[0]["w"]

    # 1. shingle stage row count is linear in tokens
    n_shingles = shingle_rows(docs, "doc_id", "text", 3).count()
    assert n_shingles <= total_words

    sig = minhash_signatures(docs, num_hashes=8, shingle_n=3)
    buckets = lsh_buckets(sig, num_hashes=8, bands=4)
    cand = lsh_candidate_pairs(buckets)

    # 2. candidates == sum over buckets of c*(c-1)/2 (before distinct) and
    #    a vanishing fraction of the quadratic all-pairs space
    per_bucket = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
    pair_bound = per_bucket.select(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p")).collect()[0]["p"]
    n_cand = cand.count()
    assert n_cand <= pair_bound
    all_pairs = n_docs * (n_docs - 1) / 2
    assert n_cand < 0.02 * all_pairs, f"{n_cand} candidates vs {all_pairs} all-pairs"

    # 3. plan audit: bucket self-join must be an equi-join
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_candidate_stage_is_equi_join(spark):
    """The SRP-LSH candidate stage must plan as an equi-join on
    (band, bucket) — no cartesian product / nested-loop anywhere, the
    invariant that survives a 100x corpus."""
    from explorer_spark.operators.similarity import embedding_lsh_pairs
    from explorer_spark.sources import read_parquet

    emb = read_parquet("/root/testdata/sf0.001/embeddings.parquet").lazy_sdf()
    pairs = embedding_lsh_pairs(emb, nbits=16, bands=4, dim=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_columns_multi_single_value_shuffle(spark):
    """The multi-column rank kernel melts N columns through ONE distinct
    value table: exactly one RangePartitioning exchange in the whole
    rank plan (plus the hash exchanges for groupBy/window/join-back)."""
    from explorer_spark.operators.ordered import rank_columns_multi

    sdf = spark.range(1000).selectExpr(
        "CAST(id % 37 AS DOUBLE) AS a", "CAST(id % 11 AS DOUBLE) AS b"
    )
    out = rank_columns_multi(sdf, {"a": "ra", "b": "rb"}, method="average")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the single range shuffle sits BEHIND the checkpoint boundary: both
    # per-column join-backs must scan the SAME pinned value table (two
    # ExistingRDD scans of one RDD), and nothing may go cartesian
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") == 2, plan[:2000]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """partition_by layout + a filter over the partition column =>
    directory-level pruning: the scan's PartitionFilters carry the
    predicate and only matching partitions are read."""
    from explorer_spark.sources import read_parquet, write_parquet

    orders = read_parquet("/root/testdata/sf0.001/orders.parquet", spark=spark)
    out = str(tmp_path / "orders_by_prio")
    write_parquet(orders, out, partition_by=["o_orderpriority"])
    from explorer_spark import col, lit

    back = read_parquet(out, spark=spark).filter(col("o_orderpriority") == lit("1-URGENT"))
    plan = back.lazy_sdf()._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderpriority" in plan.split("PartitionFilters")[1][:200]
    n_urgent = back.lazy_sdf().count()
    want = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter("o_orderpriority = '1-URGENT'")
        .count()
    )
    assert n_urgent == want


def test_salted_join_matches_plain_join(spark):
    """Salting redistributes a hot key without changing the result."""
    from explorer_spark.operators.bucketing import salted_join

    left = spark.range(10_000).selectExpr("CASE WHEN id < 9000 THEN 0 ELSE id END AS k", "id AS lv")
    right = spark.range(50).selectExpr("id AS k", "id * 100 AS rv")
    plain = left.join(right, "k").selectExpr("k", "lv", "rv")
    salted = salted_join(left, right, "k").selectExpr("k", "lv", "rv")
    assert salted.count() == plain.count()
    assert salted.groupBy().sum("rv").first()[0] == plain.groupBy().sum("rv").first()[0]


def test_bucket_size_adaptive(spark):
    """Driver-collected kernel summaries stay O(cores) at any n
    (VERDICT r2 #5): bucket width grows with n past the fixed floor."""
    import math

    from explorer_spark.operators import ordered as ordk

    par = spark.sparkContext.defaultParallelism
    # small n keeps the fixed floor (tests that shrink BUCKET_SIZE rely on it)
    assert ordk.bucket_size_for(None) == ordk.BUCKET_SIZE
    assert ordk.bucket_size_for(100_000) == ordk.BUCKET_SIZE
    # at simulated 10^13 rows the summary table is bounded by 32*cores
    for n in (10**9, 10**12, 10**13):
        b = ordk.bucket_size_for(n)
        assert math.ceil(n / b) <= 32 * par
        assert b >= ordk.BUCKET_SIZE


def test_mutate_multi_agg_single_broadcast(spark):
    """A mutate with k whole-frame aggregates runs ONE fused .agg job /
    ONE broadcast crossJoin, not k (VERDICT r2 #3)."""
    from explorer_spark import f
    from explorer_spark.expr import col
    from explorer_spark.sources import read_parquet

    df = read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = df.mutate(
        m=f.mean(col("l_quantity")),
        mx=f.max(col("l_extendedprice")),
        s=f.sum(col("l_discount")),
        centered=col("l_quantity") - f.mean(col("l_quantity")),  # dedupes with m
    )
    plan = out.lazy_sdf()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1
    row = out.head(1).to_rows()[0]
    assert row["centered"] == pytest.approx(row["l_quantity"] - row["m"])


def test_mutate_agg_of_agg_two_batches(spark):
    """Nested aggregates (sum over x - mean(x)) still compute correctly:
    the inner batch flushes before the outer aggregate reads it."""
    from explorer_spark import f
    from explorer_spark.expr import col
    from explorer_spark.sources import read_parquet

    df = read_parquet("/root/testdata/sf0.001/region.parquet")
    out = df.mutate(dev=f.sum(col("r_regionkey") - f.mean(col("r_regionkey"))))
    vals = [r["dev"] for r in out.to_rows()]
    assert vals[0] == pytest.approx(0.0, abs=1e-9)


def test_fan_out_small_gates(spark):
    """fan_out_small repartitions ONLY under-split scans (test parquet =
    one row group = one partition) and passes well-split frames through
    untouched — no shuffle added on a properly partitioned corpus. The
    fan-out WIDTH is byte-derived (r12): >= 2 always, <= parallelism,
    and INDEPENDENT of the core count for a given input (the flat
    $cores width made kernel task counts scale with cores and the same
    corpus measured faster at 8 cores than 32)."""
    from explorer_spark.operators.bucketing import fan_out_small
    from explorer_spark.sizing import estimate_bytes

    par = spark.sparkContext.defaultParallelism
    one = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert one.rdd.getNumPartitions() < max(par // 2, 2)
    fanned = fan_out_small(one)
    assert 2 <= fanned.rdd.getNumPartitions() <= par
    # byte-derived: the tiny sf0.001 file must not fan to full cores
    est = estimate_bytes(one)
    expect = max(2, min(par, -(-est // (64 * 1024))))
    assert fanned.rdd.getNumPartitions() == expect
    wide = one.repartition(par)
    assert fan_out_small(wide) is wide


def test_estimate_bytes(spark, tmp_path):
    """Catalyst's estimate is a positive byte count for a parquet scan
    and None for unknown statistics: an RDD-backed frame reports the
    defaultSizeInBytes sentinel, and so does its local checkpoint (a
    checkpoint keeps its origin's statistics)."""
    from explorer_spark.sizing import estimate_bytes

    rows, schema = [(1, "a b"), (2, "c d")], "doc_id long, text string"
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "p"))
    est = estimate_bytes(spark.read.parquet(str(tmp_path / "p")))
    assert isinstance(est, int) and est > 0
    rdd_backed = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    assert estimate_bytes(rdd_backed) is None
    assert estimate_bytes(rdd_backed.localCheckpoint()) is None


def test_decontaminate_plan_is_broadcast_equi_join(spark):
    """The contamination check must never plan a cartesian/BNL: eval
    grams broadcast into a hash join; the corpus side is map-only."""
    from explorer_spark.operators.text import decontaminate_ngrams
    from explorer_spark.sources import read_parquet

    docs = read_parquet("/root/testdata/sf0.001/documents.parquet", spark=spark).lazy_sdf()
    out = decontaminate_ngrams(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20), n=5
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the corpus side must be genuinely map-only up to the join: gram
    # generation runs in mapInPandas, never a word-level window shuffle
    assert "Window" not in plan


def test_brute_force_small_queries_has_no_join(spark):
    """With a collected query set the ANN brute-force plan contains NO
    join operator at all — the query matrix rides inside one Arrow UDF
    and the corpus only scans."""
    from explorer_spark.operators.similarity import brute_force_topk
    from explorer_spark.sources import read_parquet

    emb = read_parquet("/root/testdata/sf0.001/embeddings.parquet", spark=spark).lazy_sdf()
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    plan = _plan(out)
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan


def test_sample_replace_plan_broadcasts_multiplicities(spark):
    """Replacement sampling resolves draws via a BROADCAST multiplicity
    join — the frame side never shuffles for the join itself."""
    from explorer_spark.sources import read_parquet

    reg = read_parquet("/root/testdata/sf0.001/region.parquet", spark=spark)
    out = reg.sample(12, replace=True, seed=3)
    plan = _plan(out.lazy_sdf())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ungrouped_quantile_no_whole_column_collect(spark):
    """Whole-frame NEAREST quantile routes through the distributed
    nth-element kernel (operators/ordered.nearest_quantiles) — the
    result plan is a one-row aggregate of typed literals and NO stage
    anywhere sorts a collected whole column (VERDICT r5 #1). Grouped
    quantile keeps the sorted-collect rendering, bounded by group size."""
    from explorer_spark import f
    from explorer_spark.expr import col
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    out = li.summarise(
        p25=f.quantile(col("l_extendedprice"), 0.25),
        p50=f.quantile(col("l_extendedprice"), 0.50),
        p99=f.quantile(col("l_extendedprice"), 0.99),
    )
    plan = _plan(out.lazy_sdf())
    assert "collect_list" not in plan, plan
    # kernel result equals the sorted-array NEAREST element definition
    import math

    vals = sorted(
        r["l_extendedprice"]
        for r in li.lazy_sdf().select("l_extendedprice").collect()
        if r["l_extendedprice"] is not None
    )
    n = len(vals)
    row = out.to_rows()[0]
    for q, name in [(0.25, "p25"), (0.50, "p50"), (0.99, "p99")]:
        assert row[name] == vals[int(math.floor(q * (n - 1) + 0.5))]
    # the quantile dtype follows the source column (typed literal), and
    # an integer column's NEAREST quantile stays integral
    ints = li.summarise(p50=f.quantile(col("l_linenumber"), 0.5))
    assert dict(ints.dtypes)["p50"] == dict(li.dtypes)["l_linenumber"]


def test_describe_percentiles_no_whole_column_collect(spark):
    """describe()'s percentile pass uses the same nth-element kernel —
    no collect_list appears in ANY job it runs (asserted via the plans
    of the kernel's own stages by spying on the aggregate it builds)."""
    from explorer_spark.operators.ordered import nearest_quantiles
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    desc = li.select(["l_quantity", "l_extendedprice"]).describe()
    rows = {r["describe"]: r for r in desc.to_rows()}
    got = nearest_quantiles(li.lazy_sdf(), "l_quantity", [0.25, 0.5, 0.75])
    assert rows["25%"]["l_quantity"] == float(got[0])
    assert rows["50%"]["l_quantity"] == float(got[1])
    assert rows["75%"]["l_quantity"] == float(got[2])


def test_sample_no_replace_large_n_has_no_takeordered(spark, monkeypatch):
    """Above the TakeOrdered gate, exact-n sampling WITHOUT replacement
    selects via a threshold filter on deterministic per-row draws — the
    plan contains no TakeOrdered funneling the sample through one task
    (VERDICT r5 #3). Count stays exact and seeded draws reproduce."""
    import explorer_spark.frame as fr
    from explorer_spark.sources import read_parquet

    monkeypatch.setattr(fr, "SAMPLE_TAKEORDERED_MAX", 0)
    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    out = li.sample(0.25, seed=42)
    plan = _plan(out.lazy_sdf())
    assert "TakeOrdered" not in plan, plan
    n_total = li.n_rows()
    got = out.lazy_sdf().count()
    assert got == int(0.25 * n_total)
    # seeded determinism: same seed, same rows
    a = sorted(r["l_orderkey"] * 10 + r["l_linenumber"] for r in out.to_rows())
    b = sorted(
        r["l_orderkey"] * 10 + r["l_linenumber"]
        for r in li.sample(0.25, seed=42).to_rows()
    )
    assert a == b
    # shuffle=False keeps frame order of the picked rows ((l_orderkey,
    # l_linenumber) is NOT unique in the synthetic data — use a frame
    # with genuinely unique ids for the order check)
    import explorer_spark as ex

    df = ex.from_columns({"id": list(range(5000))})
    ids = [r["id"] for r in df.sample(1200, seed=5).to_rows()]
    assert len(ids) == 1200 and len(set(ids)) == 1200
    assert ids == sorted(ids)


def test_grouped_quantile_no_whole_group_array(spark):
    """Grouped quantile must not buffer the group as an in-executor
    array: one group holding ~all rows is the giant-group edge that
    OOMs an array_sort(collect_list) rendering at scale. The kernel
    (operators/ordered.grouped_nearest_quantiles) bounds memory by
    per-group DISTINCT values — assert the executed plan of every path
    (summarise / mutate / filter) has no collect_list, and answers
    match a python sorted-list NEAREST twin."""
    import math

    from explorer_spark import f
    from explorer_spark.expr import col
    from explorer_spark.sources import from_columns

    n = 20_000
    g = ["big"] * (n - 3) + ["tiny"] * 3
    v = [(i * 2654435761) % 977 for i in range(n)]  # many duplicates
    df = from_columns({"g": g, "v": v}, spark=spark)

    def nearest(vals, q):
        s = sorted(vals)
        return s[int(math.floor(q * (len(s) - 1) + 0.5))]

    out = df.group_by("g").summarise(
        p50=f.quantile(col("v"), 0.5), p99=f.quantile(col("v"), 0.99)
    )
    plan = out.lazy_sdf()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    got = {r["g"]: (r["p50"], r["p99"]) for r in out.to_rows()}
    big = v[: n - 3]
    tiny = v[n - 3 :]
    assert got["big"] == (nearest(big, 0.5), nearest(big, 0.99))
    assert got["tiny"] == (nearest(tiny, 0.5), nearest(tiny, 0.99))

    m = df.group_by("g").mutate(med=f.quantile(col("v"), 0.5))
    plan_m = m.lazy_sdf()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan_m

    flt = df.group_by("g").filter_with(col("v") > f.quantile(col("v"), 0.5))
    plan_f = flt.lazy_sdf()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan_f
    want = sum(1 for gg, x in zip(g, v) if x > (nearest(big, 0.5) if gg == "big" else nearest(tiny, 0.5)))
    assert flt.n_rows() == want


def test_dedup_store_side_is_scan_join_only(spark, tmp_path):
    """dedup_against_store's scale contract: the persisted corpus side
    contributes parquet SCANS + equi-joins only — no signature
    recompute, no corpus-text read, no cross join. The new shard here
    is an in-memory frame, so every parquet scan in the plan IS the
    store: assert their ReadSchemas expose only store columns (never
    'text')."""
    from explorer_spark.operators.dedup_store import (
        dedup_against_store,
        write_signature_store,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} with shared words") for i in range(50)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_signature_store(corpus, store, num_hashes=8, bands=4, shingle_n=3)

    new = spark.createDataFrame(
        [(1000, "corpus document number 7 with shared words")],
        "doc_id long, text string",
    )
    out = dedup_against_store(new, store, threshold=0.5)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    scans = [seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]]
    assert scans, "expected parquet scans for the store side"
    for rs in scans:
        assert "text" not in rs, f"store side re-read corpus text: {rs}"
    # and the match is found through the store
    assert [(r.new_key, r.corpus_key) for r in out.collect()] == [(1000, 7)]


def test_ivf_index_query_prunes_partitions(spark, tmp_path):
    """ivf_query_index's scale contract: the persisted index is
    partitioned by cell and the probed-cell filter must prune at the
    SCAN (PartitionFilters), so querying 2 of 8 cells never reads the
    other 6 cells' files."""
    from pyspark.sql import functions as SF

    from explorer_spark.operators.similarity import (
        ivf_query_index,
        ivf_topk_trained,
        write_ivf_index,
    )
    from explorer_spark.queries_llm import _IVF_CENTROIDS
    from explorer_spark.sources import load_table

    emb = load_table("/root/testdata/sf0.001", "embeddings", spark=spark).lazy_sdf()
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, _IVF_CENTROIDS)
    queries = emb.filter(SF.col("vec_id") < 3)
    out = ivf_query_index(queries, idx, k=5, nprobe=2)
    plan = _plan(out)
    seg = [s for s in plan.split("PartitionFilters: ")[1:] if "cell" in s.splitlines()[0]]
    assert seg, f"no cell partition filter reached the index scan:\n{plan[:2000]}"
    # results identical to the in-memory path (same tie rules)
    mem = ivf_topk_trained(emb, queries, k=5, centroids=_IVF_CENTROIDS, nprobe=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))


def test_argsort_is_distributed(spark):
    """Series.argsort returns a lazy SERIES computed distributed (r7
    verdict #3): the plan is index-kernel + range-partitioned sort —
    no whole-column driver collect happens to BUILD it (building the
    series runs only the index kernel's small stats jobs), and the
    sort has no single-partition global window (row_number over an
    unpartitioned window would show as 'Window' with no partition
    spec over one Exchange SinglePartition feeding the whole column)."""
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    s = li.pull("l_extendedprice")
    out = s.argsort()
    # lazy: no action ran to produce the object beyond the index
    # kernel's bounded stats job; the result is a Series
    from explorer_spark.series import Series

    assert isinstance(out, Series)
    plan = _plan(out._frame.lazy_sdf())
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # correctness against the driver-side definition on a sample
    head = out.head(20).to_list()
    vals = [r["l_extendedprice"] for r in li.lazy_sdf().select("l_extendedprice").collect()]
    expected = sorted(range(len(vals)), key=lambda i: (vals[i] is None, vals[i], i))[:20]
    assert head == expected


def test_grouped_ewm_giant_group_bounded(spark, monkeypatch):
    """Grouped ewm above the giant-group gate (r7 verdict #4): groups
    larger than the gate route through the distributed affine
    prefix-composition kernel (ewm_global group_cols) — per-group
    bucketed local scans with a bounded carry combine — instead of one
    whole-group pandas frame. One group holding ~all rows must (a)
    answer exactly like the pandas path and (b) plan with a FlatMapGroups
    over (group, bucket) keys, never a single whole-group task."""
    import numpy as np
    import pandas as pd

    from explorer_spark.operators import rolling
    from explorer_spark.sources import from_pandas

    rng = np.random.default_rng(11)
    n = 4000
    g = np.where(rng.random(n) < 0.95, "giant", "small")
    x = rng.normal(size=n)
    x[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"g": g, "x": x})
    pdf["x"] = pdf["x"].where(~pdf["x"].isna(), None)
    df = from_pandas(pdf, spark=spark)

    def run():
        return (
            df.group_by("g")
            .ewm(
                m=("mean", "x", 0.3, True),
                v=("variance", "x", 0.3, False),
                sd=("standard_deviation", "x", 0.2, True),
                # the gapped corner (adjust=False, ignore_nils=False)
                # routes through ewm_gapped's grouped face
                gm=("mean", "x", 0.3, False, False),
                gv=("variance", "x", 0.3, False, False),
            )
            .to_columns()
        )

    base = run()  # default gate: pandas bucket path
    monkeypatch.setattr(rolling, "EWM_GROUP_GATE", 500)
    gated = run()
    import math

    for c in ("m", "v", "sd", "gm", "gv"):
        for u, v in zip(base[c], gated[c]):
            if u is None and v is None:
                continue
            assert u is not None and v is not None
            assert math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-12), (c, u, v)
    # the gated frame's plan keys its Arrow stage on (group, bucket) —
    # the giant group is split across buckets, bounding per-task memory
    gdf = (
        df.group_by("g")
        .ewm(m=("mean", "x", 0.3, True))
    )
    plan = _plan(gdf.lazy_sdf())
    assert "__bkt__" in plan or "__ewm_bucket__" in plan or "FlatMapGroupsInPandas" in plan, plan


def test_remove_repeated_spans_word_estimate_paths(spark, tmp_path):
    """remove_repeated_spans sizes its exchanges from Catalyst's estimate
    only over a parquet scan (the 1 byte ~ 1 word calibration); a CSV
    scan or a checkpointed source takes the count fallback, an eager
    row count plus a words-per-doc probe. The pipeline's own pins submit
    the same jobs on every source, so the build-time job difference is
    the fallback. Output rows are identical on every path."""
    from explorer_spark.operators.text import remove_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "completely unique words here nothing repeats at all"),
    ]
    schema = "doc_id long, text string"
    src = spark.createDataFrame(rows, schema)
    src.write.parquet(str(tmp_path / "p"))
    src.write.option("header", True).csv(str(tmp_path / "c"))
    parquet = spark.read.parquet(str(tmp_path / "p"))
    sources = {
        "parquet": parquet,
        "csv": spark.read.schema(schema).option("header", True).csv(str(tmp_path / "c")),
        "checkpoint": parquet.localCheckpoint(),
    }
    sc = spark.sparkContext
    jobs, got = {}, {}
    for name, sdf in sources.items():
        group = f"spans_estimate_{name}"
        sc.setJobGroup(group, group)
        try:
            out = remove_repeated_spans(sdf, gram_n=5, min_count=2)
        finally:
            sc.setJobGroup(None, None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        got[name] = sorted(map(tuple, out.collect()))
    fallback = jobs["csv"] - jobs["parquet"]
    assert fallback > 0, jobs
    assert jobs["checkpoint"] - jobs["parquet"] == fallback, jobs
    want = [
        (1, "one two three four five", 12, 7),
        (2, "six seven eight nine ten", 12, 7),
        (3, rows[2][1], 8, 0),
    ]
    assert got == {name: want for name in sources}


def test_remove_repeated_spans_plan_shape(spark):
    """The substring-removal pipeline is shuffle/window/join only: no
    CartesianProduct / BroadcastNestedLoopJoin (covered positions come
    from an EXPLODE over spans, bounded by total words — never a range
    join), and the per-doc windows partition by doc."""
    from explorer_spark.operators.text import remove_repeated_spans
    from explorer_spark.sources import read_parquet

    docs = read_parquet("/root/testdata/sf0.001/documents.parquet").lazy_sdf().select(
        "doc_id", "text"
    )
    out = remove_repeated_spans(docs, gram_n=5, min_count=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert out.count() > 0


def test_dedup_keep_best_deterministic(spark):
    """keep-best survivor selection is a deterministic total order
    (quality DESC, id ASC): two runs over differently-partitioned input
    pick identical survivors."""
    from pyspark.sql import functions as SF

    from explorer_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(i, f"doc {i}", (i * 37) % 11) for i in range(40)],
        "doc_id long, text string, q long",
    )
    pairs = spark.createDataFrame(
        [(i, i + 20) for i in range(20)], "id_a long, id_b long"
    )
    a = sorted(r.doc_id for r in dedup_keep_best(docs, pairs, "q").collect())
    b = sorted(
        r.doc_id
        for r in dedup_keep_best(docs.repartition(7), pairs.repartition(3), "q").collect()
    )
    assert a == b
    # exactly one survivor per pair-cluster + all singletons
    assert len(a) == 20


def test_grouped_sort_no_per_group_window(spark):
    """Grouped sort (within-group permutation keeping row positions,
    lazy_test.exs:780) compiles to two global-index range sorts + a
    dense-key equi-join — NO per-group Window (a giant group would
    single-partition one) and no single-partition exchange."""
    import explorer_spark as ex
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    out = li.group_by("l_returnflag").sort_by("l_extendedprice")
    plan = _plan(out.lazy_sdf())
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # correctness on a small frame with NON-contiguous groups: the sorted
    # values land back in the group's original row positions
    d = ex.from_columns(
        {"g": ["a", "b", "a", "b"], "v": [4, 9, 2, 1]}, spark=spark
    )
    got = d.group_by("g").sort_by("v").to_columns()
    assert got["v"] == [2, 1, 4, 9]
    assert got["g"] == ["a", "b", "a", "b"]


def test_rank_random_draw_is_hash_based(spark):
    """rank(:random) tie-breaks via an md5 draw over (seed, value, row
    order) — not F.rand, whose stream depends on the partition id a row
    happens to land in. The guarantee: same frame, same seed -> same
    ranks on every materialization, and different seeds shuffle ties."""
    import explorer_spark as ex
    from explorer_spark import col, f

    d = ex.from_columns({"x": [1] * 8 + [2, 2]}, spark=spark)
    a = d.mutate(r=f.rank(col("x"), method="random", seed=11)).to_columns()["r"]
    b = d.mutate(r=f.rank(col("x"), method="random", seed=11)).to_columns()["r"]
    assert a == b
    c = d.mutate(r=f.rank(col("x"), method="random", seed=12)).to_columns()["r"]
    assert sorted(c) == sorted(a) == list(range(1, 11))
    assert c[:8] != a[:8]  # a different seed reshuffles the tie block


def test_pivot_longer_order_without_sort(spark):
    """pivot_longer's variable-major row order derives from vi*n + a
    dense row index — it must add NO Sort beyond whatever the row-index
    kernel itself needs to (re)align the input (a range sort of the
    melted output would be a full extra shuffle at scale)."""
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark).select(
        ["l_orderkey", "l_quantity", "l_extendedprice"]
    )
    baseline = _plan(li._ordered()._with_row_index("__i__").lazy_sdf())
    out = li.pivot_longer(["l_quantity", "l_extendedprice"])
    plan = _plan(out.lazy_sdf())
    assert "CartesianProduct" not in plan, plan
    assert plan.count("+- Sort") <= baseline.count("+- Sort"), plan


def test_stable_summarise_order_single_aggregate(spark):
    """Stable grouped summarise carries first-appearance order as a
    min(order) INSIDE the one hash aggregate — exactly one aggregate
    pair (partial + final) and no Window/extra Exchange beyond the
    group-key shuffle."""
    from explorer_spark.expr import col
    from explorer_spark import f
    from explorer_spark.sources import read_parquet

    li = read_parquet("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    out = li.group_by("l_returnflag", stable=True).summarise(n=f.size(col("l_orderkey")))
    plan = _plan(out._sdf)
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # key shuffle (+AQE read)


def test_exact_text_census_is_narrow(spark):
    """The census never shuffles TEXT: its exchanges carry (md5, id)
    pairs only, and the star-edge/representative plan is join+agg shaped
    (no CartesianProduct, no Window)."""
    from explorer_spark.operators.dedup import exact_text_census
    from explorer_spark.sources import read_parquet

    docs = read_parquet("/root/testdata/sf0.001/documents.parquet", spark=spark).lazy_sdf()
    rep_ids, star = exact_text_census(docs, min_words=3)
    for d in (rep_ids, star):
        plan = _plan(d)
        assert "CartesianProduct" not in plan, plan
        assert "Window" not in plan, plan
    # correctness: exact replicas collapse to the min id with k-1 edges
    import explorer_spark as ex

    d2 = ex.from_columns(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["a b c d", "a b c d", "a b c d", "x y z w", "q r"],
        },
        spark=spark,
    ).lazy_sdf()
    reps, edges = exact_text_census(d2, min_words=3)
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 4, 5]
    assert sorted((r["id_a"], r["id_b"]) for r in edges.collect()) == [(1, 2), (1, 3)]


def test_normalized_census_collapses_formatting_drift(spark):
    """normalize="ws" (round 10): whitespace-variant replicas collapse —
    the residual quadratic regime the byte-exact census misses; "ws" is
    provably exact for word-shingle pipelines (shingles split on \\s+,
    so ws-equal texts have identical shingle sets). Case folds only
    under "ws_case"."""
    import explorer_spark as ex
    from explorer_spark.operators.dedup import exact_text_census

    d = ex.from_columns(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "a b c d",
                "a  b c   d",       # ws drift -> collapses under "ws"
                " a b c d ",        # trim drift -> collapses under "ws"
                "A B C D",          # case drift -> only under "ws_case"
                "x y z w",
                None,               # null stays its own representative
            ],
        },
        spark=spark,
    ).lazy_sdf()
    reps, edges = exact_text_census(d, min_words=3)
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 2, 3, 4, 5, 6]
    reps, edges = exact_text_census(d, min_words=3, normalize="ws")
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 4, 5, 6]
    assert sorted((r["id_a"], r["id_b"]) for r in edges.collect()) == [(1, 2), (1, 3)]
    reps, edges = exact_text_census(d, min_words=3, normalize="ws_case")
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 5, 6]
    assert sorted((r["id_a"], r["id_b"]) for r in edges.collect()) == [
        (1, 2), (1, 3), (1, 4),
    ]
    import pytest

    with pytest.raises(ValueError, match="normalize"):
        exact_text_census(d, normalize="nfkc")


def test_normalized_census_component_equivalence(spark):
    """Pipeline equivalence: clusters computed with the "ws" census over
    a ws-drifted replica corpus equal the clusters of the full (no
    census) pipeline — the star edges re-attach collapsed members to the
    exact same components."""
    import explorer_spark as ex
    from explorer_spark.operators.dedup import (
        exact_text_census,
        lsh_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
        neardup_components,
    )
    from explorer_spark.operators.text import shingle_rows
    from pyspark.sql import functions as F

    base_texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "how vexingly quick daft zebras jump around the field",
    ]
    rows_id, rows_text = [], []
    i = 0
    for t in base_texts:
        for k in range(4):  # 4 replicas each, with whitespace drift
            drift = t.replace(" ", "  ", k) if k else t
            rows_id.append(i)
            rows_text.append(drift)
            i += 1
    docs = ex.from_columns({"doc_id": rows_id, "text": rows_text}, spark=spark).lazy_sdf()

    def clusters(use_census):
        if use_census:
            rep_ids, star = exact_text_census(docs, min_words=3, normalize="ws")
            rd = docs.join(rep_ids, "doc_id", "left_semi")
        else:
            rd, star = docs, None
        sig = minhash_signatures(rd, num_hashes=8, shingle_n=3)
        cand = lsh_candidate_pairs(lsh_buckets(sig, num_hashes=8, bands=4))
        sh = shingle_rows(rd, "doc_id", "text", 3).groupBy("doc_id").agg(
            F.collect_set("shingle").alias("sh")
        )
        sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sha__"))
        sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__shb__"))
        inter = F.size(F.array_intersect(F.col("__sha__"), F.col("__shb__")))
        union = F.size(F.array_union(F.col("__shb__"), F.col("__sha__")))
        pairs = (
            cand.join(sa, "id_a").join(sb, "id_b")
            .filter(inter.cast("double") / union >= 0.8)
            .select("id_a", "id_b")
        )
        if star is not None:
            pairs = pairs.unionByName(star)
        comps = neardup_components(pairs)
        return sorted((r["vertex"], r["component"]) for r in comps.collect())

    assert clusters(True) == clusters(False)


def test_ws_case_census_component_equivalence_with_folding_shinglers(spark):
    """Round-11: with ``lowercase=True`` shinglers, the "ws_case" census
    becomes EXACT — case-drifted replicas share signatures, so
    collapsing them before banding preserves components (the same
    argument as the "ws" proof, now over case-folded text)."""
    import explorer_spark as ex
    from explorer_spark.operators.dedup import (
        exact_text_census,
        lsh_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
        neardup_components,
    )
    from explorer_spark.operators.text import shingle_rows
    from pyspark.sql import functions as F

    base_texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "how vexingly quick daft zebras jump around the field",
    ]
    rows_id, rows_text = [], []
    i = 0
    for t in base_texts:
        for k in range(4):  # 4 replicas: whitespace AND case drift
            drift = t.replace(" ", "  ", k) if k else t
            if k % 2:
                drift = drift.upper()
            rows_id.append(i)
            rows_text.append(drift)
            i += 1
    docs = ex.from_columns({"doc_id": rows_id, "text": rows_text}, spark=spark).lazy_sdf()

    def clusters(use_census):
        if use_census:
            rep_ids, star = exact_text_census(docs, min_words=3, normalize="ws_case")
            rd = docs.join(rep_ids, "doc_id", "left_semi")
        else:
            rd, star = docs, None
        sig = minhash_signatures(rd, num_hashes=8, shingle_n=3, lowercase=True)
        cand = lsh_candidate_pairs(lsh_buckets(sig, num_hashes=8, bands=4))
        folded = rd.withColumn("text", F.lower(F.col("text")))
        sh = shingle_rows(folded, "doc_id", "text", 3).groupBy("doc_id").agg(
            F.collect_set("shingle").alias("sh")
        )
        sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sha__"))
        sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__shb__"))
        inter = F.size(F.array_intersect(F.col("__sha__"), F.col("__shb__")))
        union = F.size(F.array_union(F.col("__shb__"), F.col("__sha__")))
        pairs = (
            cand.join(sa, "id_a").join(sb, "id_b")
            .filter(inter.cast("double") / union >= 0.8)
            .select("id_a", "id_b")
        )
        if star is not None:
            pairs = pairs.unionByName(star)
        comps = neardup_components(pairs)
        return sorted((r["vertex"], r["component"]) for r in comps.collect())

    got = clusters(True)
    assert got == clusters(False)
    # sanity: each base text's 4 replicas share one component
    by_comp = {}
    for v, c in got:
        by_comp.setdefault(c, []).append(v)
    assert sorted(sorted(v) for v in by_comp.values()) == [
        [0, 1, 2, 3], [4, 5, 6, 7], [8, 9, 10, 11]
    ]


def test_lowercase_signatures_bit_identical_across_faces(spark):
    """lowercase=True folds through the SAME Spark expression in both
    signature faces: narrow Arrow (minhash_signatures) and the stateless
    SQL expression (the stream face) must both equal the pure-Python
    MinHash over lowercased text, and the unfolded kernel over
    pre-lowered text."""
    from support.signature_ref import minhash_ref

    import explorer_spark as ex
    from explorer_spark.operators.dedup import minhash_signature_struct_sql, minhash_signatures
    from pyspark.sql import functions as F

    texts = [
        "The Quick BROWN fox JUMPS high",
        "MiXeD CaSe document talking about Things",
        "ab",  # < shingle_n words -> fallback hash path
        "ALL UPPER CASE WORDS HERE",
    ]
    docs = ex.from_columns({"doc_id": [1, 2, 3, 4], "text": texts}, spark=spark).lazy_sdf()

    def rows(sdf):
        return {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8)) for r in sdf.collect()}

    narrow = rows(minhash_signatures(docs, num_hashes=8, shingle_n=3, lowercase=True))
    st = docs.select(
        "doc_id",
        minhash_signature_struct_sql("text", num_hashes=8, shingle_n=3, lowercase=True).alias("s"),
    ).select("doc_id", *[F.col("s")[f"m{i}"].alias(f"mh{i}") for i in range(8)])
    stateless = rows(st)
    pre_lowered = docs.withColumn("text", F.lower(F.col("text")))
    baseline = rows(minhash_signatures(pre_lowered, num_hashes=8, shingle_n=3))
    want = {k: minhash_ref(t, 8, 3, lowercase=True) for k, t in zip([1, 2, 3, 4], texts)}
    assert narrow == stateless == baseline == want
