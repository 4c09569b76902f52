"""The benchmark's operations, grouped into workloads.

An operation has a *build* step (the call into the library: a registry
query function or a public ``sources`` / ``dedup_store`` / ``streaming``
function), an *execute* step (materialise the result through the noop
sink) and a *verify* step. Verify runs outside the timed passes, on the
frame the cold pass built: it returns ``None`` when the output is right,
else the reason.

Workloads, and why each was chosen:

* ``verbs`` -- Explorer's table and series verbs plus the multi-job
  order-preserving kernels: plan building in the Python process, eager
  probe/pin jobs and small shuffles. Also round-trips a freshly written shard
  through the ``sources`` writers and readers and feeds freshly written
  files through a tumbling-window stream, one micro-batch per file. No
  Python workers run, so it is the control for the LLM-data operators.
* ``llm`` -- dedup/MinHash/LSH, similarity and text queries: Arrow Python
  UDFs and candidate-join shuffles. Also builds a signature store in a
  fresh directory every pass and probes it with a stream, so the store
  layer is measured without the per-process store cache.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable

from compare import frames_equal

WORKLOADS = ("verbs", "llm")

# The registry queries of ``verbs`` and ``llm``. Cut down from their
# registry modules (84 and 47 queries) to the ROADMAP's named targets:
# a whole registry pass costs 45-85 s on four cores, far more than one
# run may take. q_events_late_data is left out of ``llm``: its cold pass
# alone costs 16 s (store writes with sleeps between them); micro-batch
# trigger cost is measured by the two streams over freshly written files.
VERBS = (
    "q_spearman_corr",
    "q_grouped_sort_positions",
    "q_stats_agg",
    "q_pivot_longer_order",
    "q_transpose",
)
LLM = (
    "q_dedup_clusters",
    "q_dedup_keep_best",
    "q_dedup_ngram_jaccard",
    "q_dedup_hamming",
    "q_dedup_embedding_cosine",
    "q_text_remove_dup_substrings",
)
SHARDS = 8


@dataclass
class Ctx:
    """What an operation may touch: the session, the generated tables, the
    pass's fresh output directory and shared state, the DuckDB oracle
    (``oracle(sql)`` returns a pandas frame) and recorders for the spans
    and byte counts of the layers inside an operation."""

    spark: Any
    data_dir: str
    pass_dir: str
    shard: int
    oracle: Callable[[str], Any]
    span: Callable
    count: Callable
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], None]
    verify: Callable[[Ctx, Any], str | None]


def _sdf(frame):
    return frame.lazy_sdf() if hasattr(frame, "lazy_sdf") else frame


def _noop(_ctx, frame) -> None:
    _sdf(frame).write.format("noop").mode("overwrite").save()


def _registry_op(name: str) -> Op:
    from explorer_spark.queries import ORACLES, QUERIES

    def build(ctx):
        return QUERIES[name](ctx.spark, ctx.data_dir)

    def verify(ctx, frame):
        return frames_equal(frame.toPandas(), ctx.oracle(ORACLES[name]))

    return Op(name, build, _noop, verify)


# ---------------------------------------------------------------------------
# write-side operations: every pass writes into a fresh directory
# ---------------------------------------------------------------------------


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def _read_table(ctx, table: str):
    import explorer_spark as ex

    with ctx.span("sources.read"):
        return ex.read_parquet(os.path.join(ctx.data_dir, f"{table}.parquet"), spark=ctx.spark)


def _roundtrip(name: str, table: str, key: str, write, read) -> Op:
    """Write the pass's shard of ``table`` with a public writer and read it
    back with the matching reader; verified by read-back equality."""
    import explorer_spark as ex

    def build(ctx):
        src = _read_table(ctx, table).filter(ex.col(key) % SHARDS == ctx.shard)
        out = os.path.join(ctx.pass_dir, name)
        with ctx.span("sources.write"):
            write(src, out)
        ctx.count("sources.output_bytes", _size(out))
        with ctx.span("sources.read"):
            back = read(out, ctx.spark)
        ctx.state[name] = src
        return back

    def verify(ctx, back):
        return frames_equal(back.to_pandas(), ctx.state[name].to_pandas())

    return Op(name, build, _noop, verify)


def _io_ops() -> list[Op]:
    """Round-trips through ``sources`` and a tumbling-window stream over
    freshly written files, one micro-batch per file."""
    import explorer_spark as ex
    from explorer_spark.streaming import run_stream_once, tumbling_counts
    from pyspark.sql import functions as F

    def tumble_build(ctx):
        ev = _read_table(ctx, "events").lazy_sdf()
        ev = ev.filter(F.col("event_id") % SHARDS == ctx.shard).select("event_type", "ts", "value")
        shard_dir = os.path.join(ctx.pass_dir, "event_shard")
        with ctx.span("sources.write"):
            ex.write_parquet(ex.DataFrame(ev.repartition(3)), shard_dir)
        ctx.count("sources.output_bytes", _size(shard_dir))
        return run_stream_once(
            ctx.spark,
            shard_dir,
            lambda s: tumbling_counts(s, "1 hour", watermark=None),
            query_name="bench_stream_tumbling",
            output_mode="complete",
            options={"maxFilesPerTrigger": 1},
        )

    def tumble_verify(ctx, frame):
        want = ctx.oracle(
            f"""
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
                   time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS w_end,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
            FROM events WHERE event_id % {SHARDS} = {ctx.shard}
            GROUP BY ALL
            """
        )
        return frames_equal(frame.toPandas(), want)

    return [
        _roundtrip(
            "parquet_roundtrip", "lineitem", "l_orderkey", ex.write_parquet, lambda p, s: ex.read_parquet(p, spark=s)
        ),
        _roundtrip(
            "csv_roundtrip", "orders", "o_orderkey", ex.write_csv, lambda p, s: ex.read_csv(p, spark=s, parse_dates=True)
        ),
        Op("stream_tumbling", tumble_build, _noop, tumble_verify),
    ]


def _store_op() -> Op:
    """Build a signature store from all documents but the pass's shard,
    write the shard and feed it through the store-dedup stream, one
    micro-batch per file. The check probes the store with the shard in
    batch, outside the timed passes: the stream must match it and the
    oracle."""
    import explorer_spark as ex
    from explorer_spark.operators.dedup_store import (
        dedup_against_store,
        stream_dedup_against_store,
        write_signature_store,
    )
    from explorer_spark.queries import ORACLES
    from explorer_spark.streaming import run_stream_once
    from pyspark.sql import functions as F

    def build(ctx):
        docs = _read_table(ctx, "documents").lazy_sdf()
        is_new = F.col("doc_id") % SHARDS == ctx.shard
        store = os.path.join(ctx.pass_dir, "sigstore")
        with ctx.span("store.build"):
            write_signature_store(docs.filter(~is_new), store, num_hashes=8, bands=4, shingle_n=3)
        ctx.count("store.output_bytes", _size(store))
        new = docs.filter(is_new).select("doc_id", "text")
        shard_dir = os.path.join(ctx.pass_dir, "doc_shard")
        with ctx.span("sources.write"):
            ex.write_parquet(ex.DataFrame(new.repartition(2)), shard_dir)
        ctx.count("sources.output_bytes", _size(shard_dir))
        with ctx.span("store.probe"):
            got = run_stream_once(
                ctx.spark,
                shard_dir,
                lambda s: stream_dedup_against_store(s, store, threshold=0.5),
                query_name="bench_stream_dedup",
                output_mode="append",
                options={"maxFilesPerTrigger": 1},
            )
        ctx.state["sigstore"] = (store, new)
        return got.distinct()

    def verify(ctx, frame):
        store, new = ctx.state["sigstore"]
        got = frame.toPandas()
        reason = frames_equal(got, dedup_against_store(new, store, threshold=0.5).toPandas())
        if reason is not None:
            return f"stream probe differs from batch probe: {reason}"
        # the registry oracle splits corpus and new shard by doc_id % 10
        fixed = "n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0"
        sql = ORACLES["q_dedup_incremental"]
        if fixed not in sql:
            return "oracle SQL no longer has the shard predicate this check rewrites"
        sql = sql.replace(fixed, f"n.doc_id % {SHARDS} = {ctx.shard} AND c.doc_id % {SHARDS} <> {ctx.shard}")
        return frames_equal(got, ctx.oracle(sql))

    return Op("sigstore_stream_probe", build, _noop, verify)


def make(workload: str) -> list[Op]:
    if workload == "verbs":
        return [_registry_op(n) for n in VERBS] + _io_ops()
    if workload == "llm":
        return [_registry_op(n) for n in LLM] + [_store_op()]
    raise ValueError(f"unknown workload {workload!r}")


def pass_order(ops: list[Op], rng: random.Random) -> list[Op]:
    """A seeded permutation of ``ops``."""
    return rng.sample(ops, len(ops))
