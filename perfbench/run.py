"""spark-explorer benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --list

Load is a closed loop with one client: a single Python thread issues the
workload's operations back to back on ``local[<cores>]``. The input
tables are synthetic and fixed (``gendata.py``, generated once per
checkout); the seed sets each pass's operation order and the shard that
the write-side operations write and probe.

A run sets the engine up ``SETUPS`` times: first as a user's first
``get_spark`` does, launching the JVM (that setup is ``setup_s``), then
rebuilding the session in that JVM (their median is the per-layer
``session.rebuild_s``). It runs one cold pass in the last, fresh session,
then warm passes until ``--seconds`` have elapsed, and last checks the
output of every operation of the cold pass against its oracle, outside
the timed passes.

``--trace 1`` does the same run with the Spark event log on: every job is
tagged with its pass and operation (streaming jobs through their query's
start event), the log is folded into per-layer counters, and one record
per operation is written to ``.perfbench/trace/``. Its result line
carries the per-layer metrics, including the tracing overhead: traced
minus untraced ``warm_pass_s``. For that, each traced warm pass is paired
with one run with the event-log listener detached, in the same session,
the pair's order alternating; the untraced passes are not counted in
``attempted``/``failed``.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")

# (name, unit, better, bound): printed by --list, must match BENCHMARK.json.
# Each bound is the largest allowed: over ten seeds these spread 7-10%
# (quartile distance over median) on a shared 4-core host in quiet hours,
# and up to 33% (llm's single warm pass) with 10-12% of the host's CPU
# stolen. op_p90_s (7-16 samples a run) spread 12-26% and
# peak_rss_mb (JVM heap growth follows GC timing) 18-45%: too close to
# or past any allowed bound, so both are printed in the summary line,
# ungated.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cold_pass_s", "s", "lower", 0.25),
    ("warm_pass_s", "s", "lower", 0.25),
    ("query_geomean_s", "s", "lower", 0.25),
)
# (name, unit, better, layer)
PER_LAYER = (
    ("session.get_spark_s", "s", "lower", "session"),
    ("session.warmup_s", "s", "lower", "session"),
    ("session.rebuild_s", "s", "lower", "session"),
    ("frame.build_s", "s", "lower", "frame"),
    ("frame.driver_self_s", "s", "lower", "frame"),
    ("frame.build_jobs", "count", "lower", "frame"),
    ("spark.jobs", "count", "lower", "spark"),
    ("spark.stages", "count", "lower", "spark"),
    ("spark.tasks", "count", "lower", "spark"),
    ("spark.job_s", "s", "lower", "spark"),
    ("spark.task_run_s", "s", "lower", "spark"),
    ("spark.task_cpu_s", "s", "lower", "spark"),
    ("spark.task_wait_s", "s", "lower", "spark"),
    ("spark.gc_s", "s", "lower", "spark"),
    ("spark.shuffle_read_bytes", "B", "lower", "spark"),
    ("spark.shuffle_write_bytes", "B", "lower", "spark"),
    ("spark.shuffle_records", "count", "lower", "spark"),
    ("spark.spill_bytes", "B", "lower", "spark"),
    ("spark.failed_tasks", "count", "lower", "spark"),
    ("spark.slot_use", "ratio", "higher", "spark"),
    ("udf.python_run_s", "s", "lower", "udf"),
    ("udf.worker_start_s", "s", "lower", "udf"),
    ("udf.bytes_to_python", "B", "lower", "udf"),
    ("udf.bytes_from_python", "B", "lower", "udf"),
    ("sources.read_s", "s", "lower", "sources"),
    ("sources.write_s", "s", "lower", "sources"),
    ("sources.input_bytes", "B", "lower", "sources"),
    ("sources.output_bytes", "B", "lower", "sources"),
    ("sources.bytes_per_input_byte", "ratio", "lower", "sources"),
    ("store.build_s", "s", "lower", "store"),
    ("store.probe_s", "s", "lower", "store"),
    ("store.output_bytes", "B", "lower", "store"),
    ("streaming.batches", "count", "lower", "streaming"),
    ("streaming.trigger_s", "s", "lower", "streaming"),
    ("streaming.add_batch_s", "s", "lower", "streaming"),
    ("streaming.overhead_s", "s", "lower", "streaming"),
    ("process.peak_rss_mb", "MB", "lower", "process"),
    ("trace.overhead_s", "s", "lower", "trace"),
    ("trace.unattributed_jobs", "count", "lower", "trace"),
)
# One setup that launches the JVM (11-14 s on four cores), then session
# rebuilds in it (about 0.6 s each). A launch per setup would not fit: two
# launches made a run 30-50% longer, the second JVM's cold pass included.
SETUPS = 3
DATA_SEED = 42
# TPC-H scale factor of the generated tables. The llm operators cost
# about the same at 0.01 and 0.1 (bound by plan building), the verbs
# twice as much at 0.1, and the two slowest DuckDB oracles grow from
# 20-25 s here to 75 s each at 0.1; 0.02 keeps a run near a minute.
SCALE = 0.02
SPAN_KEYS = ("sources.read_s", "sources.write_s", "store.build_s", "store.probe_s")
COUNT_KEYS = ("sources.output_bytes", "store.output_bytes")


def listing() -> str:
    from workloads import WORKLOADS

    lines = ["workloads: " + " ".join(WORKLOADS)]
    lines += [f"end_to_end {n} {u} {b} bound={bd}" for n, u, b, bd in END_TO_END]
    lines += [f"per_layer {n} {u} {b} layer={ly}" for n, u, b, ly in PER_LAYER]
    lines.append("setup_s: get_spark launching the JVM, plus warm-up; session.rebuild_s: the same in that JVM")
    lines.append("summary line only, ungated: op_p90_s s, peak_rss_mb MB, error_rate ratio (= failed / attempted)")
    return "\n".join(lines)


def check_listing() -> str | None:
    """Compare the tables above with BENCHMARK.json, when one is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    from workloads import WORKLOADS

    with open(path) as fh:
        spec = json.load(fh)
    want = (
        [w["name"] for w in spec["workloads"]],
        [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]],
        [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
    )
    have = (list(WORKLOADS), list(END_TO_END), [(n, u, b) for n, u, b, _ in PER_LAYER])
    return None if want == have else "BENCHMARK.json does not match the benchmark's own metric tables"


# ---------------------------------------------------------------------------
# environment and caches
# ---------------------------------------------------------------------------


def pin_environment(run_dir: str, trace: bool) -> dict:
    """Pin cores, scratch dirs and worker import path; refuse tuning knobs.
    With ``trace``, the JVM starts with an uncompressed event log."""
    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    if knobs:
        raise SystemExit(f"refusing to run with engine knobs set: {', '.join(knobs)}")
    cores = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (the spark-submit launcher too) keeps its temp files in the
    # run dir and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    args = " ".join("--conf " + shlex.quote(f"{k}={v}") for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line.split()[1] for line in fh if line.startswith("MemTotal")))
    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "ram_gb": round(mem_kb / 2**20, 1),
    }


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(CACHE):
        return
    for name in os.listdir(CACHE):
        if name.startswith("run-") and name[4:].isdigit() and not _alive(int(name[4:])):
            shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def tables(sf: float) -> str:
    """The generated tables at ``sf``, written once per checkout."""
    import gendata

    with open(gendata.__file__, "rb") as fh:
        key = _digest(fh.read(), DATA_SEED, sf)
    out = os.path.join(CACHE, "data", f"sf{sf}-{key}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp-{os.getpid()}"
        gendata.write_tables(tmp, DATA_SEED, sf)
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


class Oracle:
    """DuckDB over the generated tables. Answers are cached per checkout,
    keyed by the SQL, the tables and the DuckDB version, because two of
    the dedup oracles take 10-25 s each."""

    def __init__(self, data_dir: str):
        import duckdb
        import gendata

        self.con = duckdb.connect()
        for t in gendata.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        self.key = (duckdb.__version__, os.path.basename(data_dir))
        self.dir = os.path.join(CACHE, "oracle")
        os.makedirs(self.dir, exist_ok=True)

    def __call__(self, sql: str):
        import pyarrow.parquet as pq

        path = os.path.join(self.dir, _digest(*self.key, sql) + ".parquet")
        if os.path.exists(path):
            return pq.read_table(path).to_pandas()
        table = self.con.execute(sql).arrow()
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        return table.to_pandas()

    def close(self):
        self.con.close()


class RssPeak:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{name}/statm") as fh:
                    rss[int(name)] = int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self._interval)


# ---------------------------------------------------------------------------
# the measured loop
# ---------------------------------------------------------------------------


def warm_up(spark, data_dir: str) -> None:
    """Prime the engine: parquet scan, shuffle and codegen."""
    spark.sparkContext.setJobGroup("setup|warmup", "warmup")
    orders = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
    orders.groupBy("o_orderstatus").agg({"o_totalprice": "sum"}).collect()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, run_dir: str, data_dir: str):
        import workloads

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.run_dir, self.data_dir = run_dir, data_dir
        self.rng = random.Random(seed)
        self.ops = workloads.make(workload)
        self.spans: list[dict] = []
        self.counts: dict[tuple, dict] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.spark = None
        self.oracle = None

    @contextmanager
    def _span(self, pass_id: str, op: str, phase: str):
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            self.spans.append({"pass": pass_id, "op": op, "phase": phase, "t0": t0, "t1": time.time() * 1e3})

    def _ctx(self, pass_id: str, op: str, pass_dir: str, shard: int, state: dict):
        import workloads

        def count(key, n):
            c = self.counts.setdefault((pass_id, op), {})
            c[key] = c.get(key, 0.0) + n

        return workloads.Ctx(
            spark=self.spark,
            data_dir=self.data_dir,
            pass_dir=pass_dir,
            shard=shard,
            oracle=self.oracle,
            span=lambda phase: self._span(pass_id, op, phase),
            count=count,
            state=state,
        )

    def setup(self) -> list[tuple[float, float]]:
        """``SETUPS`` fresh sessions, the first of which launches the JVM;
        (get_spark, warm-up) seconds of each."""
        from explorer_spark.session import get_spark

        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark()
            t1 = time.perf_counter()
            warm_up(self.spark, self.data_dir)
            times.append((t1 - t0, time.perf_counter() - t1))
        return times

    def one_pass(self, pass_id: str, keep: bool = False, tally: bool = True) -> tuple[float, dict[str, float], list]:
        """Run every op once in a seeded order. Returns the pass time (the
        sum of the op walls), each op's wall and, with ``keep``, the built
        frames for ``verify`` (the pass directory then stays until
        ``verify`` removes it). Without ``tally`` the ops and their
        failures are left out of ``attempted``/``errors``."""
        import workloads

        sc = self.spark.sparkContext
        shard = self.rng.randrange(workloads.SHARDS)
        pass_dir = os.path.join(self.run_dir, "passes", pass_id)
        os.makedirs(pass_dir, exist_ok=True)
        state: dict = {}
        walls: dict[str, float] = {}
        built = []
        total = 0.0
        for op in workloads.pass_order(self.ops, self.rng):
            ctx = self._ctx(pass_id, op.name, pass_dir, shard, state)
            sc.setJobGroup(f"{pass_id}|{op.name}", op.name)
            self.attempted += tally
            t0 = time.perf_counter()
            try:
                with self._span(pass_id, op.name, "op"):
                    with self._span(pass_id, op.name, "build"):
                        frame = op.build(ctx)
                    with self._span(pass_id, op.name, "execute"):
                        op.execute(ctx, frame)
            except Exception as e:  # one failed operation must not end the run
                if tally:
                    self.errors.append(f"{pass_id} {op.name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                total += time.perf_counter() - t0
            walls[op.name] = time.perf_counter() - t0
            if keep:
                built.append((op, ctx, frame))
        sc.setJobGroup("between|passes", "between passes")
        if not keep:
            shutil.rmtree(pass_dir, ignore_errors=True)
        return total, walls, built

    def verify(self, built: list) -> None:
        """Check each kept op's output; record every mismatch as a failure."""
        sc = self.spark.sparkContext
        for op, ctx, frame in built:
            sc.setJobGroup(f"verify|{op.name}", op.name)
            try:
                with ctx.span("verify"):
                    reason = op.verify(ctx, frame)
            except Exception as e:  # a check that raises is a failed check
                reason = f"{type(e).__name__}: {str(e)[:300]}"
            if reason is not None:
                self.errors.append(f"verify {op.name}: {reason}")
        if built:
            shutil.rmtree(built[0][1].pass_dir, ignore_errors=True)

    def settle(self) -> None:
        """Collect garbage in this process and the JVM outside the timed
        region, so a pass does not pay for the previous pass's garbage."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def warm_passes(self, log: "EventLog | None" = None) -> tuple[list[float], dict[str, list[float]], list[float]]:
        """Warm passes ``w<i>`` until ``seconds`` have elapsed (at least
        one). With ``log``, each is paired with an untallied pass ``u<i>``
        run with the event log detached, the pair's order alternating, and
        the untraced walls are returned too."""
        warm: list[float] = []
        plain: list[float] = []
        per_op: dict[str, list[float]] = {}
        t_end = time.perf_counter() + self.seconds
        while not warm or time.perf_counter() < t_end:
            i = len(warm)
            order = (True,) if log is None else (True, False) if i % 2 == 0 else (False, True)
            for traced in order:
                self.settle()
                if log is not None:
                    log.attach(traced)
                if not traced:
                    plain.append(self.one_pass(f"u{i}", tally=False)[0])
                    continue
                wall, walls, _ = self.one_pass(f"w{i}")
                warm.append(wall)
                for k, v in walls.items():
                    per_op.setdefault(k, []).append(v)
        if log is not None:
            log.attach(True)
        return warm, per_op, plain


class EventLog:
    """The session's event-log listener, which can be detached between
    passes to run one untraced."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._listener = self._sc.eventLogger().get()
        self._attached = True

    def attach(self, on: bool) -> None:
        if on != self._attached:
            (self._sc.addSparkListener if on else self._sc.removeSparkListener)(self._listener)
            self._attached = on


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setups, cold, warm, per_op) -> dict:
    geo = math.exp(statistics.fmean(math.log(_median(vs)) for vs in per_op.values())) if per_op else 0.0
    return {
        "setup_s": sum(setups[0]),
        "cold_pass_s": cold,
        "warm_pass_s": _median(warm),
        "query_geomean_s": geo,
    }


def ungated(bench, per_op, peak_rss) -> dict:
    """End-to-end figures too noisy to gate, as ``[value, unit, samples]``."""
    pooled = [v for vs in per_op.values() for v in vs]
    p90 = statistics.quantiles(pooled, n=10, method="inclusive")[-1] if len(pooled) >= 2 else (pooled or [0.0])[0]
    return {
        "op_p90_s": [p90, "s", len(pooled)],
        "peak_rss_mb": [peak_rss / 2**20, "MB", 1],
        "error_rate": [len(bench.errors) / max(1, bench.attempted), "ratio", bench.attempted],
    }


def _finish(rec: dict, nproc: int) -> dict:
    inp = rec.get("sources.input_bytes", 0.0)
    rec["sources.bytes_per_input_byte"] = rec.get("sources.output_bytes", 0.0) / inp if inp else 0.0
    job_s = rec.get("spark.job_s", 0.0)
    rec["spark.slot_use"] = rec.get("spark.task_run_s", 0.0) / (job_s * nproc) if job_s else 0.0
    return rec


def per_layer(bench: Bench, events, warm_ids: list[str], nproc: int) -> tuple[dict, list[dict]]:
    """Per-warm-pass medians of every layer counter, plus one record per
    operation (its median over the warm passes)."""
    from tracefold import SOURCE_KEYS, SPARK_KEYS, STREAM_KEYS, UDF_KEYS, Fold

    fold = Fold(events, bench.spans)
    op_spans = {(s["pass"], s["op"]): s for s in bench.spans if s["phase"] == "op"}
    by_op: dict[str, list[dict]] = {}
    per_pass: list[dict] = []
    for pid in warm_ids:
        total: dict[str, float] = {}
        for op in bench.ops:
            span = op_spans.get((pid, op.name))
            if span is None:
                continue
            rec = fold.record((pid, op.name), SPARK_KEYS + UDF_KEYS + SOURCE_KEYS + STREAM_KEYS)
            rec["wall_s"] = (span["t1"] - span["t0"]) / 1e3
            for k in SPAN_KEYS:
                rec[k] = 0.0
            for s in bench.spans:
                if (s["pass"], s["op"]) == (pid, op.name) and s["phase"] + "_s" in SPAN_KEYS:
                    rec[s["phase"] + "_s"] += (s["t1"] - s["t0"]) / 1e3
            counts = bench.counts.get((pid, op.name), {})
            for k in COUNT_KEYS:
                rec[k] = counts.get(k, 0.0)
            by_op.setdefault(op.name, []).append(rec)
            for k, v in rec.items():
                total[k] = total.get(k, 0.0) + v
        per_pass.append(_finish(total, nproc))
    layer = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}
    layer["trace.unattributed_jobs"] = float(fold.unattributed_jobs)
    records = [
        {
            "workload": bench.workload,
            "op": name,
            "warm_passes": len(recs),
            **_finish({k: _median([r[k] for r in recs]) for k in recs[0]}, nproc),
        }
        for name, recs in by_op.items()
    ]
    return layer, records


def version() -> str:
    """Digest of the library's and the benchmark's sources."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "explorer_spark"), HERE):
        for dirpath, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run(args) -> int:
    # fail before any work when the library is absent; importing it here
    # would read SPARK_GRAFT_CPUS before pin_environment sets it
    if importlib.util.find_spec("explorer_spark") is None:
        raise SystemExit("explorer_spark is not importable from the checkout root")
    sweep_stale()
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    try:
        return _run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {', '.join(workloads.WORKLOADS)}")
    env = pin_environment(run_dir, bool(args.trace))
    os.chdir(run_dir)
    sf = SCALE
    marks = [("start", time.perf_counter())]
    data_dir = tables(sf)
    marks.append(("tables", time.perf_counter()))

    import pyspark

    bench = Bench(args.workload, args.seed, args.seconds, run_dir, data_dir)
    bench.oracle = Oracle(data_dir)
    with RssPeak() as rss:
        setups = bench.setup()
        marks.append(("setup", time.perf_counter()))
        conf = bench.spark.sparkContext.getConf()
        env.update(
            {
                "seed": args.seed,
                "workload": args.workload,
                "ops": [op.name for op in bench.ops],
                "scale_factor": sf,
                "data_seed": DATA_SEED,
                "spark_version": pyspark.__version__,
                "master": conf.get("spark.master"),
                "driver_memory": conf.get("spark.driver.memory", "1g"),
                "trace": bool(args.trace),
                "version": version(),
            }
        )
        print(json.dumps({"env": env}), flush=True)
        cold, cold_walls, built = bench.one_pass("cold", keep=True)
        marks.append(("cold", time.perf_counter()))
        warm, per_op, untraced = bench.warm_passes(EventLog(bench.spark) if args.trace else None)
        marks.append(("warm", time.perf_counter()))
        bench.verify(built)
        built = None
        bench.oracle.close()
        marks.append(("verify", time.perf_counter()))
        bench.spark.stop()
    e2e = end_to_end(setups, cold, warm, per_op)
    for line in bench.errors:
        print(f"FAILED {line}", file=sys.stderr)
    print(
        json.dumps(
            {
                "warm_passes": len(warm),
                "ungated": ungated(bench, per_op, rss.peak),
                "errors": bench.errors,
                "phase_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
                "setups_s": [[round(a, 3), round(b, 3)] for a, b in setups],
                "op_cold_s": {k: round(v, 4) for k, v in cold_walls.items()},
                "op_median_s": {k: round(_median(v), 4) for k, v in per_op.items()},
                "op_verify_s": {
                    s["op"]: round((s["t1"] - s["t0"]) / 1e3, 3) for s in bench.spans if s["phase"] == "verify"
                },
            }
        ),
        flush=True,
    )
    if args.trace:
        from tracefold import read_event_log

        events = read_event_log(os.path.join(run_dir, "eventlog"))
        layer, records = per_layer(bench, events, [f"w{i}" for i in range(len(warm))], env["nproc"])
        layer["session.get_spark_s"], layer["session.warmup_s"] = setups[0]
        layer["session.rebuild_s"] = _median([a + b for a, b in setups[1:]])
        layer["trace.overhead_s"] = e2e["warm_pass_s"] - _median(untraced)
        layer["process.peak_rss_mb"] = rss.peak / 2**20
        out_dir = os.path.join(CACHE, "trace")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"env": env, "end_to_end": e2e, "per_layer": layer, "ops": records, "spans": bench.spans}, fh)
        metrics, table = layer, PER_LAYER
    else:
        metrics, table = e2e, END_TO_END
    result = {
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": len(bench.errors),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u, _, _ in table},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list", action="store_true", help="print every workload, metric, unit and layer")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.list:
        print(listing())
        problem = check_listing()
        if problem:
            print(problem, file=sys.stderr)
            return 1
        return 0
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
