"""Fold a Spark event log into per-operation layer counters.

The benchmark tags every job it causes with ``setJobGroup("<pass>|<op>")``
(``setup|...`` for the engine warm-up, ``verify|<op>`` for output checks).
Streaming micro-batch jobs carry their query's runId as the group
instead; those are mapped back to the operation whose span contains the
query's ``QueryStartedEvent``. Each task, stage, job and streaming
progress record then adds into the counters of the ``(pass, op)`` that
owns it. ``sources.input_bytes`` is the tasks' ``Input Metrics`` bytes
read: what the op's scans read from files. Spans (op / build / execute / verify) come from the benchmark
itself, as epoch-millisecond intervals.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from datetime import datetime

SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_s",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.task_wait_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_records",
    "spark.spill_bytes",
    "spark.failed_tasks",
)
UDF_KEYS = ("udf.python_run_s", "udf.worker_start_s", "udf.bytes_to_python", "udf.bytes_from_python")
SOURCE_KEYS = ("sources.input_bytes",)
STREAM_KEYS = ("streaming.batches", "streaming.trigger_s", "streaming.add_batch_s", "streaming.overhead_s")
# task accumulator name -> (counter, scale to the counter's unit)
_UDF_ACCUMS = {
    "time to run Python workers": ("udf.python_run_s", 1e-3),
    "time to start Python workers": ("udf.worker_start_s", 1e-3),
    "data sent to Python workers": ("udf.bytes_to_python", 1.0),
    "data returned from Python workers": ("udf.bytes_from_python", 1.0),
}
_STREAM_PREFIX = "org.apache.spark.sql.streaming.StreamingQueryListener$"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) application log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


class Fold:
    """Counters per ``(pass, op)`` key, plus the job intervals behind them."""

    def __init__(self, events: list[dict], spans: list[dict]):
        self.spans = spans
        self.counters: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
        self.job_iv: dict[tuple, list] = defaultdict(list)
        self.job_submit: dict[tuple, list] = defaultdict(list)
        self.unattributed_jobs = 0
        op_spans = [s for s in spans if s["phase"] == "op"]
        # jobs of a pass's op, or of an op's output check
        known = {(s["pass"], s["op"]) for s in op_spans} | {("verify", s["op"]) for s in op_spans}
        run_owner: dict[str, tuple] = {}
        job_owner: dict[int, tuple] = {}
        job_start: dict[int, float] = {}
        stage_owner: dict[int, tuple] = {}
        stage_submit: dict[tuple, float] = {}
        for ev in events:
            kind = ev["Event"]
            if kind == _STREAM_PREFIX + "QueryStartedEvent":
                t = _iso_ms(ev["timestamp"])
                for s in op_spans:
                    if s["t0"] <= t <= s["t1"]:
                        run_owner[ev["runId"]] = (s["pass"], s["op"])
            elif kind == _STREAM_PREFIX + "QueryProgressEvent":
                p = ev["progress"]
                key = run_owner.get(p["runId"])
                if key is None:
                    continue
                d = p.get("durationMs", {})
                c = self.counters[key]
                c["streaming.batches"] += 1
                c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                c["streaming.overhead_s"] += (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                key = run_owner.get(group) or (tuple(group.split("|", 1)) if group else None)
                if key is not None and key[0] == "setup":
                    continue
                if key not in known:
                    self.unattributed_jobs += 1
                    continue
                job_owner[ev["Job ID"]] = key
                job_start[ev["Job ID"]] = ev["Submission Time"]
                self.job_submit[key].append(ev["Submission Time"])
                self.counters[key]["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_owner[sid] = key
            elif kind == "SparkListenerJobEnd":
                key = job_owner.pop(ev["Job ID"], None)
                if key is not None:
                    self.job_iv[key].append((job_start.pop(ev["Job ID"]), ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                key = stage_owner.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    self.counters[key]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_owner.get(ev["Stage ID"])
                if key is not None:
                    self._task(self.counters[key], ev, stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"])))
        for key, iv in self.job_iv.items():
            self.counters[key]["spark.job_s"] = union_ms(iv) / 1e3

    @staticmethod
    def _task(c, ev, submitted):
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        c["spark.tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            c["spark.failed_tasks"] += 1
        c["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        if submitted:
            c["spark.task_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
        rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        c["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        c["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        c["spark.shuffle_records"] += wr.get("Shuffle Records Written", 0)
        c["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        c["sources.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            hit = _UDF_ACCUMS.get(acc.get("Name"))
            if hit and acc.get("Update") is not None:
                c[hit[0]] += float(acc["Update"]) * hit[1]

    def frame_counters(self, key: tuple) -> dict:
        """``frame.*`` counters of one ``(pass, op)``: build wall, build jobs
        and the op's wall not covered by any of its Spark jobs."""
        spans = {s["phase"]: s for s in self.spans if (s["pass"], s["op"]) == key}
        op, build = spans["op"], spans.get("build")
        out = {"frame.build_s": 0.0, "frame.build_jobs": 0.0}
        if build:
            out["frame.build_s"] = (build["t1"] - build["t0"]) / 1e3
            out["frame.build_jobs"] = float(sum(build["t0"] <= t <= build["t1"] for t in self.job_submit[key]))
        covered = union_ms(_clip(self.job_iv[key], op["t0"], op["t1"]))
        out["frame.driver_self_s"] = (op["t1"] - op["t0"] - covered) / 1e3
        return out

    def record(self, key: tuple, keys) -> dict:
        c = self.counters.get(key, {})
        rec = {k: float(c.get(k, 0.0)) for k in keys}
        rec.update(self.frame_counters(key))
        return rec
