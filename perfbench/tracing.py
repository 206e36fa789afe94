"""Spans around the benchmark's calls into each layer, and the reducer that
turns Spark's event log into one per-layer record per operation.

A span always records its wall time (a ``perf_counter`` pair costs
nothing measurable). Only a traced run also tags the Spark jobs a span
starts (``spark.addTag``), so the reducer can attribute jobs, stages and
tasks to the operation and the layer that caused them.
"""

from __future__ import annotations

import collections
import contextlib
import datetime as dt
import glob
import json
import os
import re
import time

OP_TAG = "pbop_"
LAYER_TAG = "pblayer_"
_TAG_RE = re.compile(r"(pbop|pblayer)_([A-Za-z0-9_.]+)$")

def event_log_confs(log_dir: str) -> dict[str, str]:
    """Event-log settings for a traced pass. Spark 4 compresses event logs
    with zstd by default, and no zstd reader is installed here."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Collects operation windows and layer spans for one phase of a run."""

    def __init__(self, spark, tagged: bool):
        self.spark = spark
        self.tagged = tagged
        self.ops: list[dict] = []
        self._op: dict | None = None

    @contextlib.contextmanager
    def op(self, kind: str, **info):
        rec = {"index": len(self.ops), "kind": kind, "spans": [], **info}
        tag = f"{OP_TAG}{rec['index']}"
        if self.tagged:
            self.spark.addTag(tag)
        self._op = rec
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._op = None
            if self.tagged:
                self.spark.removeTag(tag)
            self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one call into ``layer`` (a module-qualified function name)."""
        tag = f"{LAYER_TAG}{layer}"
        if self.tagged:
            self.spark.addTag(tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            took = time.perf_counter() - t0
            if self.tagged:
                self.spark.removeTag(tag)
            if self._op is not None:
                self._op["spans"].append((layer, took))

    def add_op(self, kind: str, started: str, wall_s: float, spans, **info):
        """Record an operation timed by Spark itself (a streaming
        micro-batch: ``started`` is its progress timestamp)."""
        start = dt.datetime.fromisoformat(started.replace("Z", "+00:00"))
        rec = {"index": len(self.ops), "kind": kind, "spans": list(spans),
               "start": start.timestamp(), "wall_s": wall_s,
               "end": start.timestamp() + wall_s, **info}
        self.ops.append(rec)
        return rec


# ---------------------------------------------------------------------------
# Event-log reducer
# ---------------------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """The rolling event-log files Spark 4 writes, in order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def order(p):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)))

    return sorted(files, key=order)


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                out.add(json.loads(scope).get("name", "").strip())
            except ValueError:
                pass
    return out


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Returns (jobs, stages) keyed by id.

    job: {op, layers, start, end, stages}; stage: {submit, complete,
    tasks, run_ms, deser_ms, shuffle_bytes, spill_bytes, python, text_scan}.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"tasks": 0, "run_ms": 0, "deser_ms": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "python": False, "text_scan": False,
                 "submit": None, "complete": None}
    )
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op, layers = None, []
                    tags = ev.get("Properties", {}).get("spark.job.tags", "")
                    for tag in tags.split(","):
                        m = _TAG_RE.search(tag)
                        if m and m.group(1) == "pbop":
                            op = int(m.group(2))
                        elif m:
                            layers.append(m.group(2))
                    props = ev.get("Properties", {})
                    batch = props.get("streaming.sql.batchId")
                    jobs[ev["Job ID"]] = {
                        "op": op, "layers": layers,
                        "stream_batch": None if batch is None else (
                            props.get("sql.streaming.queryId"), int(batch)),
                        "start": ev["Submission Time"], "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                            ).get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                          + tm.get("Disk Bytes Spilled", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st["submit"] = info.get("Submission Time")
                    st["complete"] = info.get("Completion Time")
                    scopes = _scopes(info)
                    accs = {a.get("Name") for a in info.get("Accumulables", [])}
                    st["python"] = bool(
                        any("Python" in s or "Pandas" in s or "Arrow" in s
                            for s in scopes)
                        or "time to run Python workers" in accs
                    )
                    st["text_scan"] = any(s.startswith("Scan text") for s in scopes)
    return jobs, dict(stages)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def reduce_ops(ops: list[dict], log_dir: str) -> list[dict]:
    """One record per operation: Spark work attributed through its tags,
    in total and per layer, plus the time the operation spent outside
    every Spark job."""
    jobs, stages = read_event_log(log_dir)
    by_op: dict[int, list[dict]] = collections.defaultdict(list)
    by_batch: dict[tuple, list[dict]] = collections.defaultdict(list)
    seen_stage: set[int] = set()
    for job_id in sorted(jobs):
        job = jobs[job_id]
        # a stage shared by several jobs is counted for the first only
        job["own_stages"] = [
            s for s in job["stages"] if s in stages
            and stages[s]["complete"] is not None and s not in seen_stage
        ]
        seen_stage.update(job["own_stages"])
        if job["op"] is not None:
            by_op[job["op"]].append(job)
        elif job["stream_batch"] is not None:
            by_batch[job["stream_batch"]].append(job)

    records = []
    for op in ops:
        op_jobs = (by_batch.get((op["query_id"], op["batch_id"]), [])
                   if "batch_id" in op else by_op.get(op["index"], []))
        rec = {
            "index": op["index"], "kind": op["kind"], "wall_s": op["wall_s"],
            **{k: v for k, v in op.items() if k not in (
                "index", "kind", "wall_s", "spans", "start", "end")},
            "spans": collections.Counter(),
            "by_layer": {},
        }
        for name, took in op["spans"]:
            rec["spans"][name] += took
        rec["spans"] = dict(rec["spans"])
        totals = _spark_totals(op_jobs, stages)
        lo, hi = op["start"] * 1000, op["end"] * 1000
        in_jobs = _union_ms([
            (max(j["start"], lo), min(j["end"] or hi, hi))
            for j in op_jobs if (j["end"] or hi) > lo and j["start"] < hi
        ])
        totals["outside_jobs_s"] = max(0.0, op["wall_s"] - in_jobs / 1000)
        rec["spark"] = totals
        layers = sorted({l for j in op_jobs for l in j["layers"]})
        for layer in layers:
            rec["by_layer"][layer] = _spark_totals(
                [j for j in op_jobs if layer in j["layers"]], stages)
        records.append(rec)
    return records


def _spark_totals(op_jobs: list[dict], stages: dict) -> dict:
    own = [stages[s] for j in op_jobs for s in j["own_stages"]]
    return {
        "jobs": len(op_jobs),
        "stages": len(own),
        "tasks": sum(s["tasks"] for s in own),
        "executor_run_s": sum(s["run_ms"] for s in own) / 1000,
        "executor_deserialize_s": sum(s["deser_ms"] for s in own) / 1000,
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in own),
        "spill_bytes": sum(s["spill_bytes"] for s in own),
        "python_udf_stage_s": sum(
            (s["complete"] - s["submit"]) / 1000 for s in own
            if s["python"] and s["submit"] is not None),
        "log_scan_jobs": sum(
            1 for j in op_jobs
            if any(stages[s]["text_scan"] for s in j["own_stages"])),
    }
