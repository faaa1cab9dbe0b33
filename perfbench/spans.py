"""Spans around the benchmark's calls into the package, and the Spark
event-log parser that turns them into per-layer numbers.

A span is ``(layer, start_ms, end_ms)`` on the wall clock the Spark
driver also stamps its events with. The benchmark drives Spark from one
client thread, one call at a time, so a Spark job belongs to a span
exactly when it was submitted inside the span's window — including the
jobs that ``plans/profile_plan.py`` submits from its thread pool.
Spans of different layers may nest (``streaming.incremental`` contains
``plans.profile_plan``); each layer's numbers are inclusive.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

LAYERS = [
    "data", "plans.profile_plan", "plans.diff_plan", "state", "report",
    "operators.dedup", "operators.graph", "operators.curation",
    "operators.textanalysis", "operators.clustering",
    "operators.similarity", "operators.ann_index",
    "streaming.incremental", "streaming.drift", "streaming.markov",
]
LAYER_FIELDS = [("calls", "count"), ("wall_s", "s"), ("driver_s", "s"),
                ("jobs_s", "s"), ("jobs", "count"), ("stages", "count"),
                ("task_cpu_s", "s"), ("shuffle_mb", "MB")]
SPARK_FIELDS = [("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
                ("spark.failed_tasks", "count"),
                ("spark.stages_skipped", "count")]
TRACE_FIELDS = [("trace.overhead_pct", "%"), ("trace.spans", "count"),
                ("trace.bad_spans", "count"),
                ("trace.unassigned_jobs", "count")]
# a job interval may stick out of its span by the event log's 1 ms
# timestamp resolution
_SLACK_MS = 2.0


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS}
    out.update(SPARK_FIELDS)
    out.update(TRACE_FIELDS)
    return out


class Tracer:
    """Records spans when enabled; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self._open: list[str] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled or layer in self._open:
            # a layer re-entering itself is already covered by the
            # outer span
            yield
            return
        self._open.append(layer)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append((layer, start, time.time() * 1000.0))
            self._open.pop()

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return traced


def union_length(intervals) -> float:
    """Total length covered by ``[(start, end), ...]``; overlaps count
    once."""
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


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from one Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    submitted_stages: set[int] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"],
                                      "end": None,
                                      "stage_ids": ev.get("Stage IDs", [])}
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                submitted_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                submitted_stages.add(info["Stage ID"])
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "start": info.get("Submission Time"),
                    "end": info.get("Completion Time")}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                shuffle = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "start": ev["Task Info"]["Launch Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0)
                    + m.get("Executor Deserialize CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle": shuffle.get("Shuffle Bytes Written", 0),
                    "failed": (ev.get("Task End Reason") or {}).get(
                        "Reason") != "Success",
                })
    return {
        "jobs": [j for j in jobs.values() if j["end"] is not None],
        "stages": [s for s in stages.values() if s["start"] is not None],
        "tasks": tasks,
        "submitted_stages": submitted_stages,
    }


def window(log: dict, lo_ms: float, hi_ms: float) -> dict:
    """The part of ``log`` that started inside ``[lo_ms, hi_ms]``."""
    def inside(x):
        return lo_ms - _SLACK_MS <= x["start"] <= hi_ms
    return {"jobs": [j for j in log["jobs"] if inside(j)],
            "stages": [s for s in log["stages"] if inside(s)],
            "tasks": [t for t in log["tasks"] if inside(t)],
            "submitted_stages": log["submitted_stages"]}


def _inside(t: float, span) -> bool:
    return span[1] - _SLACK_MS <= t <= span[2]


def layer_metrics(spans, log: dict) -> tuple[dict, dict]:
    """Per-layer metrics (inclusive) and trace-quality counters.

    Returns ``(metrics, quality)``: ``metrics`` maps every name of
    :func:`metric_units` except the ``spark.*``/``trace.*`` ones to a
    number; ``quality`` holds ``spans``, ``bad_spans`` (spans whose job
    time exceeds their wall time) and ``unassigned_jobs`` (jobs outside
    every span)."""
    out: dict[str, float] = {}
    bad = 0
    for layer in LAYERS:
        mine = [s for s in spans if s[0] == layer]
        wall = jobs_s = 0.0
        n_jobs = n_stages = 0
        cpu = shuffle = 0.0
        for sp in mine:
            ivs = [(j["start"], j["end"]) for j in log["jobs"]
                   if _inside(j["start"], sp)]
            span_wall = sp[2] - sp[1]
            span_jobs = union_length(ivs)
            if span_jobs > span_wall + _SLACK_MS:
                bad += 1
            wall += span_wall
            jobs_s += min(span_jobs, span_wall)
            n_jobs += len(ivs)
            n_stages += sum(1 for s in log["stages"]
                            if _inside(s["start"], sp))
            for t in log["tasks"]:
                if _inside(t["start"], sp):
                    cpu += t["cpu_ns"]
                    shuffle += t["shuffle"]
        out[f"{layer}.calls"] = len(mine)
        out[f"{layer}.wall_s"] = wall / 1e3
        out[f"{layer}.jobs_s"] = jobs_s / 1e3
        out[f"{layer}.driver_s"] = (wall - jobs_s) / 1e3
        out[f"{layer}.jobs"] = n_jobs
        out[f"{layer}.stages"] = n_stages
        out[f"{layer}.task_cpu_s"] = cpu / 1e9
        out[f"{layer}.shuffle_mb"] = shuffle / 1e6
    unassigned = sum(1 for j in log["jobs"]
                     if not any(_inside(j["start"], sp) for sp in spans))
    return out, {"spans": len(spans), "bad_spans": bad,
                 "unassigned_jobs": unassigned}


def spark_metrics(log: dict) -> dict:
    tasks = log["tasks"]
    return {
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
        # stages a job lists but never runs: their shuffle output was
        # reused from an earlier job
        "spark.stages_skipped": sum(
            1 for j in log["jobs"] for sid in j["stage_ids"]
            if sid not in log["submitted_stages"]),
    }


def find_event_log(directory: str) -> str:
    """The single application log Spark wrote into ``directory``."""
    names = [n for n in os.listdir(directory)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {sorted(os.listdir(directory))}")
    return os.path.join(directory, names[0])
