"""Tracing for the benchmark's traced run: spans recorded around the
calls into each layer, and an offline parser of Spark's event log.

Spans (name, layer, start, end, parent) are kept in memory and written
when the run ends. While a span is open its path is the Spark job
description, so every job, stage and task in the event log is
attributed to the innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

MB = 1024 * 1024


class Tracer:
    """Span recorder. Disabled, ``span`` is a no-op (the untraced run)."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "path": f"{parent['path']}/{name}" if parent else name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobDescription(rec["path"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(parent["path"] if parent else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    covered: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        busy, last = 0.0, s["start"]
        for a, b in sorted(covered[s["id"]]):
            a, b = max(a, last), min(b, s["end"])
            if b > a:
                busy += b - a
                last = b
        out[s["id"]] = (s["end"] - s["start"]) - busy
    return out


def _new_counters() -> dict[str, float]:
    return defaultdict(float)


#: SQL metric names of a Python-worker plan node (MapInPandas and the
#: other Arrow/pickled Python execs) -> counter
_PY_METRICS = {"number of output rows": "py_rows",
               "data sent to Python workers": "py_sent_mb",
               "data returned from Python workers": "py_returned_mb"}


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Accumulator id -> counter for every Python-worker node of a plan."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data sent to Python workers" in names:
        out.update({names[n]: c for n, c in _PY_METRICS.items() if n in names})
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def parse_eventlog(path: str) -> tuple[dict[str, dict[str, float]], float]:
    """Per job description: jobs, stages, tasks, failed tasks, executor
    CPU/run/GC time, shuffle, spill, input and output, and the rows and
    bytes that crossed to and from Python workers, summed over the
    description's tasks. Also returns the peak JVM heap (MB) the
    stage-level executor metrics saw."""
    stage_desc: dict[int, str] = {}
    task_events = []
    py_ids: dict[int, str] = {}
    heap_peak = 0.0
    by: dict[str, dict[str, float]] = defaultdict(_new_counters)
    with open(path, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    for e in events:
        ev = e["Event"]
        if "sparkPlanInfo" in e:
            _python_metric_ids(e["sparkPlanInfo"], py_ids)
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description", "")
            by[desc or ""]["jobs"] += 1
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_desc[e["Stage Info"]["Stage ID"]] = props.get(
                "spark.job.description", "") or ""
        elif ev == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            by[stage_desc.get(sid, "")]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            task_events.append(e)
        elif ev == "SparkListenerStageExecutorMetrics":
            heap_peak = max(heap_peak, e["Executor Metrics"].get(
                "JVMHeapMemory", 0) / MB)
    for e in task_events:
        c = by[stage_desc.get(e["Stage ID"], "")]
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        c["tasks"] += 1
        c["tasks_failed"] += bool(info.get("Failed"))
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics", {})
        c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / MB
        c["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0) / MB
        c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)) / MB
        c["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
        c["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
        c["output_mb"] += m.get("Output Metrics", {}).get(
            "Bytes Written", 0) / MB
        for acc in info.get("Accumulables", []):
            counter = py_ids.get(acc["ID"])
            if counter:
                scale = 1 if counter == "py_rows" else MB
                c[counter] += int(acc.get("Update") or 0) / scale
    return dict(by), heap_peak


def find_eventlog(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return path
