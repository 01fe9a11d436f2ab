"""Driver-side spans and Spark event-log aggregation for the benchmark.

A :class:`Tracer` records one span per call into the library (name,
start, end, parent) and keeps them in memory. With ``jobs=True`` it also
tags every Spark job a span starts with ``setJobDescription("<name>#<id>")``,
so :func:`event_log_by_span` can attribute the tasks in Spark's event log
to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# operator (RDD scope) names that run Python worker tasks: MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, PythonRDD, ...
_PYTHON_MARKERS = ("Python", "Pandas", "Arrow")


class Tracer:
    def __init__(self, jobs: bool = False):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._jobs = jobs

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(None if parent is None
                           else f"{self.spans[parent]['name']}#{parent}")

    def bind(self, sc) -> None:
        """Tag jobs on ``sc`` from now on (a new SparkContext after a
        session restart)."""
        self._sc = sc

    def _describe(self, desc) -> None:
        if self._jobs and self._sc is not None:
            self._sc.setJobDescription(desc)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, list[float]]:
        """Span name → self time of each instance: its duration minus the
        time its child spans cover (children run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                out.setdefault(s["name"], []).append(
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump([{**s, "start": s["start"] - t0,
                        "end": None if s["end"] is None else s["end"] - t0}
                       for s in self.spans], fh, indent=1)


def _is_python_stage(stage_info: dict) -> bool:
    names = []
    for r in stage_info.get("RDD Info", []):
        names.append(r.get("Name") or "")
        if r.get("Scope"):
            names.append(json.loads(r["Scope"]).get("name", ""))
    return any(m in n for n in names for m in _PYTHON_MARKERS)


def event_log_by_span(event_dir: str) -> dict[int, dict]:
    """Parse every event log under ``event_dir`` into per-span task stats,
    keyed by span id (from the ``<name>#<id>`` job description): tasks,
    python_tasks, python_task_ms (wall ms of each Python task),
    executor_run_ms, gc_ms, result_bytes, shuffle_write_bytes and
    spill_bytes."""
    out: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if path.endswith(".inprogress"):
            continue
        stage_span: dict[int, int] = {}
        python_stage: dict[int, bool] = {}
        tasks: list[dict] = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    _, _, sid = desc.rpartition("#")
                    if sid.isdigit():
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = int(sid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    python_stage[info["Stage ID"]] = _is_python_stage(info)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        for ev in tasks:
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            agg = out.setdefault(span, merge_stats([]))
            agg["tasks"] += 1
            if python_stage.get(ev["Stage ID"], False):
                agg["python_tasks"] += 1
                agg["python_task_ms"].append(
                    info["Finish Time"] - info["Launch Time"])
            agg["executor_run_ms"] += m.get("Executor Run Time", 0)
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["result_bytes"] += m.get("Result Size", 0)
            agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    return out


def merge_stats(stats: list[dict]) -> dict:
    """Sum per-span task stats (e.g. a span and its child spans)."""
    total = {"tasks": 0, "python_tasks": 0, "python_task_ms": [],
             "executor_run_ms": 0, "gc_ms": 0, "result_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0}
    for s in stats:
        for k, v in s.items():
            total[k] = total[k] + v
    return total


def median_or_zero(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
