"""Spans recorded by the benchmark around calls into the program's layers,
and Spark task metrics read back from the event log.

A span has a name, start, end, the span that caused it (parent) and the
iteration it belongs to. Self time is the span's duration minus the time
its children cover. Spans stay in memory and are written out at the end
of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: int | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "iter": self.iteration,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self, iteration: int) -> dict[str, float]:
        """Per span name, the summed self time within one iteration."""
        mine = [(i, s) for i, s in enumerate(self.spans) if s["iter"] == iteration]
        child_time: dict[int, float] = {}
        for _, s in mine:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in mine:
            own = s["end"] - s["start"] - child_time.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def totals(self, iteration: int) -> dict[str, float]:
        """Per span name, the summed duration within one iteration."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["iter"] == iteration:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

ITER_PROPERTY = "perfbench.iteration"


def spark_task_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per iteration label (the ``perfbench.iteration`` local property of
    the stage), summed task metrics from the (finished) event log."""
    stage_iter: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    label = (ev.get("Properties") or {}).get(ITER_PROPERTY)
                    if label is not None:
                        stage_iter[ev["Stage Info"]["Stage ID"]] = label
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    label = stage_iter.get(ev["Stage ID"])
                    if label is not None:
                        tasks.setdefault(label, []).append(ev)
    return {label: _summarise(evs) for label, evs in tasks.items()}


def _summarise(evs: list[dict]) -> dict[str, float]:
    run_ms: dict[int, list[float]] = {}
    out = {"spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
           "spark.jvm_gc_s": 0.0, "spark.shuffle_write_bytes": 0.0,
           "spark.spill_bytes": 0.0, "spark.tasks": float(len(evs))}
    for ev in evs:
        m = ev["Task Metrics"]
        out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spark.shuffle_write_bytes"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
        out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
        run_ms.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    # skew: worst stage's slowest task over its median task (stages of >1 task)
    skews = [max(v) / max(statistics.median(v), 1.0)
             for v in run_ms.values() if len(v) > 1]
    out["spark.task_skew"] = max(skews, default=1.0)
    return out
