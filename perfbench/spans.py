"""Spans recorded around calls into the program, and the Spark event-log
harvest that attributes task metrics to them.

Each span tags the Spark jobs it starts with a job group named after the
span; after ``spark.stop()`` the event log maps every task to a job, every
job to its group, and so every task metric to the span that caused it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Iterable

from stats import Span, median, percentile, self_time, supported_percentile


class Tracer:
    """Keeps spans in memory; ``on_enter(name)`` runs as each span opens and
    ``on_enter(parent)`` as it closes, so the caller can point the Spark job
    group at the innermost open span.  ``on_enter`` may be set at any time;
    by default it does nothing.  ``overhead_s`` adds up the time spent in
    it and in the tracer's own bookkeeping."""

    def __init__(self, trace_id: str, on_enter: Callable[[str | None], None] | None = None):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open: list[str] = []
        self.on_enter = on_enter or (lambda name: None)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.on_enter(name)
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id)
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.on_enter(parent)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    def dump(self) -> list[dict]:
        return [
            {
                "trace_id": s.trace_id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self_time(s, self.spans),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


#: task-duration floor below which a stage is too small to call skewed
SKEW_MIN_TASK_MS = 100


def _stage_skew(task_ms: list[float]) -> float:
    if len(task_ms) < 2 or max(task_ms) < SKEW_MIN_TASK_MS:
        return 1.0
    return max(task_ms) / max(median(task_ms), 1.0)


def harvest_event_log(lines: Iterable[str]) -> dict[str | None, dict]:
    """Per job group (``None`` = jobs outside any group): jobs, tasks,
    shuffle written, bytes spilled, GC time, input records, task durations,
    and the worst per-stage max/median task-time ratio."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            tasks_by_stage[ev["Stage ID"]].append(
                {
                    "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "input_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                }
            )
    out: dict[str | None, dict] = {}
    for group, n_jobs in jobs.items():
        out[group] = {
            "jobs": n_jobs, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            "gc_s": 0.0, "input_rows": 0, "task_skew": 1.0, "task_ms": [],
        }
    for sid, tasks in tasks_by_stage.items():
        g = out.get(stage_group.get(sid))
        if g is None:
            continue
        g["tasks"] += len(tasks)
        g["shuffle_mb"] += sum(t["shuffle"] for t in tasks) / 1e6
        g["spill_mb"] += sum(t["spill"] for t in tasks) / 1e6
        g["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1e3
        g["input_rows"] += sum(t["input_rows"] for t in tasks)
        g["task_ms"].extend(t["ms"] for t in tasks)
        g["task_skew"] = max(g["task_skew"], _stage_skew([t["ms"] for t in tasks]))
    return out


def total(groups: dict[str | None, dict]) -> dict:
    """All groups folded into one, with the tail task time at the highest
    percentile that has at least ten tasks beyond it."""
    task_ms = [ms for g in groups.values() for ms in g["task_ms"]]
    p = supported_percentile(len(task_ms))
    return {
        "jobs": sum(g["jobs"] for g in groups.values()),
        "tasks": sum(g["tasks"] for g in groups.values()),
        "shuffle_mb": sum(g["shuffle_mb"] for g in groups.values()),
        "spill_mb": sum(g["spill_mb"] for g in groups.values()),
        "gc_s": sum(g["gc_s"] for g in groups.values()),
        "task_skew": max((g["task_skew"] for g in groups.values()), default=1.0),
        "task_tail_pct": p,
        "task_tail_ms": percentile(task_ms, p) if p is not None else float("nan"),
    }
