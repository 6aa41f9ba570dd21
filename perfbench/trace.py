"""Spans around the benchmark's calls into each layer, and the Spark
stage metrics of each op read back from an uncompressed event log.

Spans are kept in memory and written out once, when the run ends. Each
op runs its Spark jobs under the job groups ``<op>:build`` (the query
builder's eager jobs) and ``<op>:exec`` (the action), so the event log's
stage metrics join to the op's spans by job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: The children of an op span (build, plan, exec, or the one layer call
#: of an Engine op) must cover the op's wall time to within this share,
#: or to within ``COVERAGE_SLACK_S``, whichever is larger. The remainder
#: is the benchmark's own bookkeeping between spans.
COVERAGE_TOLERANCE = 0.05
COVERAGE_SLACK_S = 0.010


@dataclass
class Span:
    id: int
    name: str
    op: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. ``span()`` nests: the innermost open
    span is the parent of the next one opened."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, op, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], self.children(sid))

    def uncovered_ops(self, root: str = "op") -> list[str]:
        """Ops whose child spans leave more of the op's wall time
        uncovered than the stated tolerance allows."""
        bad = []
        for s in self.spans:
            if s.name != root:
                continue
            dur = s.end - s.start
            gap = self.self_time(s.id)
            if gap > max(COVERAGE_TOLERANCE * dur, COVERAGE_SLACK_S):
                bad.append(s.op)
        return bad

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self.self_time(s.id)} for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by the DataFrame's own
    QueryPlanningTracker: analysis, optimization and planning."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


#: Task-end fields summed per job group (event-log JSON names).
_TASK_FIELDS = {
    "task_run_ms": ("Executor Run Time",),
    "task_cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_disk_bytes": ("Disk Bytes Spilled",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_remote_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
}


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0.0
    return float(d)


def stage_metrics(event_log: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages run, tasks, failed tasks, and the
    summed task metrics of ``_TASK_FIELDS``. Stages that a job lists
    but skips (their shuffle output is reused) run no tasks and are not
    counted."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = {}
    ran: dict[str, set[int]] = {}

    def g(name: str) -> dict[str, float]:
        if name not in groups:
            groups[name] = dict.fromkeys(("jobs", "stages", "tasks", "failed_tasks", *_TASK_FIELDS), 0.0)
            ran[name] = set()
        return groups[name]

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                g(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "")
                m = g(group)
                ran[group].add(ev.get("Stage ID"))
                m["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    m["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                for key, path in _TASK_FIELDS.items():
                    m[key] += _dig(tm, path)
    for name, m in groups.items():
        m["stages"] = float(len(ran[name]))
    return groups
