"""Spans recorded around calls into the engine, and the Spark event-log
reducer that attributes Spark work to them.

A span has a name, a start, an end and a parent; every span of one pass
shares a run id.  Spans live in memory and are written out by the caller
at the end.  While a span is open the benchmark names it as the Spark job
group, so every job in the event log carries the innermost open span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder.  ``spark`` is optional so the arithmetic
    can be tested without a session."""

    run_id: str
    spark: object | None = None
    spans: list[Span] = field(default_factory=list)
    _open: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{s.id}", s.name)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            c for c in (_clip((k.start, k.end), s.start, s.end) for k in children.get(s.id, []))
            if c
        ]
        out[s.id] = s.wall - union_length(covered)
    return out


# --- event log --------------------------------------------------------------

#: per-task counters summed per span (TaskEnd "Task Metrics" paths)
_TASK_COUNTERS = {
    "task_s": ("Executor Run Time",),
    "shuffle_read_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle_read_records": ("Shuffle Read Metrics", "Total Records Read"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_records": ("Shuffle Write Metrics", "Shuffle Records Written"),
    "memory_spill_bytes": ("Memory Bytes Spilled",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_rows": ("Input Metrics", "Records Read"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_rows": ("Output Metrics", "Records Written"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (plan node name, metric name), over a plan tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


@dataclass
class SpanCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    #: (plan node name, metric name) -> summed task-side SQL metric
    sql: dict[tuple[str, str], float] = field(default_factory=dict)


def reduce_event_log(lines, run_id: str) -> dict[int, SpanCounts]:
    """Spark counts per span id from an uncompressed event log.

    Jobs are attributed by their job group (``<run_id>:<span id>``); stages
    and tasks follow their job.  ``busy_s`` is the union of the span's job
    intervals, so span wall minus ``busy_s`` is its driver gap.
    """
    events = [json.loads(line) for line in lines]
    # adaptive plan updates can be logged after the tasks that ran them, so
    # name every SQL metric before attributing any task
    acc_names: dict[int, tuple[str, str]] = {}
    for ev in events:
        if "sparkPlanInfo" in ev:
            _plan_metrics(ev["sparkPlanInfo"], acc_names)
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, float] = {}
    intervals: dict[int, list[tuple[float, float]]] = {}
    out: dict[int, SpanCounts] = {}
    prefix = run_id + ":"
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith(prefix):
                continue
            sid = int(group[len(prefix):])
            job_span[ev["Job ID"]] = sid
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            c = out.setdefault(sid, SpanCounts())
            c.jobs += 1
            for st in ev["Stage IDs"]:
                stage_span[st] = sid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            sid = job_span[ev["Job ID"]]
            iv = (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
            intervals.setdefault(sid, []).append(iv)
        elif kind == "SparkListenerStageCompleted":
            sid = stage_span.get(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                out[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            c = out[sid]
            c.tasks += 1
            tm = ev.get("Task Metrics") or {}
            for name, path in _TASK_COUNTERS.items():
                c.counters[name] = c.counters.get(name, 0) + _dig(tm, path)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = acc_names.get(acc.get("ID"))
                if key is not None and isinstance(acc.get("Update"), (int, str)):
                    try:
                        c.sql[key] = c.sql.get(key, 0) + int(acc["Update"])
                    except ValueError:
                        pass
    for sid, c in out.items():
        c.counters["task_s"] = c.counters.get("task_s", 0) / 1000.0
        c.busy_s = union_length(intervals.get(sid, []))
    return out


def rollup(spans: list[Span], counts: dict[int, SpanCounts], roots) -> SpanCounts:
    """Counts of the spans ``roots`` and all their descendants.  Busy time
    is summed, which is exact because this benchmark runs its spans one at
    a time."""
    ids = set(roots)
    for s in spans:  # spans are recorded parent-first
        if s.parent in ids:
            ids.add(s.id)
    total = SpanCounts()
    for sid in ids:
        c = counts.get(sid)
        if c is None:
            continue
        total.jobs += c.jobs
        total.stages += c.stages
        total.tasks += c.tasks
        total.busy_s += c.busy_s
        for k, v in c.counters.items():
            total.counters[k] = total.counters.get(k, 0) + v
        for k, v in c.sql.items():
            total.sql[k] = total.sql.get(k, 0) + v
    return total


def distinct_plans(lines) -> int:
    """Distinct physical plans the SQL executions in the log ran (expression
    ids stripped, so re-running one query counts once)."""
    import re

    seen = set()
    for line in lines:
        if "SparkListenerSQLExecutionStart" not in line:
            continue
        plan = json.loads(line).get("physicalPlanDescription", "")
        seen.add(re.sub(r"#\d+L?", "", plan))
    return len(seen)
