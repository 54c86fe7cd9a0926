"""Spans recorded by the benchmark harness and their fold with Spark's event log.

A :class:`Tracer` keeps spans in memory: name, start, end and the span
that encloses it. A span opened with ``group=True`` is given its own
Spark job-group id; the harness sets that id on the SparkContext while
the span is open, so every job Spark runs inside it carries the id in
the ``spark.jobGroup.id`` property of its ``SparkListenerJobStart``
event. :func:`fold` reads a parsed event log and sums the task metrics
of each span's jobs into the span and all its ancestors. Jobs whose
group belongs to no span (streaming micro-batches, which Spark runs
under their own group) are counted as unattributed, never dropped.

Nothing here talks to Spark, so the fold can be checked on a
hand-written log (``perfbench/tests/test_trace.py``).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# Sums folded from task metrics, keyed by the name used in span counters.
COUNTERS = (
    "jobs",
    "stages",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
)

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    # Filled by fold(): this span's own jobs, then inclusive of children.
    own: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    total: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. ``set_group`` is called with the span's
    job-group id on entry and with the enclosing span's id (or None) on
    exit, so nested grouped spans restore the outer group."""

    def __init__(self, set_group=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._set_group = set_group or (lambda group: None)
        self._clock = clock

    def _current_group(self) -> str | None:
        for sid in reversed(self._stack):
            if self.spans[sid].group is not None:
                return self.spans[sid].group
        return None

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs) -> Iterator[Span]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid=sid, name=name, parent=parent, start=self._clock(), attrs=attrs)
        if group:
            s.group = f"{GROUP_PREFIX}{sid}"
        self.spans.append(s)
        self._stack.append(sid)
        if group:
            self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if group:
                self._set_group(self._current_group())

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of its interval that children cover
        (overlapping children are merged, parts outside the span clipped)."""
        lo, hi = span.start, span.start + span.duration
        parts = sorted(
            (max(c.start, lo), min(c.start + c.duration, hi))
            for c in self.children(span)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in parts:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered


def read_event_log(lines: Iterable[str]) -> list[dict]:
    """Parse a Spark JSON event log (one event per line)."""
    return [json.loads(line) for line in lines if line.strip()]


def _task_counters(metrics: dict) -> dict:
    shuffle = metrics.get("Shuffle Write Metrics") or {}
    inputs = metrics.get("Input Metrics") or {}
    outputs = metrics.get("Output Metrics") or {}
    return {
        "executor_run_s": metrics.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "shuffle_mb": shuffle.get("Shuffle Bytes Written", 0) / _MB,
        "spill_mb": metrics.get("Disk Bytes Spilled", 0) / _MB,
        "input_mb": inputs.get("Bytes Read", 0) / _MB,
        "output_mb": outputs.get("Bytes Written", 0) / _MB,
    }


@dataclass
class FoldResult:
    unattributed_jobs: int = 0
    # Counters of every job in the log, attributed or not.
    all_jobs: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))


def fold(tracer: Tracer, events: Iterable[dict]) -> FoldResult:
    """Attribute the log's jobs, stages and task metrics to spans.

    A stage belongs to the first job that lists it; a task to its stage.
    ``Span.own`` holds the counters of jobs carrying the span's group,
    ``Span.total`` those of the span and every descendant."""
    by_group = {s.group: s for s in tracer.spans if s.group is not None}
    job_owner: dict[int, Span | None] = {}
    stage_job: dict[int, int] = {}
    result = FoldResult()
    per_job: dict[int, dict] = {}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            owner = by_group.get(group)
            job_owner[job] = owner
            per_job[job] = dict.fromkeys(COUNTERS, 0.0)
            per_job[job]["jobs"] = 1.0
            if owner is None:
                result.unattributed_jobs += 1
            for stage in ev.get("Stage IDs", ()):
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None:
                per_job[job]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None:
                continue
            for key, value in _task_counters(ev.get("Task Metrics") or {}).items():
                per_job[job][key] += value

    for job, counters in per_job.items():
        for key, value in counters.items():
            result.all_jobs[key] += value
        owner = job_owner.get(job)
        if owner is None:
            continue
        for key, value in counters.items():
            owner.own[key] += value

    # Children always have larger ids than their parents: sum bottom-up.
    for s in tracer.spans:
        s.total = dict(s.own)
    for s in reversed(tracer.spans):
        if s.parent is not None:
            parent = tracer.spans[s.parent]
            for key, value in s.total.items():
                parent.total[key] += value
    return result
