"""Self-test of the span/event-log fold on a hand-written event log.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import GROUP_PREFIX, Tracer, fold, read_event_log  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def _task(stage, run_ms, cpu_ns, shuffle=0, gc_ms=0, spill=0, read=0, wrote=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": wrote},
        },
    }


def _job(job, stages, group):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": props,
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


MB = 1024 * 1024


@pytest.fixture
def traced():
    """sweep [0, 10] > query [1, 9] > build [1, 4] (grouped) and
    force [5, 8] (grouped), plus a second grouped top-level span."""
    clock = FakeClock()
    groups = []
    tracer = Tracer(set_group=groups.append, clock=clock)
    with tracer.span("sweep") as sweep:
        clock.now = 1.0
        with tracer.span("query") as query:
            with tracer.span("build", group=True) as build:
                clock.now = 4.0
            clock.now = 5.0
            with tracer.span("force", group=True) as force:
                clock.now = 8.0
            clock.now = 9.0
        clock.now = 10.0
    with tracer.span("other", group=True) as other:
        clock.now = 12.0
    return tracer, groups, sweep, query, build, force, other


def _log(build, force):
    events = [
        _job(0, [0], build.group),
        _task(0, 100, 50_000_000, read=2 * MB),
        _task(0, 300, 150_000_000, gc_ms=20),
        _stage_done(0),
        # force: two stages, the second one reused later by job 3
        _job(1, [1, 2], force.group),
        _task(1, 1000, 800_000_000, shuffle=3 * MB),
        _stage_done(1),
        _task(2, 500, 400_000_000, spill=MB, wrote=MB),
        _stage_done(2),
        # streaming micro-batch: its own group, owned by no span
        _job(2, [3], "b3f1c2a0-streaming-run"),
        _task(3, 700, 600_000_000),
        _stage_done(3),
        # re-lists the force's stage 2 (skipped) plus a fresh stage 4
        _job(3, [2, 4], force.group),
        _task(4, 200, 100_000_000),
        _stage_done(4),
    ]
    return read_event_log(json.dumps(e) for e in events)


def test_groups_are_set_and_restored(traced):
    tracer, groups, sweep, query, build, force, other = traced
    assert groups == [build.group, None, force.group, None, other.group, None]
    assert all(g.startswith(GROUP_PREFIX) for g in (build.group, force.group))


def test_per_span_sums(traced):
    tracer, _, sweep, query, build, force, other = traced
    fold(tracer, _log(build, force))

    assert build.own["jobs"] == 1 and build.own["stages"] == 1
    assert build.own["executor_run_s"] == pytest.approx(0.4)
    assert build.own["executor_cpu_s"] == pytest.approx(0.2)
    assert build.own["gc_s"] == pytest.approx(0.02)
    assert build.own["input_mb"] == pytest.approx(2.0)

    assert force.own["jobs"] == 2
    assert force.own["stages"] == 3  # stage 2 counted once, for job 1
    assert force.own["executor_run_s"] == pytest.approx(1.7)
    assert force.own["executor_cpu_s"] == pytest.approx(1.3)
    assert force.own["shuffle_mb"] == pytest.approx(3.0)
    assert force.own["spill_mb"] == pytest.approx(1.0)
    assert force.own["output_mb"] == pytest.approx(1.0)

    # ancestors own nothing themselves but include their descendants
    assert query.own["jobs"] == 0 and sweep.own["jobs"] == 0
    for key in ("jobs", "stages", "executor_run_s", "executor_cpu_s", "shuffle_mb"):
        assert query.total[key] == pytest.approx(build.total[key] + force.total[key])
        assert sweep.total[key] == pytest.approx(query.total[key])
    assert other.total["jobs"] == 0


def test_unattributed_job_is_counted_not_dropped(traced):
    tracer, _, sweep, _, build, force, _ = traced
    result = fold(tracer, _log(build, force))
    assert result.unattributed_jobs == 1
    assert result.all_jobs["jobs"] == 4
    assert result.all_jobs["executor_run_s"] == pytest.approx(2.8)
    # the streaming job's 0.7 s is in the log total but in no span
    assert result.all_jobs["executor_run_s"] - sweep.total[
        "executor_run_s"
    ] == pytest.approx(0.7)


def test_self_time_subtracts_child_cover(traced):
    tracer, _, sweep, query, build, force, other = traced
    assert sweep.duration == 10.0 and query.duration == 8.0
    assert tracer.self_time(sweep) == pytest.approx(10.0 - 8.0)
    assert tracer.self_time(query) == pytest.approx(8.0 - (3.0 + 3.0))
    assert tracer.self_time(build) == pytest.approx(3.0)
    assert tracer.self_time(other) == pytest.approx(2.0)


def test_self_time_merges_overlapping_children():
    clock = FakeClock()
    tracer = Tracer(clock=clock)
    with tracer.span("parent") as parent:
        clock.now = 10.0
    # children recorded by hand: [1, 4] and [3, 6] overlap, [9, 12] is
    # clipped at the parent's end
    for lo, hi in ((1.0, 4.0), (3.0, 6.0), (9.0, 12.0)):
        clock.now = lo
        tracer._stack.append(parent.sid)
        with tracer.span("child") as child:
            clock.now = hi
        tracer._stack.pop()
        assert child.parent == parent.sid
    assert tracer.self_time(parent) == pytest.approx(10.0 - 5.0 - 1.0)
