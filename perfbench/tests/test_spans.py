"""Event-log reducer and span arithmetic on a small canned event log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def _job_start(jid, group, submit, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": submit,
        "Stage IDs": stages,
        "Properties": props,
    }


def _job_end(jid, done):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": done}


def _task_end(stage, cpu_ns, run_ms, *, gc=0, fetch=0, shuffle=0, spill=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _stage_done(stage, accumulables):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Accumulables": [
                {"ID": i, "Name": n, "Value": v} for i, (n, v) in enumerate(accumulables)
            ],
        },
    }


# Timeline (ms): span "outer" 1000-2000 holds child "inner" 1200-1500.
# Job 0 (outer) runs 1050-1150, job 1 (inner) 1250-1450 on stages 1-2,
# job 2 (no group) 1600-1700 and job 3 (outer) 1800-1900, which lists
# stage 2 again and so skips it.
EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job_start(0, "s-0", 1050, [0]),
    _task_end(0, 2_000_000_000, 900, gc=100, read=4_000_000),
    _task_end(0, 1_000_000_000, 600, read=2_000_000),
    _stage_done(0, []),
    _job_end(0, 1150),
    _job_start(1, "s-1", 1250, [1, 2]),
    _task_end(1, 500_000_000, 300, shuffle=3_000_000, spill=1_000_000),
    _stage_done(1, []),
    _task_end(2, 250_000_000, 200, fetch=50),
    _stage_done(
        2,
        [
            (spans.PY_WORKER_TIME, "1500"),
            (spans.PY_DATA_SENT, "2000000"),
            ("data returned from Python workers", "999"),
        ],
    ),
    _job_end(1, 1450),
    _job_start(2, None, 1600, [3]),
    _task_end(3, 7_000_000_000, 5000),
    _job_end(2, 1700),
    _job_start(3, "s-0", 1800, [2, 4]),
    _task_end(4, 100_000_000, 100),
    _job_end(3, 1900),
]

SPANS = [
    {"id": "s-0", "name": "outer", "parent": None, "start_ms": 1000.0, "end_ms": 2000.0},
    {"id": "s-1", "name": "inner", "parent": "s-0", "start_ms": 1200.0, "end_ms": 1500.0},
]


@pytest.fixture
def rolling_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    # Split across two rolled files, named so that a plain string sort
    # would put part 10 before part 2.
    first, second = EVENTS[:8], EVENTS[8:]
    (app / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in second))
    (app / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in first))
    (app / "events_10_local-1").write_text("\n")
    return str(tmp_path)


def test_event_log_files_orders_rolled_parts(rolling_log):
    names = [os.path.basename(p) for p in spans.event_log_files(rolling_log)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_reduce_charges_tasks_and_accumulables_to_jobs(rolling_log):
    jobs = spans.reduce_events(spans.read_events(spans.event_log_files(rolling_log)))
    assert set(jobs) == {"0", "1", "2", "3"}
    j0, j1, j2, j3 = (jobs[k] for k in "0123")
    assert (j0["group"], j0["tasks"], j0["exec_cpu_s"], j0["gc_s"]) == ("s-0", 2, 3.0, 0.1)
    assert j0["input_mb"] == pytest.approx(6.0)
    assert j0["scan_s"] == pytest.approx(1.5)
    assert j1["tasks"] == 2
    assert j1["shuffle_write_mb"] == pytest.approx(3.0)
    assert j1["spill_mb"] == pytest.approx(1.0)
    assert j1["fetch_wait_s"] == pytest.approx(0.05)
    assert j1["py_worker_s"] == pytest.approx(1.5)
    assert j1["py_sent_mb"] == pytest.approx(2.0)
    assert j1["scan_s"] == 0.0
    assert j2["group"] is None and j2["exec_cpu_s"] == 7.0
    # stage 2 already ran for job 1; job 3 only ran stage 4
    assert (j3["tasks"], j3["py_worker_s"]) == (1, 0.0)


def test_span_self_and_driver_time(rolling_log):
    jobs = spans.reduce_events(spans.read_events(spans.event_log_files(rolling_log)))
    stats = spans.span_stats(SPANS, jobs)
    outer, inner = stats["s-0"], stats["s-1"]
    assert outer["wall_s"] == pytest.approx(1.0)
    # minus the child 1200-1500
    assert outer["self_s"] == pytest.approx(0.7)
    # minus the child and its own jobs 1050-1150 and 1800-1900; the
    # ungrouped job at 1600-1700 is nobody's and stays driver time
    assert outer["driver_s"] == pytest.approx(0.5)
    assert (outer["jobs"], outer["tasks"], outer["exec_cpu_s"]) == (2, 3, 3.1)
    assert inner["self_s"] == pytest.approx(0.3)
    assert inner["driver_s"] == pytest.approx(0.1)
    assert (inner["jobs"], inner["py_worker_s"]) == (1, pytest.approx(1.5))


def test_rollups(rolling_log):
    jobs = spans.reduce_events(spans.read_events(spans.event_log_files(rolling_log)))
    stats = spans.span_stats(SPANS, jobs)
    engine = spans.pass_rollup(SPANS, "s-0", jobs)
    assert engine["jobs"] == 3  # the ungrouped job is outside every pass
    assert engine["exec_cpu_s"] == pytest.approx(3.85)
    # pass wall minus the union of jobs 0, 1 and 3
    assert engine["driver_s"] == pytest.approx(1.0 - 0.1 - 0.2 - 0.1)
    inner = spans.layer_rollup(SPANS, stats, "inner")
    assert (inner["wall_s"], inner["jobs"]) == (pytest.approx(0.3), 1)
    assert spans.subtree(SPANS, "s-1") == [SPANS[1]]


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (6, 6), (4, 4.5)]) == 4.5
    assert spans.union_length([]) == 0.0


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_nests_and_restores_job_groups():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("a") as a:
        with tracer.span("b") as b:
            pass
    assert (a["parent"], b["parent"]) == (None, "span-0")
    assert a["start_ms"] <= b["start_ms"] <= b["end_ms"] <= a["end_ms"]
    assert sc.calls == [
        ("group", "span-0"),
        ("group", "span-1"),
        ("group", "span-0"),
        ("spark.jobGroup.id", None),
    ]
