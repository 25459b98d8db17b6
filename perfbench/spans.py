"""Spans around calls into the package, and a reducer that turns Spark's
own event log into per-span and per-layer work.

A span records name, start, end and parent. Entering a span sets the
Spark job group to the span's id, so every job the span submits carries
``spark.jobGroup.id`` in its JobStart properties; leaving it restores the
parent's group. The reducer reads the uncompressed event log with stdlib
``json`` and charges each job, its stages and their tasks to the span
whose id the job carries.

Times in spans and in the event log are epoch milliseconds, so span
intervals and job submit->complete intervals share one clock.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

MB = 1e6

# Stage accumulables that mark the Arrow boundary into Python workers.
PY_WORKER_TIME = "time to run Python workers"
PY_DATA_SENT = "data sent to Python workers"


class Tracer:
    """In-memory spans; each span sets its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------

_ROLLING_PART = re.compile(r"^events_(\d+)_")


def event_log_files(log_dir: str) -> list[str]:
    """The files of the single application log under ``log_dir``: a
    rolling ``eventlog_v2_*`` directory's ``events_<n>_*`` parts in
    order, or one plain log file."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one application log in {log_dir}, got {entries}")
    path = os.path.join(log_dir, entries[0])
    if not os.path.isdir(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = _ROLLING_PART.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _acc_value(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def reduce_events(events) -> dict[str, dict]:
    """Jobs keyed by job id: group, submit/complete times and the
    summed task and stage metrics of the stages that ran for it.

    A stage is charged to the first job that lists it; later jobs that
    list it again skip it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "tasks": 0,
                "exec_cpu_s": 0.0,
                "run_s": 0.0,
                "gc_s": 0.0,
                "fetch_wait_s": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
                "input_mb": 0.0,
                "scan_s": 0.0,
                "py_worker_s": 0.0,
                "py_sent_mb": 0.0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            metrics = ev.get("Task Metrics")
            if job is None or not metrics:
                continue
            job["tasks"] += 1
            job["exec_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            run_s = metrics.get("Executor Run Time", 0) / 1e3
            job["run_s"] += run_s
            job["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
            read = metrics.get("Shuffle Read Metrics") or {}
            job["fetch_wait_s"] += read.get("Fetch Wait Time", 0) / 1e3
            write = metrics.get("Shuffle Write Metrics") or {}
            job["shuffle_write_mb"] += write.get("Shuffle Bytes Written", 0) / MB
            job["spill_mb"] += metrics.get("Disk Bytes Spilled", 0) / MB
            read_bytes = (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["input_mb"] += read_bytes / MB
            if read_bytes:
                job["scan_s"] += run_s
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            job = jobs.get(stage_job.get(info.get("Stage ID")))
            if job is None:
                continue
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_WORKER_TIME:
                    job["py_worker_s"] += _acc_value(acc.get("Value")) / 1e3
                elif acc.get("Name") == PY_DATA_SENT:
                    job["py_sent_mb"] += _acc_value(acc.get("Value")) / MB
    return {str(k): v for k, v in jobs.items()}


# ---------------------------------------------------------------------
# Interval arithmetic and rollups
# ---------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(interval, lo, hi):
    return (max(interval[0], lo), min(interval[1], hi))


def _job_intervals(jobs, lo, hi):
    return [
        _clip((j["submit_ms"], j["end_ms"]), lo, hi)
        for j in jobs
        if j["submit_ms"] is not None and j["end_ms"] is not None
    ]


def span_stats(spans: list[dict], jobs: dict[str, dict]) -> dict[str, dict]:
    """Per span id: wall, self and driver seconds, plus the summed
    metrics of the jobs that carry the span's id.

    ``self_s`` is the span's wall minus the part its child spans cover;
    ``driver_s`` further subtracts the union of the span's own jobs'
    submit->complete intervals, which leaves py4j calls, planning and
    driver-side listing."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    own_jobs: dict[str, list[dict]] = {}
    for job in jobs.values():
        if job["group"] is not None:
            own_jobs.setdefault(job["group"], []).append(job)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [_clip((c["start_ms"], c["end_ms"]), lo, hi) for c in children.get(s["id"], [])]
        mine = own_jobs.get(s["id"], [])
        job_iv = _job_intervals(mine, lo, hi)
        wall = hi - lo
        stats = {
            "wall_s": wall / 1e3,
            "self_s": (wall - union_length(kids)) / 1e3,
            "driver_s": (wall - union_length(kids + job_iv)) / 1e3,
            "jobs": len(mine),
        }
        for key in _JOB_SUMS:
            stats[key] = sum(j[key] for j in mine)
        out[s["id"]] = stats
    return out


_JOB_SUMS = (
    "tasks",
    "exec_cpu_s",
    "gc_s",
    "fetch_wait_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "scan_s",
    "py_worker_s",
    "py_sent_mb",
)


def subtree(spans: list[dict], root_id: str) -> list[dict]:
    """``root_id``'s span and every span below it."""
    keep = {root_id}
    out = []
    for s in spans:  # parents are always recorded before their children
        if s["id"] in keep or s["parent"] in keep:
            keep.add(s["id"])
            out.append(s)
    return out


def layer_rollup(spans: list[dict], stats: dict[str, dict], name: str) -> dict:
    """Every span called ``name``: wall is the union of their intervals,
    the rest is summed over them."""
    mine = [s for s in spans if s["name"] == name]
    out = {"wall_s": union_length((s["start_ms"], s["end_ms"]) for s in mine) / 1e3}
    for key in ("driver_s", "jobs") + _JOB_SUMS:
        out[key] = sum(stats[s["id"]][key] for s in mine)
    return out


def pass_rollup(spans: list[dict], root_id: str, jobs: dict[str, dict]) -> dict:
    """Engine totals for one pass: every job under the pass's span tree;
    ``driver_s`` is the pass wall minus the union of those jobs."""
    tree = subtree(spans, root_id)
    ids = {s["id"] for s in tree}
    mine = [j for j in jobs.values() if j["group"] in ids]
    root = next(s for s in tree if s["id"] == root_id)
    lo, hi = root["start_ms"], root["end_ms"]
    job_iv = _job_intervals(mine, lo, hi)
    out = {
        "wall_s": (hi - lo) / 1e3,
        "jobs": len(mine),
        "driver_s": (hi - lo - union_length(job_iv)) / 1e3,
    }
    for key in _JOB_SUMS:
        out[key] = sum(j[key] for j in mine)
    return out


def median_of(dicts: list[dict]) -> dict:
    """Key-wise median over per-pass dicts that share their keys."""
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
