"""End-to-end pipeline on ``tests/data/test.json``, a small generated
stand-in for the reference's sample log of that name, in its JSON
event format (tools/make_log_fixtures.py).

The reference's own part-1 golden output is cluster-id-dependent and
its LSH run was unseeded, so byte-equality is not a sound oracle
(SURVEY.md §7.3). We assert the *invariants* its output must satisfy,
plus exact-equality of the clustering-independent core: processes with
identical raw Euler strings always land in the same group.
"""

from __future__ import annotations

import os

import pytest

from big_data_spark.io.readers import read_logs_json
from big_data_spark.pipeline.processes import run_pipeline
from tests.conftest import REFERENCE_DATA


@pytest.fixture(scope="module")
def pipeline_out(spark):
    logs = read_logs_json(spark, os.path.join(REFERENCE_DATA, "test.json"))
    out = run_pipeline(spark, logs)
    return logs, out


def test_every_process_is_grouped(pipeline_out):
    logs, out = pipeline_out
    pids = {r["process_id"] for r in logs.select("process_id").distinct().collect()}
    grouped = set()
    for row in out["groups"].collect():
        grouped.update(row["equal_processes"])
    assert grouped == pids


def test_process_without_request_is_grouped(spark, tmp_path):
    """A process with no Request event (outside the generator's
    invariants, FIXTURES.md §1) still lands in a part-1 group: every
    process is grouped and no part-1 row is keyed by a null group."""
    import json

    from big_data_spark.datagen import generate_logs

    rows = generate_logs(
        spark, n_trees=6, n_processes=12, max_branch=2, max_depth=3,
        n_servers=6, seed=11,
    ).orderBy("time").collect()
    server = rows[0].state_to
    events = [
        (r.state_from, r.state_to, r.time, r.action, r.process_id)
        for r in rows
    ] + [(server, "user", rows[-1].time + 10, "Response", "process_norq")]
    path = tmp_path / "no_request.json"
    path.write_text(
        "".join(
            json.dumps(
                dict(
                    zip(
                        ("state_from", "state_to", "time", "action",
                         "process_id"),
                        e,
                    )
                )
            )
            + ",\n"
            for e in events
        )
    )
    logs = read_logs_json(spark, str(path))
    out = run_pipeline(spark, logs)
    grouped = set()
    for row in out["groups"].collect():
        grouped.update(row["equal_processes"])
    assert grouped == {e[4] for e in events}
    keys = {r["process_id"] for r in out["part1_grouped_logs"].collect()}
    assert None not in keys


def test_identical_euler_strings_share_group(spark, pipeline_out):
    logs, out = pipeline_out
    from big_data_spark.functions.tree import process_encodings

    raw = {
        r["process_id"]: r["euler_string"]
        for r in process_encodings(logs).collect()
    }
    group_of = {}
    for row in out["groups"].collect():
        for pid in row["equal_processes"]:
            group_of[pid] = row["group_processes_id"]
    for pid_a, e_a in raw.items():
        for pid_b, e_b in raw.items():
            if e_a == e_b:
                assert group_of[pid_a] == group_of[pid_b], (pid_a, pid_b)


def test_grouped_logs_shape_and_balance(pipeline_out):
    _, out = pipeline_out
    rows = out["part1_grouped_logs"].collect()
    assert {r["action"] for r in rows} <= {"Request", "Response"}
    # per group: balanced requests/responses (Euler tour invariant)
    from collections import Counter

    req = Counter()
    resp = Counter()
    for r in rows:
        (req if r["action"] == "Request" else resp)[r["process_id"]] += 1
    assert req.keys() == resp.keys()


def test_observations_text_nonempty(pipeline_out):
    _, out = pipeline_out
    texts = [r["text"] for r in out["part1_observations"].collect()]
    assert texts and all(t.startswith("Group ") for t in texts)
    assert any("'server_from'" in t for t in texts)


def test_part2_labels_cover_groups(pipeline_out):
    _, out = pipeline_out
    part2 = out["part2_similar"].collect()
    # every labeled point is a known group id and labels are group ids
    group_ids = {r["group_processes_id"] for r in out["groups"].collect()}
    for r in part2:
        assert r["group_processes_id"] in group_ids
        assert r["ped_cluster"] in group_ids
        assert r["is_core"] in ("core", "border")


def test_servers_have_cluster_ids(pipeline_out):
    _, out = pipeline_out
    servers = out["servers"].collect()
    assert all(r["cluster_id"] for r in servers)
    by_name = {r["server_name"]: r for r in servers}
    assert by_name["user"]["cluster_id"] == "user"
    # identical connection sets must share a cluster id
    seen: dict[tuple, str] = {}
    for r in servers:
        key = tuple(sorted(r["connections"]))
        if key in seen:
            assert seen[key] == r["cluster_id"]
        seen[key] = r["cluster_id"]


def test_pipeline_deterministic_across_runs(spark):
    logs = read_logs_json(spark, os.path.join(REFERENCE_DATA, "test.json"))
    a = run_pipeline(spark, logs)
    b = run_pipeline(spark, logs)
    ga = sorted(
        (r["cluster_euler_string"], tuple(r["equal_processes"]))
        for r in a["groups"].collect()
    )
    gb = sorted(
        (r["cluster_euler_string"], tuple(r["equal_processes"]))
        for r in b["groups"].collect()
    )
    assert ga == gb
