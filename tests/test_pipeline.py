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
from tests.conftest import GRAPH_PATHS, REFERENCE_DATA, graph_path, jobs_run


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


@pytest.fixture(scope="module")
def part2_input(spark):
    """Part 2's input on ``data_processes_v2.json``: one row per
    equal-process group with its element set (the join run_pipeline
    makes), and its MinHash-LSH ε-edges, both materialized. The edges
    use a looser threshold than the pipeline's 0.5 (15 edges instead
    of 2), so the graph has multi-hop components and border points."""
    from big_data_spark.lineage import truncate_lineage
    from big_data_spark.operators.clustering import similarity_edges

    logs = read_logs_json(
        spark, os.path.join(REFERENCE_DATA, "data_processes_v2.json")
    )
    out = run_pipeline(spark, logs)
    groups, processes = out["groups"], out["processes"]
    gwe = truncate_lineage(
        groups.join(
            processes.select("process_id", "cluster_elements"),
            groups.equal_processes[0] == processes.process_id,
            "left",
        ).select("group_processes_id", "cluster_euler_string", "cluster_elements"),
        eager=True,
    )
    edges = truncate_lineage(
        similarity_edges(
            gwe,
            id_col="group_processes_id",
            features_col="cluster_elements",
            threshold=0.8,
            num_features=512,
        ),
        eager=True,
    )
    return gwe, edges


def _spec_part2(edges, strings, lsh_min_pts, edit_epsilon, edit_min_pts):
    """Driver-side spec of part 2: graph DBSCAN over the ε-edges, then
    edit-distance DBSCAN over all pairs inside each LSH cluster."""
    from big_data_spark.operators.editdist import edit_distance
    from tests.test_operators import _spec_dbscan

    clusters = {}
    for v, (mh, _) in _spec_dbscan(edges, lsh_min_pts).items():
        clusters.setdefault(mh, []).append(v)
    rows = []
    for mh, ids in clusters.items():
        close = [
            (a, b)
            for a in ids
            for b in ids
            if a < b and edit_distance(strings[a], strings[b]) < edit_epsilon
        ]
        for v, (comp, core) in _spec_dbscan(close, edit_min_pts).items():
            rows.append((v, mh, comp, "core" if core else "border"))
    return sorted(rows)


@pytest.mark.parametrize("path", GRAPH_PATHS)
def test_part2_matches_spec(part2_input, path):
    """Both part-2 paths — the driver path (one union-find plus the
    edit-distance kernel per LSH cluster, on the driver) and the Spark
    path (DBSCAN rounds plus one applyInPandas task per LSH cluster) —
    give the spec's rows. edit_min_pts=3 makes the edit-distance
    DBSCAN label both core and border points."""
    from big_data_spark.pipeline.processes import similar_process_groups

    gwe, edges = part2_input
    with graph_path(path) as calls:
        got = sorted(
            map(
                tuple,
                similar_process_groups(gwe, edges=edges, edit_min_pts=3).collect(),
            )
        )
    assert bool(calls) == (path == "driver")
    strings = {
        r["group_processes_id"]: r["cluster_euler_string"] for r in gwe.collect()
    }
    pairs = [(r["id_a"], r["id_b"]) for r in edges.collect()]
    want = _spec_part2(pairs, strings, 2, 6, 3)
    assert got == want
    assert {r[3] for r in want} == {"core", "border"}


def test_part2_and_components_job_counts(spark, part2_input):
    """On the sample, part 2 (MinHash-LSH included) and connected
    components over its ε-edges each run at most half the Spark jobs
    the Spark rounds needed (32 and 29): a small graph is labelled in
    one step on the driver."""
    from big_data_spark.operators.components import connected_components
    from big_data_spark.pipeline.processes import similar_process_groups

    gwe, edges = part2_input
    with jobs_run(spark) as part2:
        similar_process_groups(gwe).collect()
    with jobs_run(spark) as cc:
        connected_components(edges, src="id_a", dst="id_b").collect()
    assert part2["jobs"] <= 32 // 2, part2
    assert cc["jobs"] <= 29 // 2, cc
