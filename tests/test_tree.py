"""Tree-encoding correctness on sample logs in the reference's format.

Oracle: a direct driver-side Python implementation of the documented
encoding spec (FIXTURES.md §2a; reference: Src/processes.py:12-33 and
Src/processes.py:66-99 semantics), run on ``tests/data/test.json`` and
``tests/data/data_processes_v2.json``. These are small generated
stand-ins for the reference's sample files of the same names, in its
JSON event format (tools/make_log_fixtures.py); the second adds
hand-written processes for each edge case of ``_spec_depths``.
"""

from __future__ import annotations

import json
import os

import pytest

from big_data_spark.functions.tree import (
    depth_to_servers,
    logs_with_depth,
    process_encodings,
)
from big_data_spark.io.readers import read_logs_json
from tests.conftest import REFERENCE_DATA


def _load_rows(path: str) -> list[dict]:
    rows = []
    with open(path) as fh:
        for line in fh:
            line = line.strip().rstrip(",")
            if line:
                rows.append(json.loads(line))
    return rows


def _spec_encodings(rows: list[dict]) -> dict[str, tuple[str, str]]:
    """Driver-side spec implementation: path + euler per process."""
    by_pid: dict[str, list[dict]] = {}
    for row in sorted(rows, key=lambda r: r["time"]):
        by_pid.setdefault(row["process_id"], []).append(row)
    out = {}
    for pid, events in by_pid.items():
        path_parts, euler_parts = [], []
        for e in events:
            if e["action"] == "Request":
                path_parts.append(f"{e['state_from']}:{e['state_to']}")
                euler_parts.append("1" + e["state_to"])
            else:
                euler_parts.append("0" + e["state_from"])
        out[pid] = ("-".join(path_parts), "-".join(euler_parts))
    return out


def _spec_depths(rows: list[dict]) -> dict[tuple[str, str], int]:
    """Spec: depth(user)=0; first Request into Y sets depth(Y)=depth(X)+1;
    a Request from an unseen server, or a process with no Requests,
    voids the whole process (reference UDF returns {})."""
    depths: dict[tuple[str, str], int] = {}
    by_pid: dict[str, list[dict]] = {}
    for row in sorted(rows, key=lambda r: r["time"]):
        by_pid.setdefault(row["process_id"], []).append(row)
    for pid, events in by_pid.items():
        d: dict[str, int] = {"user": 0}
        any_request = False
        for e in events:
            if e["action"] != "Request":
                continue
            any_request = True
            if e["state_from"] not in d:
                d = {}
                break
            if e["state_to"] not in d:
                d[e["state_to"]] = d[e["state_from"]] + 1
        if not any_request:
            d = {}
        for server, depth in d.items():
            depths[(pid, server)] = depth
    return depths


DATASETS = ["test.json", "data_processes_v2.json"]


@pytest.mark.parametrize("dataset", DATASETS)
def test_process_encodings_match_spec(spark, dataset):
    path = os.path.join(REFERENCE_DATA, dataset)
    logs = read_logs_json(spark, path)
    got = {
        r["process_id"]: (r["request_path"], r["euler_string"])
        for r in process_encodings(logs).collect()
    }
    want = _spec_encodings(_load_rows(path))
    assert got == want


@pytest.mark.parametrize("dataset", DATASETS)
def test_depth_from_matches_spec(spark, dataset):
    path = os.path.join(REFERENCE_DATA, dataset)
    logs = read_logs_json(spark, path)
    spec = _spec_depths(_load_rows(path))
    for row in logs_with_depth(logs).collect():
        expected = spec.get((row["process_id"], row["state_from"]), -1)
        assert row["depth_from"] == expected, row


def test_depth_to_servers_shape(spark):
    path = os.path.join(REFERENCE_DATA, "test.json")
    logs = read_logs_json(spark, path)
    spec = _spec_depths(_load_rows(path))
    for row in depth_to_servers(logs).collect():
        want: dict[int, list[str]] = {}
        for (pid, server), depth in spec.items():
            if pid == row["process_id"]:
                want.setdefault(depth, []).append(server)
        got = {k: sorted(v) for k, v in row["depth_to_servers"].items()}
        assert got == {k: sorted(v) for k, v in want.items()}
