"""BENCHMARK.json against the code, and the lake fixture without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import lake  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


def test_workloads_match():
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)


def test_per_layer_names_and_units_match():
    assert [m["name"] for m in BENCH["per_layer"]] == list(run.PER_LAYER)
    assert all(m["unit"] == run._unit(m["name"]) for m in BENCH["per_layer"])


def test_end_to_end_names():
    assert [m["name"] for m in BENCH["end_to_end"]] == ["setup_s", "run_s", "write_amp"]


def test_rows_digest_ignores_row_and_column_order():
    a = lake.rows_digest(["b", "a"], [(1, 0.5), (2, 0.25)])
    b = lake.rows_digest(["a", "b"], [(0.25, 2), (0.5, 1)])
    assert a == b
    assert a != lake.rows_digest(["a", "b"], [(0.25, 2), (0.5, 3)])


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    out = []
    for seed in (1, 1, 2):
        work = str(tmp_path_factory.mktemp("lake"))
        out.append(lake.build_fixture(None, "lake_registry", seed, work))
    return out


def test_lake_fixture_follows_the_seed(fixtures):
    a, b, c = fixtures
    assert a["expected"] == b["expected"] and a["batches"] == b["batches"]
    assert a["expected"] != c["expected"]


def test_lake_expectations_are_consistent(fixtures):
    fx = fixtures[0]
    p = fx["params"]
    assert fx["input"]["appends"] == p["appends"] * p["append_rows"]
    assert fx["expected"]["changes"] == fx["input"]["appends"]
    assert len(fx["expected"]["reads"]) == p["appends"]
    # every pruned read finds rows, so a read that drops rows shows
    assert all(r["count"] > 0 for r in fx["expected"]["reads"])
