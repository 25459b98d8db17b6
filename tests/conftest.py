"""Shared fixtures: one SparkSession per test run, DuckDB oracle; helpers
that count the Spark jobs of a block and force a graph-labelling path."""

from __future__ import annotations

import os
import sys
import uuid
from contextlib import ExitStack, contextmanager
from unittest import mock

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_spark.session import get_spark, quiet_logs, stop_spark  # noqa: E402

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA_ROOT}/sf0.001"
SF_CORRECT = f"{TESTDATA_ROOT}/sf0.01"
# Small generated stand-ins for the reference's sample logs, in its
# JSON event format (tools/make_log_fixtures.py writes them).
REFERENCE_DATA = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data"
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="big_data_spark-tests", shuffle_partitions=8)
    quiet_logs(spark)
    yield spark
    stop_spark(spark)


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same parquet tables registered as
    views over SF_SMOKE (mirrors the driver's harness contract)."""
    con = duckdb.connect()
    for table in TABLES:
        con.sql(
            f"CREATE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{SF_SMOKE}/{table}.parquet')"
        )
    yield con
    con.close()


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return con.sql(sql).fetchall()


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round 15): functions listed in
    tests/slow_tests.txt get @pytest.mark.slow, and the default
    addopts (-m "not slow") deselect them so the fast gate tier —
    the full oracle gate + fast rows for every operator family —
    completes inside a bounded verification window. Full sweep:
    python -m pytest tests/ -m "slow or not slow".

    An entry naming a function its (collected) file no longer defines
    fails the run: a renamed slow test would otherwise silently move
    into the fast tier."""
    manifest = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    with open(manifest) as fh:
        slow = {
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        }
    modules = {}
    for item in items:
        base = item.nodeid.split("[")[0]
        if base in slow:
            item.add_marker(pytest.mark.slow)
        if getattr(item, "module", None) is not None:
            modules[base.split("::")[0]] = item.module
    stale = []
    for entry in sorted(slow):
        path, func = entry.split("::")
        if path in modules and not hasattr(modules[path], func):
            stale.append(entry)
    if stale:
        raise pytest.UsageError(
            f"{manifest} names functions that no longer exist: {stale} "
            "— update the slow-test list"
        )


@contextmanager
def jobs_run(spark):
    """Count the Spark jobs (and their tasks) started inside the block:
    they run under a fresh job group, read back through the status
    tracker. Yields a dict whose ``jobs`` and ``tasks`` are filled on
    exit."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    counts: dict = {}
    sc.setJobGroup(group, "counted block")
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        counts["jobs"] = len(ids)
        counts["tasks"] = sum(
            tracker.getStageInfo(sid).numTasks
            for jid in ids
            for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None
        )


GRAPH_PATHS = ("driver", "spark")


@contextmanager
def graph_path(path: str):
    """Run the block with graph labelling forced onto one path:
    ``driver`` (the one-step union-find, for any graph up to the
    module's edge bound) or ``spark`` (the bound below every row
    count, even an empty list's, so the Spark rounds always run).
    Yields a list that gets one entry per call of the driver labeller,
    so a test can check which path really ran."""
    from big_data_spark.operators import components, dbscan
    from big_data_spark.pipeline import processes

    calls: list = []
    labeller = components.dbscan_labels

    def spy(*args, **kwargs):
        calls.append(args)
        return labeller(*args, **kwargs)

    bound = components.SMALL_GRAPH_ROWS if path == "driver" else -1
    with ExitStack() as stack:
        stack.enter_context(mock.patch.object(components, "SMALL_GRAPH_ROWS", bound))
        for module in (components, dbscan, processes):
            stack.enter_context(mock.patch.object(module, "dbscan_labels", spy))
        yield calls
