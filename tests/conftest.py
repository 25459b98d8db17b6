"""Shared fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import os
import sys

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
