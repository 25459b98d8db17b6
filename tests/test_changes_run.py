"""Round-15: the change feed's simple-append RUN fast path.

A maximal run of pure-append commits must collapse into ONE
multi-generation scan (the `_changes` view over an N-append table was
an N-part union, O(N) to build and analyze), with per-row
`_commit_id` attribution identical to the per-commit path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import big_data_spark.io.snapshot as snap
from big_data_spark.io import changes


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _per_commit_feed(spark, table_dir, **kw):
    """The pre-round-15 per-commit plan, forced by defeating the run
    qualifier's DDL derivation (the fast path requires an explicit
    read schema; read_entries' own per-generation DDL calls pass a
    non-None gen_id and stay intact)."""
    orig = changes._gen_read_ddl

    def no_run_ddl(schema_fields, rename_log, gen_id, partition_cols):
        if gen_id is None and rename_log is None:
            return None
        return orig(schema_fields, rename_log, gen_id, partition_cols)

    changes._gen_read_ddl = no_run_ddl
    try:
        return snap.read_changes(spark, table_dir, **kw)
    finally:
        changes._gen_read_ddl = orig


@pytest.fixture()
def appended(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(5):
        snap.append_snapshot(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id % 3 AS k"),
            t,
        )
    return t


def test_append_run_feed_matches_per_commit_path(spark, appended):
    fast = snap.read_changes(spark, appended, after_id=-1)
    slow = _per_commit_feed(spark, appended, after_id=-1)
    assert [f.name for f in fast.schema] == [f.name for f in slow.schema]
    assert [f.dataType for f in fast.schema] == [
        f.dataType for f in slow.schema
    ]
    assert _rows(fast) == _rows(slow)


def test_append_run_is_one_scan(spark, appended):
    """5 appends -> ONE parquet scan in the feed plan (the union of 5
    per-commit parts is exactly what the fast path removes)."""
    plan = (
        snap.read_changes(spark, appended, after_id=-1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_append_run_splits_on_non_append_commit(spark, tmp_path):
    """A delete between appends must split the run; rows and commit
    attribution still match the per-commit path exactly."""
    t = str(tmp_path / "t")
    for i in range(3):
        snap.append_snapshot(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id % 3 AS k"),
            t,
        )
    snap.delete_where(spark, t, F.col("id") % 7 == 0)
    for i in range(3, 5):
        snap.append_snapshot(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id % 3 AS k"),
            t,
        )
    fast = snap.read_changes(spark, t, after_id=-1)
    slow = _per_commit_feed(spark, t, after_id=-1)
    assert _rows(fast) == _rows(slow)
    # bounded window starting mid-run too
    mid = snap.snapshot_ids(spark, t)[1]
    assert _rows(snap.read_changes(spark, t, after_id=mid)) == _rows(
        _per_commit_feed(spark, t, after_id=mid)
    )


def test_append_run_declines_on_rename_log(spark, tmp_path):
    """Tables with rename events keep the per-commit plan (the replay
    is generation-keyed) — and stay correct."""
    t = str(tmp_path / "t")
    for i in range(2):
        snap.append_snapshot(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id % 3 AS k"),
            t,
        )
    snap.evolve_schema(spark, t, renames={"k": "kk"})
    snap.append_snapshot(
        spark.range(20, 30).selectExpr("id", "id % 3 AS kk"), t
    )
    fast = snap.read_changes(spark, t, after_id=-1)
    slow = _per_commit_feed(spark, t, after_id=-1)
    assert _rows(fast) == _rows(slow)
