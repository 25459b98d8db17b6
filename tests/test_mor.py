"""Merge-on-read deletes (position delete vectors): O(matches) write
cost, data files untouched, readers mask via a broadcast anti-join,
the feed reports the rows, and maintenance folds the vectors away —
round-7 verdict directive #5."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    fold_deletes,
    latest_manifest,
    read_changes,
    read_snapshot,
    update_where,
    vacuum_snapshots,
    write_snapshot_partial,
)
from tests.conftest import jobs_run


def _files(t, pat="_data/s=*/**/*.parquet"):
    return sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/{pat}", recursive=True)
    )


def _build(spark, t, gens=3):
    for g in range(gens):
        append_snapshot(
            spark.range(g * 100, (g + 1) * 100).selectExpr(
                "id AS k", "cast(id as string) AS v"
            ),
            t,
            snapshot_id=g,
        )


def test_mor_delete_masks_without_rewriting(spark, tmp_path):
    t = str(tmp_path / "mor")
    _build(spark, t)
    before = _files(t)
    st = delete_where(spark, t, "k >= 150 AND k < 180", mode="mor")
    assert st["deleted_rows"] == 30 and st["delete_vectors"] == 1
    # Data files byte-identical — the whole point.
    assert _files(t) == before
    got = read_snapshot(spark, t)
    assert got.count() == 270
    assert got.where("k >= 150 AND k < 180").count() == 0
    # Time travel to the pre-delete version still sees the rows.
    assert read_snapshot(spark, t, as_of=2).count() == 300
    man = latest_manifest(spark, t)
    assert man["deletes"] == ["_deletes/d=3"]
    # The vector is positions only: exactly matched-row count.
    dv = spark.read.parquet(f"{t}/_deletes/d=3")
    assert dv.count() == 30 and set(dv.columns) == {"file_path", "row_index"}


def test_mor_equals_cow_and_stacks(spark, tmp_path):
    t1, t2 = str(tmp_path / "cow"), str(tmp_path / "mor")
    _build(spark, t1)
    _build(spark, t2)
    delete_where(spark, t1, "k % 7 = 0")
    delete_where(spark, t2, "k % 7 = 0", mode="mor")
    a = sorted(map(tuple, read_snapshot(spark, t1).collect()))
    b = sorted(map(tuple, read_snapshot(spark, t2).collect()))
    assert a == b
    # Stacked second vector composes; re-deleting masked rows is a
    # no-op (they are invisible to the scan).
    st = delete_where(spark, t2, "k % 7 = 0", mode="mor")
    assert st["deleted_rows"] == 0
    st2 = delete_where(spark, t2, "k < 10", mode="mor")
    assert st2["deleted_rows"] == 8  # k=0 and k=7 already masked
    got = read_snapshot(spark, t2)
    assert got.where("k < 10").count() == 0
    assert got.count() == len(a) - 8


def test_mor_feed_reports_rows_and_cow_composes(spark, tmp_path):
    t = str(tmp_path / "mor_feed")
    _build(spark, t)
    delete_where(spark, t, "k BETWEEN 10 AND 14", mode="mor")
    feed = read_changes(spark, t, after_id=2)
    rows = feed.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["k"] for r in rows) == [10, 11, 12, 13, 14]
    assert {r["_commit_id"] for r in rows} == {3}
    # COW UPDATE on the masked table: masks survive the rewrite.
    update_where(spark, t, "k = 20", {"v": F.lit("twenty")})
    got = read_snapshot(spark, t)
    assert got.where("k BETWEEN 10 AND 14").count() == 0
    assert got.where("v = 'twenty'").count() == 1
    assert latest_manifest(spark, t)["deletes"] == ["_deletes/d=3"]


def test_fold_deletes_materializes_and_vacuum_reclaims(spark, tmp_path):
    t = str(tmp_path / "mor_fold")
    _build(spark, t)
    delete_where(spark, t, "k >= 250", mode="mor")
    pre = sorted(map(tuple, read_snapshot(spark, t).collect()))
    st = fold_deletes(spark, t)
    assert st["folded_vectors"] == 1 and st["rewritten"] == 1
    man = latest_manifest(spark, t)
    assert man["deletes"] == [] and man["maintenance"]
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == pre
    # Feed: the fold is invisible (maintenance), the delete commit
    # already reported its rows.
    assert read_changes(spark, t, after_id=3).count() == 0
    # While the delete commit's manifest is retained, its vector
    # stays (time travel to v3 must still mask); once the window
    # moves past it, vacuum reclaims the dir.
    rep0 = vacuum_snapshots(spark, t, keep_last=2)
    assert rep0["removed_delete_vectors"] == []
    append_snapshot(
        spark.createDataFrame([(999, "x")], "k long, v string"), t, 5
    )
    rep = vacuum_snapshots(spark, t, keep_last=2)
    assert rep["removed_delete_vectors"] == ["d=3"]
    assert not glob.glob(f"{t}/_deletes/*")
    # Idempotent: nothing left to fold.
    assert fold_deletes(spark, t)["folded_vectors"] == 0


def test_maintain_table_folds_mor_deletes(spark, tmp_path):
    from big_data_spark.io.compact import maintain_table

    t = str(tmp_path / "mor_maint")
    _build(spark, t)
    delete_where(spark, t, "k % 2 = 0", mode="mor")
    pre = sorted(map(tuple, read_snapshot(spark, t).collect()))
    rep = maintain_table(spark, t, keep_last=2)
    assert rep["deletes_folded"]["folded_vectors"] == 1
    assert latest_manifest(spark, t)["deletes"] == []
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == pre


def test_binpack_carries_masks_correctly(spark, tmp_path):
    from big_data_spark.io.compact import binpack_snapshot

    t = str(tmp_path / "mor_binpack")
    _build(spark, t, gens=4)
    delete_where(spark, t, "k IN (5, 105, 205, 305)", mode="mor")
    pre = sorted(map(tuple, read_snapshot(spark, t).collect()))
    st = binpack_snapshot(spark, t, small_bytes=1 << 30)
    assert st["folded"] == 4
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == pre
    # List carried verbatim; rows now inert (folded data is clean).
    assert latest_manifest(spark, t)["deletes"] == ["_deletes/d=4"]
    st2 = fold_deletes(spark, t)
    assert st2["rewritten"] == 0  # all inert -> metadata-only clear
    assert latest_manifest(spark, t)["deletes"] == []
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == pre


def test_point_lookup_respects_masks(spark, tmp_path):
    from big_data_spark.io.fileindex import (
        read_snapshot_point,
        write_bloom_index,
    )

    t = str(tmp_path / "mor_point")
    _build(spark, t)
    write_bloom_index(spark, t, "k", m=1 << 12)
    assert read_snapshot_point(spark, t, "k", 42).count() == 1
    delete_where(spark, t, "k = 42", mode="mor")
    assert read_snapshot_point(spark, t, "k", 42).count() == 0
    assert read_snapshot_point(spark, t, "k", 43).count() == 1


def test_mor_on_partitioned_table_and_appends(spark, tmp_path):
    t = str(tmp_path / "mor_part")
    rows = [(i, f"v{i}", i % 3) for i in range(90)]
    write_snapshot_partial(
        spark.createDataFrame(rows, "k int, v string, _kb int"),
        t,
        0,
        "_kb",
        [0, 1, 2],
    )
    st = delete_where(spark, t, "_kb = 1 AND k < 30", mode="mor")
    assert st["deleted_rows"] == 10
    got = read_snapshot(spark, t)
    assert got.count() == 80
    # COW delete of a different partition: mask carried, applied.
    delete_where(spark, t, F.col("_kb") == 2)
    got = read_snapshot(spark, t)
    assert got.count() == 50
    assert got.where("_kb = 1 AND k < 30").count() == 0
    # fold on the partitioned table rewrites only partition 1.
    st2 = fold_deletes(spark, t)
    assert st2["rewritten"] == 1
    assert read_snapshot(spark, t).count() == 50


def test_mor_delete_without_match_commits_nothing(spark, tmp_path):
    """A MOR DELETE that matches no row takes its count from the
    position write itself (no read-back): at most 2 jobs, no commit,
    and nothing left under _staging/ or _deletes/."""
    t = str(tmp_path / "mor_none")
    _build(spark, t)
    before = latest_manifest(spark, t)
    # Not prunable by footer min/max: every generation is scanned.
    with jobs_run(spark) as counted:
        st = delete_where(spark, t, "k % 1000 = 999", mode="mor")
    assert st["deleted_rows"] == 0
    assert st["snapshot_id"] == before["snapshot_id"]
    assert counted["jobs"] <= 2, counted
    assert latest_manifest(spark, t) == before
    assert glob.glob(f"{t}/_staging/*") == []
    assert glob.glob(f"{t}/_deletes/*") == []
