"""Bounded metadata walks (round 10, verdict directive #4): above a
small threshold, resolve_as_of_ts / table_history / read_changes
fetch manifests through ONE distributed whole-file scan instead of
O(#commits) serial driver round trips — results identical."""

from __future__ import annotations

import pytest

import big_data_spark.io.snapshot as snap
from big_data_spark.io import layout
from big_data_spark.io.manifest import commit_manifest, successor
from big_data_spark.io.snapshot import (
    read_changes,
    resolve_as_of_ts,
    snapshot_ids,
    table_history,
    write_snapshot,
)

N_COMMITS = 200


@pytest.fixture()
def long_table(spark, tmp_path):
    """~200 commits, built driver-side: one real data generation (so
    feeds can read rows), then metadata-only commits carrying it."""
    t = str(tmp_path / "long")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t, 0
    )
    man = snap.read_manifest(spark, t, 0)
    entries = dict(man["entries"])
    prev = man
    for sid in range(1, N_COMMITS):
        commit_manifest(
            spark,
            t,
            # carry-only: content unchanged
            successor(prev, sid, entries, maintenance=True),
            prev_man=prev,
        )
        prev = snap.read_manifest(spark, t, sid)
    return t


def _counting(monkeypatch):
    """Counts serial driver-side manifest reads: every one goes
    through layout's one small-file reader."""
    calls = {"n": 0}
    real = layout._read_text

    def counted(spark_, path):
        if "/_manifests/manifest-" in path:
            calls["n"] += 1
        return real(spark_, path)

    monkeypatch.setattr(layout, "_read_text", counted)
    return calls


def test_resolve_as_of_ts_bulk_reads(spark, long_table, monkeypatch):
    ts_last = snap.read_manifest(spark, long_table, N_COMMITS - 1)[
        "committed_at_ms"
    ]
    ts_mid = snap.read_manifest(spark, long_table, 57)["committed_at_ms"]
    calls = _counting(monkeypatch)
    assert resolve_as_of_ts(spark, long_table, ts_last) == N_COMMITS - 1
    assert resolve_as_of_ts(spark, long_table, ts_mid) == 57
    # Zero serial per-manifest driver reads: both resolutions went
    # through the one distributed scan.
    assert calls["n"] == 0


def test_table_history_bulk_reads_match_serial(spark, long_table, monkeypatch):
    hist = table_history(spark, long_table)
    rows = hist.collect()
    assert len(rows) == N_COMMITS
    assert [r["snapshot_id"] for r in rows] == list(range(N_COMMITS))
    # Timestamps strictly monotone across the whole history.
    ts = [r["committed_at_ms"] for r in rows]
    assert all(a < b for a, b in zip(ts, ts[1:]))
    calls = _counting(monkeypatch)
    again = table_history(spark, long_table).collect()
    assert calls["n"] == 0
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_read_changes_full_history_bulk(spark, long_table, monkeypatch):
    calls = _counting(monkeypatch)
    feed = read_changes(spark, long_table, after_id=-1)
    # 199 maintenance commits are skipped; only commit 0's insert
    # reports — and the manifest walk was one bulk scan.
    assert [
        (r["k"], r["_change_type"], r["_commit_id"]) for r in feed.collect()
    ] == [(1, "insert", 0)]
    assert calls["n"] == 0


def test_small_tables_keep_the_serial_path(spark, tmp_path, monkeypatch):
    """Below the threshold a Spark job costs more than a few reads —
    the serial loop stays."""
    t = str(tmp_path / "small")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), t, 0)
    write_snapshot(spark.createDataFrame([(2,)], "k int"), t, 1)
    ts1 = snap.read_manifest(spark, t, 1)["committed_at_ms"]
    calls = _counting(monkeypatch)
    assert resolve_as_of_ts(spark, t, ts1) == 1
    assert calls["n"] == 2  # one per manifest, driver-side
    assert snapshot_ids(spark, t) == [0, 1]
