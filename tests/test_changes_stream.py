"""Streaming consumption of a snapshot table's change feed
(streaming/changes_stream.py): draining the stream equals the batch
feed, a crash before the cursor commit replays the same window on the
reused checkpoint, and the loop composes with snapshot_sink for an
exactly-once table->table mirror."""

from __future__ import annotations

import pytest

from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    read_changes,
    read_snapshot,
    update_where,
    write_snapshot,
)
from big_data_spark.streaming.changes_stream import stream_changes


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _build(spark, t):
    write_snapshot(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k int, v double"
        ),
        t,
        0,
    )
    append_snapshot(
        spark.createDataFrame([(10, 10.0), (11, 11.0)], "k int, v double"),
        t,
    )
    delete_where(spark, t, "k < 3")
    update_where(spark, t, "k = 5", {"v": "-5.0"}, row_cdf=True)


def test_stream_drain_equals_batch_feed(spark, tmp_path):
    t = str(tmp_path / "src")
    _build(spark, t)
    got: list = []
    epochs: list = []

    def process(feed, epoch_id):
        got.extend(_rows(feed))
        epochs.append(epoch_id)

    st = stream_changes(spark, t, str(tmp_path / "cur"), process)
    assert st["batches"] == 1 and st["last_commit"] == 3
    assert epochs == [3]
    assert set(got) == _rows(read_changes(spark, t, after_id=-1))
    # Nothing new: the drained stream is a no-op on the same cursor.
    st = stream_changes(spark, t, str(tmp_path / "cur"), process)
    assert st["batches"] == 0
    # New commits stream incrementally from the reused cursor.
    append_snapshot(
        spark.createDataFrame([(99, 9.9)], "k int, v double"), t
    )
    got.clear()
    st = stream_changes(spark, t, str(tmp_path / "cur"), process)
    assert st["batches"] == 1 and st["last_commit"] == 4
    assert {r[0] for r in got} == {99}


def test_crash_before_cursor_commit_replays_window(spark, tmp_path):
    t = str(tmp_path / "src2")
    _build(spark, t)
    cur = str(tmp_path / "cur2")
    attempts = {"n": 0}
    seen: list = []

    def flaky(feed, epoch_id):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("consumer died mid-batch")
        seen.append((epoch_id, frozenset(_rows(feed))))

    with pytest.raises(RuntimeError, match="died mid-batch"):
        stream_changes(spark, t, cur, flaky)
    # Reused checkpoint: the SAME window replays (same epoch id, same
    # rows) and then commits — no skips, no duplicates.
    st = stream_changes(spark, t, cur, flaky)
    assert st["batches"] == 1
    assert len(seen) == 1 and seen[0][0] == 3
    assert set(seen[0][1]) == _rows(read_changes(spark, t, after_id=-1))


def test_stream_mirrors_table_exactly_once(spark, tmp_path):
    """Compose with snapshot_sink's replay contract: apply the feed
    to a mirror keyed on the epoch id; replaying a drained stream
    changes nothing and the mirror equals the source."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "src3")
    mirror = str(tmp_path / "mirror")
    _build(spark, t)

    def apply(feed, epoch_id):
        feed.cache()
        try:
            try:
                cur = read_snapshot(spark, mirror)
            except ValueError:
                cur = feed.drop("_change_type", "_commit_id").where(
                    F.lit(False)
                )
            # Per commit, in order: a window folding several commits
            # must apply each commit's deletes against the state that
            # includes the EARLIER commits' inserts.
            cids = sorted(
                r["_commit_id"]
                for r in feed.select("_commit_id").distinct().collect()
            )
            for cid in cids:
                w = feed.where(F.col("_commit_id") == cid)
                adds = w.where(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    )
                ).drop("_change_type", "_commit_id")
                dels = w.where(
                    F.col("_change_type").isin(
                        "delete", "update_preimage"
                    )
                ).drop("_change_type", "_commit_id")
                cur = cur.join(dels, ["k"], "left_anti").unionByName(adds)
            write_snapshot(cur, mirror, snapshot_id=epoch_id, replace=True)
        finally:
            feed.unpersist()

    stream_changes(spark, t, str(tmp_path / "cur3"), apply)
    assert _rows(read_snapshot(spark, mirror)) == _rows(
        read_snapshot(spark, t)
    )
    # Replay on the same cursor: no new batches, mirror unchanged.
    st = stream_changes(spark, t, str(tmp_path / "cur3"), apply)
    assert st["batches"] == 0
    assert _rows(read_snapshot(spark, mirror)) == _rows(
        read_snapshot(spark, t)
    )


def test_stream_changes_tolerates_missing_table_and_idles_out(
    spark, tmp_path
):
    """Poll mode on a table with no commits yet sleeps instead of
    crashing and max_idle_s bounds the wait."""
    t = str(tmp_path / "never_created")
    seen = []
    st = stream_changes(
        spark,
        t,
        str(tmp_path / "cur"),
        lambda df, eid: seen.append(eid),
        available_now=False,
        poll_interval_s=0.05,
        max_idle_s=0.3,
    )
    assert st["stopped"] == "idle"
    assert st["batches"] == 0 and seen == []
    # Drain mode on the same missing table: nothing to drain, no raise.
    st2 = stream_changes(
        spark, t, str(tmp_path / "cur2"), lambda df, eid: None
    )
    assert st2["stopped"] == "drained" and st2["batches"] == 0


def test_stream_changes_batch_metrics_shape(spark, tmp_path):
    t = str(tmp_path / "metered")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    st = stream_changes(
        spark,
        t,
        str(tmp_path / "cur"),
        lambda df, eid: None,
        track_rows=True,
    )
    assert st["stopped"] == "drained" and st["batches"] == 1
    (m,) = st["batch_metrics"]
    assert m == {"epoch_id": 0, "after_id": -1, "rows": 5}
