"""Streaming sink into the snapshot table format
(streaming/snapshot_sink.py) and the end-to-end lakehouse loop:
stream -> versioned table -> change feed -> incremental MV."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.snapshot import (
    follow_changes,
    read_snapshot,
    snapshot_ids,
)
from big_data_spark.operators.incremental import sync_aggregate
from big_data_spark.streaming.snapshot_sink import snapshot_sink


def _src(spark, tmp_path, n_files=3):
    src = str(tmp_path / "src")
    for i in range(n_files):
        spark.createDataFrame(
            [(i * 10 + j, f"g{j % 2}", j + 1) for j in range(10)],
            "k long, g string, amt long",
        ).coalesce(1).write.mode("append").parquet(src)
    return src


def test_stream_lands_as_versioned_snapshots_and_replay_is_noop(
    spark, tmp_path
):
    src = _src(spark, tmp_path)
    t = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    stream = (
        spark.readStream.schema("k long, g string, amt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    snapshot_sink(stream, t, cp)
    ids = snapshot_ids(spark, t)
    assert len(ids) == 3, ids
    assert read_snapshot(spark, t).count() == 30
    # Replay with the SAME checkpoint: offsets exhausted, no change.
    snapshot_sink(stream, t, cp)
    assert snapshot_ids(spark, t) == ids
    assert read_snapshot(spark, t).count() == 30


def test_stream_to_feed_to_incremental_mv_loop(spark, tmp_path):
    """The full loop: stream micro-batches into the table, follow the
    change feed with a durable cursor, keep a grouped MV fresh — and
    the MV equals the from-scratch aggregate after every drain."""
    src = _src(spark, tmp_path, n_files=2)
    t = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    cur = str(tmp_path / "cursor")
    mv = str(tmp_path / "mv")
    stream = (
        spark.readStream.schema("k long, g string, amt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    snapshot_sink(stream, t, cp)
    sync_aggregate(spark, t, mv, ["g"], ["amt"])
    feed, commit = follow_changes(spark, t, cur)
    assert feed.count() == 20 and commit() == snapshot_ids(spark, t)[-1]

    def check():
        got = {
            tuple(r)
            for r in read_snapshot(spark, mv)
            .select("g", "amt", "n_rows")
            .collect()
        }
        want = {
            tuple(r)
            for r in read_snapshot(spark, t)
            .groupBy("g")
            .agg(F.sum("amt").alias("amt"), F.count("*").alias("n_rows"))
            .collect()
        }
        assert got == want

    check()
    # More stream data arrives; drain, feed advances, MV catches up.
    spark.createDataFrame(
        [(100 + j, "g0", 5) for j in range(4)], "k long, g string, amt long"
    ).coalesce(1).write.mode("append").parquet(src)
    snapshot_sink(stream, t, cp)
    feed, commit = follow_changes(spark, t, cur)
    assert feed.count() == 4 and commit() is not None
    sync_aggregate(spark, t, mv, ["g"], ["amt"])
    check()


def test_streaming_write_audit_gate(spark, tmp_path):
    """checks= is the streaming WAP gate: a failing micro-batch stops
    the stream with NOTHING landed; the fixed rerun picks up from the
    checkpointed offsets and publishes every batch."""
    import pytest

    from big_data_spark.operators.dq import in_range, not_null

    src = _src(spark, tmp_path)
    t = str(tmp_path / "gated")
    cp = str(tmp_path / "gated_cp")
    stream = (
        spark.readStream.schema("k long, g string, amt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # amt ranges over [1, 10]; a cap of 5 fails every batch.
    with pytest.raises(Exception, match="in_range"):
        snapshot_sink(stream, t, cp, checks=[in_range("amt", 1, 5)])
    assert snapshot_ids(spark, t) == []
    # With a passing suite the SAME checkpoint drains fully.
    snapshot_sink(
        stream, t, cp, checks=[not_null("k"), in_range("amt", 1, 10)]
    )
    assert len(snapshot_ids(spark, t)) == 3
    assert read_snapshot(spark, t).count() == 30


def test_streaming_wap_gate_audits_the_committed_bytes(
    spark, tmp_path, monkeypatch
):
    """The dq audit and the append are two actions; the sink must
    run both over DISK-STAGED bytes (not a persist, whose evicted
    blocks recompute from lineage with fresh non-determinism), so a non-deterministic transform cannot
    pass the audit yet commit different rows."""
    import big_data_spark.operators.dq as dq
    from big_data_spark.operators.dq import not_null
    from big_data_spark.streaming.snapshot_sink import snapshot_sink

    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id AS k").coalesce(1).write.parquet(src)
    real_assert = dq.assert_suite
    seen = {"staged": None}

    def recording_assert(df, checks):
        # The audited frame must be a SCAN of the staged bytes — its
        # input files live under _staging/, not the stream source.
        seen["staged"] = all(
            "/_staging/" in f for f in df.inputFiles()
        ) and len(df.inputFiles()) > 0
        return real_assert(df, checks)

    monkeypatch.setattr(dq, "assert_suite", recording_assert)
    stream = spark.readStream.schema("k long").parquet(src)
    snapshot_sink(
        stream,
        str(tmp_path / "tbl"),
        str(tmp_path / "cp"),
        checks=[not_null("k")],
    )
    assert seen["staged"] is True
    assert read_snapshot(spark, str(tmp_path / "tbl")).count() == 20


def test_snapshot_sink_checks_stage_to_disk_and_clean_up(
    spark, tmp_path
):
    """The audited stream commits the STAGED bytes' read-back and
    removes staging afterwards — pass and fail both leave no staging
    residue, and a failing audit lands nothing."""
    from big_data_spark.operators.dq import in_range, not_null
    from big_data_spark.streaming.snapshot_sink import snapshot_sink

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").write.json(src)
    stream = spark.readStream.schema("k long, v long").json(src)
    t = str(tmp_path / "sunk")
    snapshot_sink(
        stream,
        t,
        str(tmp_path / "ckpt"),
        checks=[not_null("k")],
    )
    assert read_snapshot(spark, t).count() == 10
    import os

    residue = os.listdir(f"{t}/_staging") if os.path.isdir(
        f"{t}/_staging"
    ) else []
    assert residue == []

    # Failing audit: loud stop, nothing landed, staging removed.
    t2 = str(tmp_path / "sunk_bad")
    with pytest.raises(Exception, match="in_range"):
        snapshot_sink(
            stream,
            t2,
            str(tmp_path / "ckpt2"),
            checks=[in_range("v", 0, 5)],
        )
    assert not os.path.isdir(f"{t2}/_manifests")
    residue2 = os.listdir(f"{t2}/_staging") if os.path.isdir(
        f"{t2}/_staging"
    ) else []
    assert residue2 == []
