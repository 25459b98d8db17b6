"""Streaming dedup ingest: the lake holds each key once, replays are
idempotent, cross-batch duplicates are dropped, and no crash window
between the filter and data commits can admit a duplicate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.manifest import read_manifest, snapshot_ids
from big_data_spark.io.readers import read_table
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.streaming import ingest as ingest_mod
from big_data_spark.streaming.ingest import read_lake, run_dedup_ingest
from tests.conftest import SF_SMOKE


def _event_files(spark, tmp_path, dup_factor: int = 1):
    """events split into 4 files (4 micro-batches at
    maxFilesPerTrigger=1); dup_factor > 1 unions the data with itself
    so cross-batch duplicates are guaranteed."""
    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = ev
    for _ in range(dup_factor - 1):
        src = src.unionByName(ev)
    path = str(tmp_path / "stream_src")
    src.repartition(4).write.parquet(path)
    return path, ev


def _stream(spark, path):
    schema = "event_id bigint, user_id bigint, event_type string, value double"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_ingest_dedups_across_batches(spark, tmp_path):
    src, ev = _event_files(spark, tmp_path, dup_factor=3)
    lake = str(tmp_path / "lake")
    run_dedup_ingest(
        _stream(spark, src),
        "event_id",
        lake,
        str(tmp_path / "ckpt"),
        m=1 << 16,
        k=4,
    )
    got = read_lake(spark, lake)
    # Both halves of the lake are snapshot tables, one commit per
    # micro-batch each.
    for table in ("data", "bloom"):
        ids = snapshot_ids(spark, f"{lake}/{table}")
        assert len(ids) == 4
        assert read_manifest(spark, f"{lake}/{table}", ids[-1])[
            "format_version"
        ] == 1
    # Every event admitted exactly once despite 3x duplication
    # scattered over 4 micro-batches.
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))


def test_ingest_replay_is_idempotent(spark, tmp_path):
    src, ev = _event_files(spark, tmp_path)
    lake = str(tmp_path / "lake")
    run_dedup_ingest(
        _stream(spark, src), "event_id", lake, str(tmp_path / "ckpt1")
    )
    n1 = read_lake(spark, lake).count()
    assert n1 == ev.count()
    # Fresh checkpoint = full redelivery of every file: the second
    # pass must admit nothing new and destroy nothing.
    run_dedup_ingest(
        _stream(spark, src), "event_id", lake, str(tmp_path / "ckpt2")
    )
    got = read_lake(spark, lake)
    assert got.count() == n1
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))


def test_ingest_survives_missing_filter_dir(spark, tmp_path):
    # The filter table is lost. The next run must stay exact (the
    # filter is rebuilt from the lake's keys), not duplicate.
    import shutil

    src, ev = _event_files(spark, tmp_path)
    lake = str(tmp_path / "lake")
    run_dedup_ingest(
        _stream(spark, src), "event_id", lake, str(tmp_path / "ckpt1")
    )
    shutil.rmtree(f"{lake}/bloom")
    run_dedup_ingest(
        _stream(spark, src), "event_id", lake, str(tmp_path / "ckpt2")
    )
    got = read_lake(spark, lake)
    assert got.count() == ev.count()
    # And the filter side was rebuilt for subsequent fast-path runs.
    assert read_snapshot(spark, f"{lake}/bloom").count() > 0


def test_lake_bloom_matches_lake_keys(spark, tmp_path):
    # Merge-on-read of the per-batch filters must claim every lake
    # key (no false negatives end to end).
    from big_data_spark.operators.bloom import bloom_merge, bloom_might_contain

    src, ev = _event_files(spark, tmp_path)
    lake = str(tmp_path / "lake")
    run_dedup_ingest(
        _stream(spark, src), "event_id", lake, str(tmp_path / "ckpt")
    )
    blm = bloom_merge(read_snapshot(spark, f"{lake}/bloom"), key_cols=[])
    keys = read_lake(spark, lake).select("event_id")
    verdicts = bloom_might_contain(blm, keys, [], "event_id", m=1 << 20, k=4)
    assert verdicts.filter(~F.col("might_contain")).count() == 0


def _ordered_files(spark, tmp_path, tag, frames):
    """One parquet file per frame, with strictly increasing mtimes so
    the file source delivers them as micro-batches in list order."""
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / f"src_{tag}")
    os.makedirs(src)
    for i, df in enumerate(frames):
        part = str(tmp_path / f"part_{tag}_{i}")
        df.coalesce(1).write.parquet(part)
        (pq,) = glob.glob(f"{part}/*.parquet")
        shutil.copy(pq, f"{src}/{i:04d}.parquet")
        now = time.time() + i
        os.utime(f"{src}/{i:04d}.parquet", (now, now))
    return src


def test_ingest_data_commit_crash_after_filter_commit(
    spark, tmp_path, monkeypatch
):
    """Crash window: a batch's filter commit lands and its data commit
    raises. The filter then claims keys the lake lacks — false
    positives, which the exact anti-join admits — so the rerun under
    the same checkpoint lands every row exactly once."""
    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    halves = ev.randomSplit([0.5, 0.5], seed=3)
    src = _ordered_files(spark, tmp_path, "crash", halves)
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    real = ingest_mod.append_snapshot
    data_commits = []

    def flaky(df, table_dir, *args, **kwargs):
        if table_dir.endswith("/data"):
            data_commits.append(table_dir)
            if len(data_commits) == 2:
                raise RuntimeError("injected crash before the data commit")
        return real(df, table_dir, *args, **kwargs)

    monkeypatch.setattr(ingest_mod, "append_snapshot", flaky)
    with pytest.raises(Exception, match="injected crash"):
        run_dedup_ingest(_stream(spark, src), "event_id", lake, ckpt)
    # Batch 1's filter landed, its rows did not.
    assert len(snapshot_ids(spark, f"{lake}/bloom")) == 2
    assert len(snapshot_ids(spark, f"{lake}/data")) == 1
    run_dedup_ingest(_stream(spark, src), "event_id", lake, ckpt)
    got = read_lake(spark, lake)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))


def test_ingest_rebuilds_deleted_filter_from_lake_keys(spark, tmp_path):
    """With the filter table gone, the next batch rebuilds the filter
    from the lake's keys, not only from its own: a later batch that
    repeats old keys must still find them suspect and drop them."""
    import shutil

    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    old, new_a, new_b = ev.randomSplit([0.5, 0.25, 0.25], seed=5)
    old_a, old_b = old.randomSplit([0.5, 0.5], seed=7)
    lake = str(tmp_path / "lake")
    first = _ordered_files(spark, tmp_path, "old", [old])
    run_dedup_ingest(
        _stream(spark, first), "event_id", lake, str(tmp_path / "ckpt1")
    )
    shutil.rmtree(f"{lake}/bloom")
    # Two batches, each mixing old keys with new ones; the second
    # also repeats the first's new keys.
    second = _ordered_files(
        spark,
        tmp_path,
        "mixed",
        [old_a.unionByName(new_a), old_b.unionByName(new_b).unionByName(new_a)],
    )
    run_dedup_ingest(
        _stream(spark, second), "event_id", lake, str(tmp_path / "ckpt2")
    )
    assert len(snapshot_ids(spark, f"{lake}/data")) == 3
    got = read_lake(spark, lake)
    assert got.count() == ev.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))
