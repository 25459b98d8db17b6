"""Streaming MV maintenance: incremental result equals a full
recompute, crash replays cannot double-count, snapshots time-travel
and vacuum safely."""

from __future__ import annotations

import pytest

from big_data_spark.io.manifest import read_manifest, snapshot_ids
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.io.table_writes import vacuum_snapshots
from big_data_spark.streaming.mv import run_mv_refresh

SCHEMA = "k int, v double, op string"

FEED = [
    (1, 10.0, "I"),
    (1, 5.0, "I"),
    (2, 7.0, "I"),
    (1, 5.0, "D"),  # retraction
    (3, 1.0, "I"),
    (2, 7.0, "D"),  # group 2 empties out
    (3, 2.0, "I"),
]


def _expected(rows):
    from collections import defaultdict

    alive = defaultdict(list)
    for k, v, op in rows:
        (alive[k].remove(v) if op == "D" else alive[k].append(v))
    return {(k, float(sum(vs)), len(vs)) for k, vs in alive.items() if vs}


def _stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run(spark, tmp_path, rows, tag, n_files=1, mv="mv", ckpt=None):
    """Write the feed as n_files SEQUENTIAL slices (distinct mtimes,
    so the file source delivers them in feed order — retractions
    must follow their inserts, the CDC ordering contract)."""
    import os
    import time

    src = str(tmp_path / f"src_{tag}")
    os.makedirs(src, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    slices = [rows[i : i + step] for i in range(0, len(rows), step)]
    for i, chunk in enumerate(slices):
        part = str(tmp_path / f"part_{tag}_{i}")
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(part)
        import glob
        import shutil

        (pq,) = glob.glob(f"{part}/*.parquet")
        shutil.copy(pq, f"{src}/{i:04d}.parquet")
        now = time.time() + i  # strictly increasing mtimes
        os.utime(f"{src}/{i:04d}.parquet", (now, now))
    run_mv_refresh(
        _stream(spark, src),
        ["k"],
        ["v"],
        str(tmp_path / mv),
        str(tmp_path / (ckpt or f"ckpt_{tag}")),
        op_col="op",
    )
    return str(tmp_path / mv)


def test_incremental_equals_recompute_across_batches(spark, tmp_path):
    mv = _run(spark, tmp_path, FEED, "main", n_files=4)
    got = {tuple(r) for r in read_snapshot(spark, mv).collect()}
    assert got == _expected(FEED)


def test_continued_ingestion_same_checkpoint(spark, tmp_path):
    """Production continuation: MORE FILES arrive in the same source,
    the SAME checkpoint resumes — batch ids (and so MV versions)
    continue past the earlier ones. (A fresh checkpoint on a shared
    MV is a REBUILD, not a continuation — test below.)"""
    import glob
    import os
    import shutil
    import time

    mv = _run(spark, tmp_path, FEED[:4], "a", n_files=2)
    src = str(tmp_path / "src_a")
    # append the rest of the feed as new files with later mtimes
    part = str(tmp_path / "part_more")
    spark.createDataFrame(FEED[4:], SCHEMA).coalesce(1).write.parquet(part)
    (pq,) = glob.glob(f"{part}/*.parquet")
    shutil.copy(pq, f"{src}/9000.parquet")
    now = time.time() + 100
    os.utime(f"{src}/9000.parquet", (now, now))
    run_mv_refresh(
        _stream(spark, src),
        ["k"],
        ["v"],
        mv,
        str(tmp_path / "ckpt_a"),  # SAME checkpoint
        op_col="op",
    )
    got = {tuple(r) for r in read_snapshot(spark, mv).collect()}
    assert got == _expected(FEED)


def test_full_replay_fresh_checkpoint_rebuilds_not_doubles(spark, tmp_path):
    mv = _run(spark, tmp_path, FEED, "one", n_files=3)
    before = {tuple(r) for r in read_snapshot(spark, mv).collect()}
    # Re-deliver the whole feed with a fresh checkpoint: batch ids
    # restart at 0, every version is recomputed from its predecessor
    # below it — the final MV is REBUILT, never added on top.
    _run(spark, tmp_path, FEED, "two", n_files=3, mv="mv")
    assert {tuple(r) for r in read_snapshot(spark, mv).collect()} == before


def test_versions_time_travel_and_prune(spark, tmp_path):
    mv = _run(spark, tmp_path, FEED, "vt", n_files=4)
    vers = snapshot_ids(spark, mv)
    assert len(vers) >= 3  # one snapshot per micro-batch
    assert all(read_manifest(spark, mv, v)["format_version"] == 1 for v in vers)
    # an early snapshot reflects only its prefix of the feed
    v0 = read_snapshot(spark, mv, as_of=vers[0])
    assert v0.count() <= len(_expected(FEED)) + 2
    vacuum_snapshots(spark, mv, keep_last=2)
    assert snapshot_ids(spark, mv) == vers[-2:]
    assert {tuple(r) for r in read_snapshot(spark, mv).collect()} == _expected(FEED)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_snapshots(spark, mv, keep_last=1)


def test_replayed_crash_partial_version_cannot_survive(spark, tmp_path):
    """A crashed batch can leave a half-written generation dir with no
    manifest. On replay, the recomputed snapshot must replace it
    wholesale — even when the recomputed snapshot is EMPTY, so the
    stale partial rows can never become the current MV."""
    import glob
    import os
    import shutil
    import time

    # batch 0: one insert
    mv = _run(spark, tmp_path, [(1, 5.0, "I")], "crash", n_files=1)
    # simulate batch 1's crashed attempt: its generation dir holding
    # garbage rows, written before the commit that never happened
    stale = str(tmp_path / "stale")
    spark.createDataFrame(
        [(99, 999.0, 7)], "k int, v double, n_rows bigint"
    ).coalesce(1).write.parquet(stale)
    gdir = f"{mv}/_data/s=1"
    os.makedirs(gdir, exist_ok=True)
    for pq in glob.glob(f"{stale}/*.parquet"):
        shutil.copy(pq, gdir)
    assert snapshot_ids(spark, mv) == [0]
    # deliver batch 1 for real: a FULL retraction (empty snapshot)
    src = str(tmp_path / "src_crash")
    part = str(tmp_path / "part_crash1")
    spark.createDataFrame([(1, 5.0, "D")], SCHEMA).coalesce(1).write.parquet(part)
    (pq,) = glob.glob(f"{part}/*.parquet")
    shutil.copy(pq, f"{src}/9000.parquet")
    now = time.time() + 100
    os.utime(f"{src}/9000.parquet", (now, now))
    run_mv_refresh(
        _stream(spark, src), ["k"], ["v"], mv,
        str(tmp_path / "ckpt_crash"), op_col="op",
    )
    assert snapshot_ids(spark, mv) == [0, 1]
    assert read_snapshot(spark, mv).count() == 0  # not the stale (99, ...) row
    assert read_snapshot(spark, mv, as_of=0).count() == 1


def test_full_retraction_yields_empty_mv_not_resurrection(spark, tmp_path):
    """A batch that retracts every group must produce an EMPTY
    current MV — an empty committed snapshot, never the previous
    state resurrected."""
    mv = _run(
        spark,
        tmp_path,
        [(1, 5.0, "I"), (1, 5.0, "D")],
        "retract_all",
        n_files=2,  # insert in batch 0, retraction in batch 1
    )
    assert read_snapshot(spark, mv).count() == 0
    # and a later insert starts cleanly from the empty state
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / "src_retract_all")
    part = str(tmp_path / "part_back")
    spark.createDataFrame([(2, 9.0, "I")], SCHEMA).coalesce(1).write.parquet(part)
    (pq,) = glob.glob(f"{part}/*.parquet")
    shutil.copy(pq, f"{src}/9000.parquet")
    now = time.time() + 100
    os.utime(f"{src}/9000.parquet", (now, now))
    run_mv_refresh(
        _stream(spark, src), ["k"], ["v"], mv,
        str(tmp_path / "ckpt_retract_all"), op_col="op",
    )
    got = {tuple(r) for r in read_snapshot(spark, mv).collect()}
    assert got == {(2, 9.0, 1)}


def test_decimal_measure_type_is_stable_across_batches(spark, tmp_path):
    """The first fold widens a decimal(18,2) measure to decimal(38,2);
    later batches keep the committed type, and a fully-retracted
    (empty) snapshot still reads back with it."""
    from decimal import Decimal

    schema = "k int, v decimal(18,2), op string"
    rows = [
        (1, Decimal("10.50"), "I"),
        (2, Decimal("1.25"), "I"),
        (1, Decimal("10.50"), "D"),
        (2, Decimal("1.25"), "D"),
    ]
    src = str(tmp_path / "src_dec")
    import glob
    import os
    import shutil
    import time

    os.makedirs(src)
    for i, chunk in enumerate([rows[:2], rows[2:3], rows[3:]]):
        part = str(tmp_path / f"part_dec_{i}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(part)
        (pq,) = glob.glob(f"{part}/*.parquet")
        shutil.copy(pq, f"{src}/{i:04d}.parquet")
        now = time.time() + i
        os.utime(f"{src}/{i:04d}.parquet", (now, now))
    mv = str(tmp_path / "mv_dec")
    run_mv_refresh(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        ["k"], ["v"], mv, str(tmp_path / "ckpt_dec"), op_col="op",
    )
    ids = snapshot_ids(spark, mv)
    assert len(ids) == 3
    for sid in ids:
        got = read_snapshot(spark, mv, as_of=sid)
        assert got.dtypes == [
            ("k", "int"), ("v", "decimal(38,2)"), ("n_rows", "bigint")
        ]
    assert {tuple(r) for r in read_snapshot(spark, mv, as_of=ids[1]).collect()} == {
        (2, Decimal("1.25"), 1)
    }
    assert read_snapshot(spark, mv).count() == 0
