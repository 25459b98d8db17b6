"""Bloom file index (io/fileindex.py): point-lookup file skipping
over snapshot tables with the no-false-negative guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.fileindex import (
    bloom_index_build,
    bloom_index_path,
    read_snapshot_point,
    write_bloom_index,
)
from big_data_spark.io.snapshot import (
    append_snapshot,
    read_snapshot,
    write_snapshot,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _files_read(df):
    """Data files the scan opens — file skipping, independent of the
    row-level filter."""
    return len(df.inputFiles())


@pytest.fixture()
def table(spark, tmp_path):
    """A 16-file snapshot table of (k string, v long) — keys are
    'key-<n>', clustered so each key lives in ONE file."""
    t = str(tmp_path / "pointtbl")
    df = spark.range(4000).select(
        F.concat(F.lit("key-"), (F.col("id") % 64).cast("string")).alias(
            "k"
        ),
        F.col("id").alias("v"),
    )
    write_snapshot(df.repartition(16, "k"), t)
    write_bloom_index(spark, t, "k")
    return t


def test_point_read_is_lossless_and_skips_files(spark, table):
    plain = read_snapshot(spark, table).where(F.col("k") == "key-7")
    point = read_snapshot_point(spark, table, "k", "key-7")
    assert _rows(point) == _rows(plain)
    assert _rows(point), "probe key must exist"
    # Skipping is real: the key lives in 1 of 16 files; Bloom false
    # positives may keep a few more, but far from all.
    assert _files_read(
        read_snapshot_point(spark, table, "k", "key-7")
    ) < 16


def test_absent_key_yields_empty_with_schema(spark, table):
    got = read_snapshot_point(spark, table, "k", "key-no-such")
    assert got.columns == ["k", "v"]
    assert got.count() == 0


def test_entries_after_index_build_are_conservatively_read(
    spark, table
):
    """An append AFTER the index build must still be visible — its
    generation is read in full (no false negatives from staleness);
    rebuilding the index restores skipping."""
    extra = spark.createDataFrame(
        [("key-7", 999999), ("key-new", 5)], "k string, v long"
    )
    append_snapshot(extra, table)
    got = read_snapshot_point(spark, table, "k", "key-7")
    assert ("key-7", 999999) in _rows(got)
    assert _rows(got) == _rows(
        read_snapshot(spark, table).where(F.col("k") == "key-7")
    )
    assert _rows(read_snapshot_point(spark, table, "k", "key-new")) == {
        ("key-new", 5)
    }
    files_stale = _files_read(
        read_snapshot_point(spark, table, "k", "key-7")
    )
    write_bloom_index(spark, table, "k")
    files_fresh = _files_read(
        read_snapshot_point(spark, table, "k", "key-7")
    )
    assert files_fresh <= files_stale
    assert _rows(read_snapshot_point(spark, table, "k", "key-7")) == _rows(
        read_snapshot(spark, table).where(F.col("k") == "key-7")
    )


def test_no_index_falls_back_to_plain_filter(spark, tmp_path):
    t = str(tmp_path / "noidx")
    write_snapshot(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), t
    )
    assert _rows(read_snapshot_point(spark, t, "k", "b")) == {("b", 2)}


def test_every_key_found_through_index(spark, table):
    """No-false-negative sweep: every one of the 64 keys resolves to
    exactly its full row set through the index."""
    base = read_snapshot(spark, table)
    expected = {
        r["k"]: r["n"]
        for r in base.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    for key in ("key-0", "key-13", "key-31", "key-63"):
        assert (
            read_snapshot_point(spark, table, "k", key).count()
            == expected[key]
        )


def test_in_memory_source_raises(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError, match="file-backed"):
        bloom_index_build(df, "k")


def test_point_read_survives_expired_covers_manifest(spark, tmp_path):
    """Vacuum can expire the manifest the index was built against;
    the point read must then degrade to the conservative full
    filtered read — staleness costs speed, never rows."""
    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "expire")
    df = spark.range(100).select(
        F.concat(F.lit("k"), (F.col("id") % 8).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    write_snapshot(df.repartition(8, "k"), t)
    write_bloom_index(spark, t, "k")
    for i in range(3):
        append_snapshot(
            spark.createDataFrame([(f"k{i}", 1000 + i)], "k string, v long"),
            t,
        )
    vacuum_snapshots(spark, t, keep_last=2)
    got = read_snapshot_point(spark, t, "k", "k1")
    assert _rows(got) == _rows(
        read_snapshot(spark, t).where(F.col("k") == "k1")
    )


def test_maybe_probe_agrees_with_bloom_might_contain(spark, tmp_path):
    """The transposed one-value-many-files probe must return the
    same verdicts as operators/bloom.py bloom_might_contain — pinned
    so the two bit-test implementations can't drift."""
    from big_data_spark.io.fileindex import _maybe_files, bloom_index_build
    from big_data_spark.operators.bloom import bloom_might_contain

    src = str(tmp_path / "src")
    df = spark.range(400).select(
        F.concat(F.lit("key-"), (F.col("id") % 16).cast("string")).alias(
            "k"
        ),
        F.col("id").alias("v"),
    )
    df.repartition(8, "k").write.parquet(src)
    back = spark.read.parquet(src)
    idx = bloom_index_build(back, "k", m=4096, k=3).persist()
    files = [r["file"] for r in idx.select("file").distinct().collect()]
    for probe in ("key-3", "key-absent"):
        maybe = set(_maybe_files(idx, "k", probe))
        items = spark.createDataFrame(
            [(f, probe) for f in files], "file string, k string"
        )
        ref = {
            r["file"]
            for r in bloom_might_contain(
                idx.drop("item_type"), items, ["file"], "k", m=4096, k=3
            ).collect()
            if r["might_contain"]
        }
        assert maybe == ref


def test_empty_committed_index_degrades_to_plain_read(spark, tmp_path):
    """A Bloom index built while the base table was empty is an EMPTY
    committed snapshot: the point read must degrade to the plain
    filtered path, not raise on a None first() row."""
    from big_data_spark.io.snapshot import (
        append_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "empty_idx")
    schema = "k string, v int"
    write_snapshot(spark.createDataFrame([], schema), t, 0)
    # Index over the empty table: zero rows, committed.
    write_snapshot(
        spark.createDataFrame(
            [], "file string, word int, bits long, m int, k int, "
            "item_type string, covers int"
        ),
        bloom_index_path(t, "k"),
        0,
    )
    append_snapshot(
        spark.createDataFrame([("a", 1), ("b", 2)], schema), t, 1
    )
    got = read_snapshot_point(spark, t, "k", "a").collect()
    assert [(r["k"], r["v"]) for r in got] == [("a", 1)]


def test_maintain_table_rebuilds_empty_index_with_defaults(
    spark, tmp_path
):
    from big_data_spark.io.compact import maintain_table
    from big_data_spark.io.snapshot import (
        append_snapshot,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "empty_idx_maint")
    write_snapshot(
        spark.createDataFrame([("a", 1)], "k string, v int"), t, 0
    )
    write_snapshot(
        spark.createDataFrame(
            [], "file string, word int, bits long, m int, k int, "
            "item_type string, covers int"
        ),
        bloom_index_path(t, "k"),
        0,
    )
    append_snapshot(
        spark.createDataFrame([("b", 2)], "k string, v int"), t, 1
    )
    report = maintain_table(spark, t)
    assert "k" in report["indexes_rebuilt"]
    idx = read_snapshot(spark, bloom_index_path(t, "k"))
    assert idx.select("covers").first() is not None
    got = read_snapshot_point(spark, t, "k", "b").collect()
    assert [(r["k"], r["v"]) for r in got] == [("b", 2)]


def test_point_read_on_encoded_partition_values(spark, tmp_path):
    """Round-10 provenance-encoding regression: index URIs are
    URI-encoded while manifest rels are raw disk names — a partition
    value with a space or ':' silently DROPPED its covered files
    from the point read. The unquoted-first match keeps losslessness."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "enc_point")
    df = spark.createDataFrame(
        [(f"key-{i}", f"p {i % 2}:x", i) for i in range(40)],
        "k string, part string, v long",
    )
    write_snapshot_partial(df, t, 0, "part", ["p 0:x", "p 1:x"])
    write_bloom_index(spark, t, "k")
    got = read_snapshot_point(spark, t, "k", "key-7")
    want = read_snapshot(spark, t).filter(F.col("k") == "key-7")
    assert _rows(got) == _rows(want)
    assert got.count() == 1
