"""Small-file compaction: inventory, merge, re-cluster — data
identical before/after, file counts actually drop."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.compact import compact_parquet, parquet_inventory
from big_data_spark.io.readers import read_table
from tests.conftest import SF_SMOKE


def _data_files(path: str) -> list[str]:
    return [
        p
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if not p.rsplit("/", 1)[-1].startswith(("_", "."))
    ]


@pytest.fixture()
def fragmented(spark, tmp_path):
    """documents shattered into 64 tiny files — the post-streaming-
    sink shape compaction exists for."""
    src = str(tmp_path / "fragmented")
    read_table(spark, SF_SMOKE, "documents").repartition(64).write.parquet(src)
    return src


def test_inventory_counts_fragmentation(spark, fragmented):
    inv = parquet_inventory(spark, fragmented)
    assert inv["n_files"] == 64
    assert inv["n_small_files"] == 64  # all far below 32 MB
    assert inv["total_bytes"] > 0


def test_compact_merges_and_preserves_data(spark, fragmented, tmp_path):
    dst = str(tmp_path / "compacted")
    report = compact_parquet(spark, fragmented, dst)
    assert report["n_output_files"] == 1  # tiny table -> one file
    assert len(_data_files(dst)) == 1
    before = sorted(map(tuple, spark.read.parquet(fragmented).collect()))
    after = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert before == after


def test_compact_cluster_by_colocates_keys(spark, fragmented, tmp_path):
    dst = str(tmp_path / "clustered")
    compact_parquet(
        spark, fragmented, dst, cluster_by=["lang"], sort_within=["doc_id"]
    )
    # Every output file holds full key groups: no lang spans files
    # beyond the hash-partition mapping — with 1 output partition,
    # exactly one file, sorted by doc_id inside.
    files = _data_files(dst)
    assert len(files) == 1
    got = spark.read.parquet(dst)
    ids = [r.doc_id for r in got.collect()]
    # sortWithinPartitions over one partition == globally sorted file
    assert ids == sorted(ids)
    assert got.count() == read_table(spark, SF_SMOKE, "documents").count()


def test_compact_never_clobbers_destination(spark, fragmented, tmp_path):
    dst = str(tmp_path / "exists")
    compact_parquet(spark, fragmented, dst)
    with pytest.raises(Exception):  # mode("error") refuses overwrite
        compact_parquet(spark, fragmented, dst)


def test_compact_rejects_absurd_target(spark, fragmented, tmp_path):
    with pytest.raises(ValueError, match="1 MiB"):
        compact_parquet(
            spark, fragmented, str(tmp_path / "x"), target_file_bytes=1024
        )


def test_compact_empty_source_fails_loudly(spark, tmp_path):
    src = str(tmp_path / "empty")
    (tmp_path / "empty").mkdir()
    with pytest.raises(ValueError, match="no parquet data files"):
        compact_parquet(spark, src, str(tmp_path / "y"))


def test_target_partition_math(spark, fragmented, tmp_path):
    # Force multiple output files: scale the size estimate until
    # ceil(total * ratio / target) lands at 3 — the smoke table is
    # below the 1 MiB target floor on its own.
    inv = parquet_inventory(spark, fragmented)
    ratio = 3.0 * (1 << 20) / inv["total_bytes"]
    report = compact_parquet(
        spark,
        fragmented,
        str(tmp_path / "multi"),
        target_file_bytes=1 << 20,
        size_ratio=ratio,
    )
    assert report["n_output_files"] == 3
    assert len(_data_files(str(tmp_path / "multi"))) == 3
    assert (
        spark.read.parquet(str(tmp_path / "multi")).count()
        == read_table(spark, SF_SMOKE, "documents").count()
    )


def test_zorder_key_matches_python_reference(spark):
    from big_data_spark.io.compact import zorder_key

    def py_morton(vals, bits):
        out = 0
        for i, v in enumerate(vals):
            for j in range(bits):
                out |= ((v >> j) & 1) << (j * len(vals) + i)
        return out

    rows = [(3, 5), (0, 0), (255, 1), (128, 200)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", zorder_key(["a", "b"], bits=8)).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == py_morton([a, b], 8), (a, b)


def test_zorder_key_rejects_out_of_range(spark):
    import pytest as _pytest

    from big_data_spark.io.compact import zorder_key

    df = spark.createDataFrame([(300, 1)], "a bigint, b bigint")
    with _pytest.raises(Exception, match="zorder_key|ASSERT"):
        df.withColumn("z", zorder_key(["a", "b"], bits=8)).collect()


def test_zorder_layout_narrows_per_file_spans(spark, tmp_path):
    # Z-ordered files must each cover a narrow slice of BOTH key
    # domains — the property that lets min/max stats prune scans
    # filtered on either column.
    from big_data_spark.io.compact import compact_parquet, parquet_inventory

    src = str(tmp_path / "li_frag")
    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    li.repartition(16).write.parquet(src)
    inv = parquet_inventory(spark, src)
    ratio = 4.0 * (1 << 20) / inv["total_bytes"]  # force 4 output files
    dst = str(tmp_path / "li_z")
    report = compact_parquet(
        spark,
        src,
        dst,
        target_file_bytes=1 << 20,
        zorder_by=["l_partkey", "l_suppkey"],
        size_ratio=ratio,
    )
    assert report["zordered"] and report["n_output_files"] == 4
    files = _data_files(dst)
    assert len(files) == 4
    # helper columns must not leak into the output schema
    out = spark.read.parquet(dst)
    assert set(out.columns) == {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity"}
    assert out.count() == li.count()
    for col in ("l_partkey", "l_suppkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        full = hi - lo
        spans = []
        for f in files:
            flo, fhi = spark.read.parquet(f).agg(F.min(col), F.max(col)).collect()[0]
            spans.append((fhi - flo) / full)
        # 4 z-range files over 2 uniform dims -> each dim span ~1/2;
        # assert the average is clearly below "no locality" (~1.0).
        assert sum(spans) / len(spans) < 0.8, (col, spans)


def test_binpack_folds_only_the_small_tail(spark, tmp_path):
    """Incremental maintenance: small generations fold into one, the
    large generation is carried forward BY REFERENCE (byte-identical
    files), contents unchanged, change feed silent, and the pass is
    a no-op when fewer than two small generations exist."""
    import glob as _glob
    import os as _os

    from big_data_spark.io.compact import binpack_snapshot
    from big_data_spark.io.snapshot import (
        append_snapshot,
        latest_manifest,
        read_changes,
        read_snapshot,
    )

    t = str(tmp_path / "binpack")
    big = spark.range(20000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("v"),
    )
    append_snapshot(big, t, snapshot_id=0)
    for i in range(1, 5):
        append_snapshot(
            spark.range(i * 100000, i * 100000 + 10).select(
                F.col("id").alias("k"), F.lit("y").alias("v")
            ),
            t,
            snapshot_id=i,
        )
    before = {tuple(r) for r in read_snapshot(spark, t).collect()}
    big_files = sorted(
        (p, _os.path.getsize(p))
        for p in _glob.glob(f"{t}/_data/s=0/*.parquet")
    )
    st = binpack_snapshot(spark, t, small_bytes=100_000)
    assert st["folded"] == 4 and st["kept"] == 1
    man = latest_manifest(spark, t)
    assert len(man["entries"]) == 2
    assert "_data/s=0" in set(man["entries"].values())
    assert sorted(
        (p, _os.path.getsize(p))
        for p in _glob.glob(f"{t}/_data/s=0/*.parquet")
    ) == big_files
    assert {tuple(r) for r in read_snapshot(spark, t).collect()} == before
    # Maintenance commit: invisible to the change feed.
    assert read_changes(spark, t, after_id=4).count() == 0
    # Second pass: one small (the folded gen) + one big -> no-op.
    st2 = binpack_snapshot(spark, t, small_bytes=100_000)
    assert st2["folded"] == 0


def test_binpack_preserves_bb_layout(spark, tmp_path):
    import glob as _glob

    from big_data_spark.io.compact import binpack_snapshot
    from big_data_spark.io.snapshot import append_snapshot, read_snapshot

    t = str(tmp_path / "binpack_layout")
    for i in range(3):
        df = spark.range(i * 50, i * 50 + 50).select(
            F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("b")
        )
        append_snapshot(
            df.repartition("b"), t, snapshot_id=i, partition_by="b"
        )
    st = binpack_snapshot(spark, t, small_bytes=1 << 20)
    assert st["folded"] == 3
    gdirs = _glob.glob(f"{t}/_data/s={st['snapshot_id']}/b=*")
    assert gdirs, "binpack flattened the layout"
    back = read_snapshot(spark, t)
    assert back.count() == 150 and dict(back.dtypes)["b"] == "int"


def test_maintain_table_full_pass(spark, tmp_path):
    """The one-call OPTIMIZE: binpack + stale-Bloom rebuild + vacuum
    in dependency order; a fresh index is left alone on the next
    pass and point reads skip again right after maintenance."""
    from big_data_spark.io.compact import maintain_table
    from big_data_spark.io.fileindex import (
        read_snapshot_point,
        write_bloom_index,
    )
    from big_data_spark.io.snapshot import (
        append_snapshot,
        read_snapshot,
        snapshot_ids,
    )

    t = str(tmp_path / "maint")
    for g in range(5):
        append_snapshot(
            spark.range(g * 200, (g + 1) * 200).select(
                F.concat(F.lit("key-"), (F.col("id") % 32).cast("string"))
                .alias("k"),
                F.col("id").alias("v"),
            ),
            t,
            snapshot_id=g,
        )
    write_bloom_index(spark, t, "k")  # now stale the moment we fold
    before = {tuple(r) for r in read_snapshot(spark, t).collect()}
    rep = maintain_table(spark, t, small_bytes=1 << 20, keep_last=3)
    assert rep["binpacked"]["folded"] == 5
    assert rep["indexes_rebuilt"] == ["k"]
    assert rep["vacuum"]["expired_manifests"]
    assert {tuple(r) for r in read_snapshot(spark, t).collect()} == before
    got = read_snapshot_point(spark, t, "k", "key-7")
    want = read_snapshot(spark, t).where(F.col("k") == "key-7")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
    files = len(read_snapshot_point(spark, t, "k", "key-7").inputFiles())
    assert files <= 3  # skipping restored post-maintenance
    # Second pass: nothing stale, nothing small enough to fold twice.
    rep2 = maintain_table(spark, t, small_bytes=1 << 10, keep_last=3)
    assert rep2["binpacked"]["folded"] == 0
    assert rep2["indexes_rebuilt"] == []
    assert snapshot_ids(spark, t)  # table intact


def test_partitioned_snapshot_zorder_within_partitions(spark, tmp_path):
    """Round 10: OPTIMIZE ZORDER on a PARTITIONED snapshot table —
    z-order WITHIN each partition dir (Delta parity; previously
    refused). Content identical, partition entries preserved, and
    each written file covers a narrow slice of both z-dims inside
    its partition."""
    import glob as _glob

    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        latest_manifest,
        read_snapshot,
        write_snapshot_partial,
    )

    t = str(tmp_path / "part_z")
    li = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            (F.col("l_orderkey") % 2).cast("string").alias("half"),
        )
        .repartition(8)
    )
    write_snapshot_partial(li, t, 0, "half", ["0", "1"])
    before = {tuple(r) for r in read_snapshot(spark, t).collect()}
    st = compact_snapshot(
        spark,
        t,
        target_file_bytes=1 << 15,  # ~32 KiB -> several output files
        zorder_by=["l_partkey", "l_suppkey"],
    )
    assert st["snapshot_id"] == 1
    man = latest_manifest(spark, t)
    assert man["partition_col"] == "half"
    assert set(man["entries"]) == {"0", "1"}
    got = read_snapshot(spark, t)
    assert {tuple(r) for r in got.collect()} == before
    assert set(got.columns) == {
        "l_orderkey", "l_partkey", "l_suppkey", "half"
    }
    # Within each partition dir, per-file spans on both z-dims are
    # narrow relative to the dim's full range.
    checked = 0
    for part in ("0", "1"):
        files = sorted(
            _glob.glob(f"{t}/_data/s=1/half={part}/*.parquet")
        )
        if len(files) < 2:
            continue  # one file = trivially clustered
        # One job per file: both dims' bounds in a single agg.
        per_file = [
            spark.read.parquet(f)
            .agg(
                F.min("l_partkey"),
                F.max("l_partkey"),
                F.min("l_suppkey"),
                F.max("l_suppkey"),
            )
            .collect()[0]
            for f in files
        ]
        for lo_i, hi_i, col in ((0, 1, "l_partkey"), (2, 3, "l_suppkey")):
            lo = min(r[lo_i] for r in per_file)
            hi = max(r[hi_i] for r in per_file)
            full = hi - lo
            spans = [(r[hi_i] - r[lo_i]) / full for r in per_file]
            assert sum(spans) / len(spans) < 0.8, (part, col, spans)
            checked += 1
    assert checked > 0, "no multi-file partition to check clustering on"
    with pytest.raises(ValueError, match="partition column"):
        compact_snapshot(spark, t, zorder_by=["half", "l_partkey"])


def test_zorder_string_dim_narrows_per_file_spans(spark, tmp_path):
    """(string, numeric) z-order (round 11): string dims map through
    a truncated fixed-width binary prefix, so each written file must
    cover a narrow slice of BOTH the lexicographic string domain and
    the numeric domain — the property that makes footer min/max
    prunable on either column."""
    import string as _string

    from big_data_spark.io.compact import compact_parquet, parquet_inventory

    src = str(tmp_path / "sz_frag")
    rows = [
        (f"{a}{b}_suffix", (i * 37) % 1000, i)
        for i, (a, b) in enumerate(
            (a, b)
            for a in _string.ascii_lowercase
            for b in _string.ascii_lowercase
        )
        for _ in range(6)
    ]
    df = spark.createDataFrame(rows, "name string, num int, seq int")
    df.repartition(16).write.parquet(src)
    inv = parquet_inventory(spark, src)
    ratio = 4.0 * (1 << 20) / inv["total_bytes"]
    dst = str(tmp_path / "sz_z")
    report = compact_parquet(
        spark,
        src,
        dst,
        target_file_bytes=1 << 20,
        zorder_by=["name", "num"],
        size_ratio=ratio,
    )
    assert report["zordered"] and report["n_output_files"] == 4
    files = _data_files(dst)
    assert len(files) == 4
    out = spark.read.parquet(dst)
    assert out.count() == len(rows)
    assert set(out.columns) == {"name", "num", "seq"}
    # Numeric dim: measured span per file, same bar as the
    # numeric-numeric test.
    lo, hi = df.agg(F.min("num"), F.max("num")).collect()[0]
    full = hi - lo
    nspans = []
    for f in files:
        flo, fhi = (
            spark.read.parquet(f).agg(F.min("num"), F.max("num")).collect()[0]
        )
        nspans.append((fhi - flo) / full)
    assert sum(nspans) / len(nspans) < 0.8, nspans
    # String dim: per-file span measured on the first-letter alphabet
    # position (the truncated-prefix order the key clusters by).
    sspans = []
    for f in files:
        flo, fhi = (
            spark.read.parquet(f)
            .agg(
                F.min(F.ascii(F.substring("name", 1, 1))),
                F.max(F.ascii(F.substring("name", 1, 1))),
            )
            .collect()[0]
        )
        sspans.append((fhi - flo) / 25.0)
    assert sum(sspans) / len(sspans) < 0.8, sspans


def test_zorder_temporal_dim_narrows_per_file_spans(spark, tmp_path):
    """(timestamp, numeric) z-order (round 11): temporal dims map to
    epoch micro/day counts, so each written file covers a narrow
    slice of event time — the layout that makes typed data skipping
    (io/stats.py) effective on the dominant fact-table predicate."""
    import datetime as dt

    from big_data_spark.io.compact import compact_parquet, parquet_inventory

    src = str(tmp_path / "tz_frag")
    base = dt.datetime(2026, 1, 1)
    rows = [
        (base + dt.timedelta(minutes=11 * i), (i * 37) % 1000, i)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, num int, seq int")
    df.repartition(16).write.parquet(src)
    inv = parquet_inventory(spark, src)
    ratio = 4.0 * (1 << 20) / inv["total_bytes"]
    dst = str(tmp_path / "tz_z")
    report = compact_parquet(
        spark,
        src,
        dst,
        target_file_bytes=1 << 20,
        zorder_by=["ts", "num"],
        size_ratio=ratio,
    )
    assert report["zordered"]
    files = _data_files(dst)
    assert len(files) >= 2
    out = spark.read.parquet(dst)
    assert out.count() == len(rows)
    lo, hi = df.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    full = hi - lo
    spans = []
    for f in files:
        flo, fhi = (
            spark.read.parquet(f)
            .agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")))
            .collect()[0]
        )
        spans.append((fhi - flo) / full)
    assert sum(spans) / len(spans) < 0.8, spans


def test_zorder_rejects_unorderable_types(spark):
    import pytest as _pytest

    from big_data_spark.io.compact import _with_zorder_key

    df = spark.createDataFrame([([1, 2], 1)], "arr array<int>, v int")
    with _pytest.raises(ValueError, match="numeric, string, date or"):
        _with_zorder_key(df, ["arr", "v"], 8)


# ----------------------------- partition-scoped compaction (round 12)

def test_compact_snapshot_scoped_to_partitions(spark, tmp_path):
    """OPTIMIZE-WHERE shape: only the selected partitions rewrite
    (cost O(selected)); untouched partitions carry BY REFERENCE
    (byte-identical files), MOR masks on untouched partitions still
    apply, and the change feed stays silent."""
    import glob

    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        delete_where,
        latest_manifest,
        read_changes,
        read_snapshot,
        write_snapshot,
        write_snapshot_partial,
    )

    t = str(tmp_path / "scoped")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(300)],
        "k long, part string, v double",
    )
    # Fragment partition 'a' across several generations.
    write_snapshot_partial(df, t, 0, "part", ["a", "b", "c"])
    for sid in (1, 2, 3):
        patch = df.filter("part = 'a'").withColumn(
            "v", F.col("v") + sid
        ).repartition(4)
        write_snapshot_partial(patch, t, sid, "part", ["a"])
    # MOR mask on an UNTOUCHED partition must survive the rewrite.
    delete_where(spark, t, "part = 'b' AND k % 10 = 0", mode="mor")
    man = latest_manifest(spark, t)
    before = read_snapshot(spark, t)
    want = {(r["k"], r["part"], r["v"]) for r in before.collect()}
    b_files = sorted(glob.glob(f"{t}/{man['entries']['b']}/*.parquet"))
    st = compact_snapshot(spark, t, partitions={"part": "a"})
    assert st["n_files"] >= 4  # only partition a's files counted
    man2 = latest_manifest(spark, t)
    # b and c carried by reference — same entry rels, same bytes.
    assert man2["entries"]["b"] == man["entries"]["b"]
    assert man2["entries"]["c"] == man["entries"]["c"]
    assert sorted(
        glob.glob(f"{t}/{man2['entries']['b']}/*.parquet")
    ) == b_files
    # a replaced by the new generation.
    assert man2["entries"]["a"] != man["entries"]["a"]
    got = {
        (r["k"], r["part"], r["v"])
        for r in read_snapshot(spark, t).collect()
    }
    assert got == want  # incl. MOR masks on b still applied
    assert man2["deletes"] == man["deletes"]  # carried, not dropped
    assert read_changes(spark, t, after_id=man["snapshot_id"]).count() == 0
    # refusals: unpartitioned tables and non-matching selections
    with pytest.raises(ValueError, match="not .*partitioned|not\\b"):
        t2 = str(tmp_path / "flat")
        write_snapshot(spark.range(5).selectExpr("id AS k"), t2)
        compact_snapshot(spark, t2, partitions={"k": 1})
    with pytest.raises(ValueError, match="no live partitions"):
        compact_snapshot(spark, t, partitions={"part": "zz"})
