"""Atomic snapshot commits (io/snapshot.py): crash injection between
bucket writes, orphan-generation invisibility, first-committer-wins,
time travel, vacuum, and the merge/compact table operations built on
top. The invariant under test everywhere: a reader sees ONLY a fully
committed snapshot — never a mix of old and new files."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.manifest import commit_manifest, successor
from big_data_spark.io.snapshot import (
    SnapshotConflict,
    append_snapshot,
    generation_dir,
    latest_manifest,
    read_manifest,
    read_snapshot,
    resolve_as_of_ts,
    snapshot_ids,
    vacuum_snapshots,
    write_snapshot,
    write_snapshot_partial,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _bucketed(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, _kb int")


def test_crash_between_bucket_writes_is_invisible(spark, tmp_path):
    """Kill-between-bucket-writes: a rewrite of two buckets that dies
    after writing only one leaves readers on the OLD snapshot; the
    completed retry flips them to the NEW one — no state in between."""
    t = str(tmp_path / "tbl")
    v0 = [(1, "a", 0), (2, "b", 1), (3, "c", 0)]
    write_snapshot_partial(_bucketed(spark, v0), t, 0, "_kb", [0, 1])
    old = _rows(read_snapshot(spark, t))
    assert old == set(v0)

    # Simulate the crash: the writer's staged dir holds bucket 0's new
    # data, bucket 1 never got written, no claim, no manifest.
    staged = f"{t}/_staging/0123abcd"
    spark.createDataFrame([(1, "a2", 0)], "k int, v string, _kb int").drop(
        "_kb"
    ).write.parquet(f"{staged}/_kb=0")
    assert _rows(read_snapshot(spark, t)) == old, (
        "reader must not see the half-written rewrite"
    )

    # The retry recomputes BOTH buckets and commits; readers flip
    # atomically to the complete new state.
    v1 = [(1, "a2", 0), (2, "b2", 1)]
    write_snapshot_partial(_bucketed(spark, v1), t, 1, "_kb", [0, 1])
    assert _rows(read_snapshot(spark, t)) == set(v1)
    assert _rows(read_snapshot(spark, t, as_of=0)) == old  # time travel


def test_orphan_full_generation_is_invisible_and_replay_overwrites(
    spark, tmp_path
):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, "x") for i in range(5)], "k int, v string")
    write_snapshot(df, t)
    # A crash mid-write leaves part files under _staging only: readers
    # never see them and the next writer publishes past them.
    junk = spark.createDataFrame([(99, "junk")], "k int, v string")
    junk.write.parquet(f"{t}/_staging/deadbeef")
    assert _rows(read_snapshot(spark, t)) == _rows(df)
    good = spark.createDataFrame([(7, "y")], "k int, v string")
    assert write_snapshot(good, t) == 1
    assert _rows(read_snapshot(spark, t)) == {(7, "y")}
    # A crash between claim and commit leaves _data/s=<id>: invisible,
    # and an implicit-id writer refuses it (naming the id and the
    # remedy) instead of publishing over foreign data.
    junk.write.parquet(generation_dir(t, 2))
    assert _rows(read_snapshot(spark, t)) == {(7, "y")}
    with pytest.raises(SnapshotConflict, match="s=2") as err:
        write_snapshot(df, t)
    assert "vacuum_snapshots(..., staging_ttl_hours=0)" in str(err.value)
    # A deterministic replay owns its id: replace swaps the orphan out.
    assert write_snapshot(good, t, snapshot_id=2, replace=True) == 2
    assert _rows(read_snapshot(spark, t)) == {(7, "y")}
    assert glob.glob(f"{t}/_staging/*") == [f"{t}/_staging/deadbeef"]


def test_commit_conflict_first_wins(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    sid = write_snapshot(df, t)
    with pytest.raises(SnapshotConflict):
        commit_manifest(
            spark, t, successor(latest_manifest(spark, t), sid, {"": "_data/s=0"})
        )
    # the losing committer's temp file is cleaned up
    assert not glob.glob(f"{t}/_manifests/.tmp-*")


def test_publish_doc_create_only_loser_leaves_winner_and_no_temp(
    spark, tmp_path
):
    """A create-only publish of a name that already exists returns
    False: the first document stays byte for byte, and the loser's
    temp file is gone."""
    from big_data_spark.io.layout import publish_doc

    d = str(tmp_path / "docs")
    assert publish_doc(spark, f"{d}/pin.json", '{"who": "first"}')
    assert not publish_doc(spark, f"{d}/pin.json", '{"who": "second"}')
    with open(f"{d}/pin.json") as fh:
        assert fh.read() == '{"who": "first"}'
    assert not glob.glob(f"{d}/.tmp-*")


def test_manifest_replace_whose_move_fails_keeps_manifest(
    spark, tmp_path, monkeypatch
):
    """Replace-committing an already-committed id must never lose it:
    when the final move raises (Hadoop rename or java.nio move alike),
    manifest N is still there, byte for byte, and no temp file is
    left. A delete-then-rename publish would drop the table back one
    version."""
    from py4j import java_gateway

    t = str(tmp_path / "replace_crash")
    write_snapshot(spark.range(3).selectExpr("id AS k"), t)
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    path = f"{t}/_manifests/manifest-000000000001.json"
    with open(path, "rb") as fh:
        before = fh.read()
    prev = read_manifest(spark, t, 0)
    man = successor(prev, 1, read_manifest(spark, t, 1)["entries"])

    def failing_moves(real):
        def getattr_(self, name):
            if name in ("rename", "move"):
                raise OSError(f"injected failure: {name}")
            return real(self, name)

        return getattr_

    for cls in (java_gateway.JavaObject, java_gateway.JavaClass):
        monkeypatch.setattr(cls, "__getattr__", failing_moves(cls.__getattr__))
    with pytest.raises(Exception, match="injected failure"):
        commit_manifest(spark, t, man, prev_man=prev, replace=True)
    monkeypatch.undo()
    assert snapshot_ids(spark, t) == [0, 1]
    with open(path, "rb") as fh:
        assert fh.read() == before
    assert not glob.glob(f"{t}/_manifests/.tmp-*")
    assert read_snapshot(spark, t).count() == 5


def test_read_docs_keys_by_path_and_skips_missing_only_when_asked(
    spark, tmp_path
):
    """The bulk reader returns {requested path: text} on both sides of
    its threshold (names with spaces and '%' survive the scan's URI
    round trip). With ``missing_ok`` a document gone since its listing
    is left out, also when Spark's up-front path check is the one
    that notices; without it the read raises."""
    import json

    from big_data_spark.io import layout

    d = tmp_path / "docs"
    d.mkdir()
    want = {}
    for i in range(layout._BULK_MANIFEST_THRESHOLD + 2):
        (d / f"doc {i}%20.json").write_text(json.dumps({"i": i}))
        want[str(d / f"doc {i}%20.json")] = i
    paths = list(want)
    got = layout.read_docs(spark, paths)
    assert {p: json.loads(t)["i"] for p, t in got.items()} == want
    gone = str(d / "gone.json")
    for some in (paths[:3], paths):
        got = layout.read_docs(spark, some + [gone], missing_ok=True)
        assert sorted(got) == sorted(some)
        with pytest.raises(Exception):
            layout.read_docs(spark, some + [gone])


def test_data_files_follows_sparks_hidden_path_rule(spark, tmp_path):
    """A file is data unless a path component below the dir starts
    with '.', or with '_' without '=': layout dirs like ``_bb=3/``
    count, ``_SUCCESS``, ``.crc`` files and ``_x/`` do not. The
    generation has-data probe agrees, and a missing dir is empty."""
    from big_data_spark.io import table_writes
    from big_data_spark.io.compact import parquet_inventory
    from big_data_spark.io.layout import data_files

    g = tmp_path / "gen"
    for rel in [
        "_bb=3/part-0.parquet",
        "part-1.parquet",
        "_SUCCESS",
        ".part-1.parquet.crc",
        "_bb=3/.part-0.parquet.crc",
        "_x/part-2.parquet",
        ".hidden/part-3.parquet",
    ]:
        (g / rel).parent.mkdir(parents=True, exist_ok=True)
        (g / rel).write_bytes(b"abc")
    got = sorted(
        uri.split("/gen/", 1)[1] for uri, _ in data_files(spark, str(g))
    )
    assert got == ["_bb=3/part-0.parquet", "part-1.parquet"]
    assert parquet_inventory(spark, str(g))["total_bytes"] == 6
    assert table_writes._generation_has_data(spark, str(g))
    (g / "_bb=3" / "part-0.parquet").unlink()
    (g / "part-1.parquet").unlink()
    assert list(data_files(spark, str(g))) == []
    assert not table_writes._generation_has_data(spark, str(g))
    assert list(data_files(spark, str(tmp_path / "missing"))) == []
    assert not table_writes._generation_has_data(
        spark, str(tmp_path / "missing")
    )


def test_partial_emptied_bucket_drops_from_manifest(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_partial(
        _bucketed(spark, [(1, "a", 0), (2, "b", 1)]), t, 0, "_kb", [0, 1]
    )
    empty = spark.createDataFrame([], "k int, v string, _kb int")
    write_snapshot_partial(empty, t, 1, "_kb", [1])
    assert _rows(read_snapshot(spark, t)) == {(1, "a", 0)}
    assert set(latest_manifest(spark, t)["entries"]) == {"0"}


def test_untouched_buckets_carry_forward_by_reference(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot_partial(
        _bucketed(spark, [(1, "a", 0), (2, "b", 1)]), t, 0, "_kb", [0, 1]
    )
    files_before = set(glob.glob(f"{t}/_data/s=0/_kb=1/*.parquet"))
    write_snapshot_partial(
        _bucketed(spark, [(1, "a2", 0)]), t, 1, "_kb", [0]
    )
    entries = latest_manifest(spark, t)["entries"]
    assert entries["1"] == "_data/s=0/_kb=1"  # same files, by reference
    assert set(glob.glob(f"{t}/_data/s=0/_kb=1/*.parquet")) == files_before
    assert _rows(read_snapshot(spark, t)) == {(1, "a2", 0), (2, "b", 1)}


def test_reader_resolved_before_vacuum_survives_on_kept_snapshots(
    spark, tmp_path
):
    """The RUNBOOK retention contract: a DataFrame resolved against a
    snapshot that vacuum KEEPS still scans successfully after the
    vacuum ran (its generations are never deleted), even when older
    snapshots and their data are reclaimed around it."""
    t = str(tmp_path / "tbl")
    for i in range(5):
        write_snapshot(
            spark.createDataFrame([(i, "v")], "k int, v string"), t
        )
    # Long-running readers: resolved (plan built, manifest read) NOW,
    # consumed only after vacuum.
    reader_latest = read_snapshot(spark, t)
    reader_asof = read_snapshot(spark, t, as_of=3)
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert res["expired_manifests"] == [0, 1, 2]
    assert _rows(reader_latest) == {(4, "v")}
    assert _rows(reader_asof) == {(3, "v")}


def test_predicate_pruning_through_snapshot_read(spark, tmp_path):
    """Manifest + footer double pruning (round-6 directive): a
    predicate-carrying snapshot read opens FEWER files end-to-end
    with byte-identical results to full-scan-then-filter."""
    from big_data_spark.io.snapshot import append_snapshot

    t = str(tmp_path / "tbl")
    # Four single-file generations over disjoint value ranges — the
    # layout an append-only clustered ingest produces naturally.
    for g in range(4):
        df = spark.range(g * 100, (g + 1) * 100).selectExpr(
            "id", "cast(id as double) as v"
        )
        append_snapshot(df.coalesce(1), t)
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, predicate={"v": (150.0, 250.0)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.filter("v >= 150 and v <= 250").collect())
    )
    # The scan opens only the two kept 100-row generations' files.
    assert len(pruned.inputFiles()) == 2
    # Predicate provably missing every file: empty result, real
    # schema, zero data files scanned.
    none = read_snapshot(spark, t, predicate={"v": (9e3, 9e9)})
    assert none.count() == 0 and none.columns == ["id", "v"]
    # Composes with time travel: as-of the second commit, only the
    # first two generations are live — the [150, 250] band keeps one.
    asof = read_snapshot(
        spark, t, as_of=1, predicate={"v": (150.0, 250.0)}
    )
    assert len(asof.inputFiles()) == 1
    assert asof.count() == 50  # 150..199


def test_partial_write_refuses_incompatible_predecessor_layout(
    spark, tmp_path
):
    """A partial write over an unpartitioned (or differently
    partitioned) predecessor would leave the whole-table generation
    live next to per-partition entries — duplicate rows for every
    touched key. The API must force the explicit full rewrite
    (round-6 advice)."""
    t = str(tmp_path / "tbl")
    write_snapshot(_bucketed(spark, [(1, "a", 0), (2, "b", 1)]), t)
    with pytest.raises(ValueError, match="unpartitioned"):
        write_snapshot_partial(
            _bucketed(spark, [(1, "a2", 0)]), t, 1, "_kb", [0]
        )
    t2 = str(tmp_path / "tbl2")
    write_snapshot_partial(_bucketed(spark, [(1, "a", 0)]), t2, 0, "_kb", [0])
    with pytest.raises(ValueError, match=r"partitioned on \['_kb'\]"):
        write_snapshot_partial(
            _bucketed(spark, [(1, "a", 0)]), t2, 1, "k", [1]
        )
    with pytest.raises(ValueError, match="null partition keys"):
        write_snapshot_partial(
            _bucketed(spark, [(1, "a", 0)]), t2, 1, "_kb", [None]
        )


def test_partial_write_roundtrips_hive_escaped_string_keys(
    spark, tmp_path
):
    """String partition values Spark hive-escapes on disk (':', '%',
    '/', '=') must reconcile against manifest keys by their RAW
    value: a rewrite of such a key replaces its entry instead of
    duplicating it (round-6 advice)."""
    t = str(tmp_path / "tbl")
    df0 = spark.createDataFrame(
        [(1, "a:b"), (2, "c/d"), (3, "plain")], "k int, part string"
    )
    write_snapshot_partial(df0, t, 0, "part", ["a:b", "c/d", "plain"])
    entries = latest_manifest(spark, t)["entries"]
    assert set(entries) == {"a:b", "c/d", "plain"}
    df1 = spark.createDataFrame([(10, "a:b")], "k int, part string")
    write_snapshot_partial(df1, t, 1, "part", ["a:b"])
    entries = latest_manifest(spark, t)["entries"]
    assert set(entries) == {"a:b", "c/d", "plain"}  # no stale duplicate
    assert entries["a:b"].startswith("_data/s=1/")
    assert _rows(read_snapshot(spark, t)) == {
        (10, "a:b"), (2, "c/d"), (3, "plain")
    }


def test_vacuum_expires_manifests_and_unreferenced_generations(
    spark, tmp_path
):
    t = str(tmp_path / "tbl")
    for i in range(4):
        write_snapshot(
            spark.createDataFrame([(i, "v")], "k int, v string"), t
        )
    junk_gen = generation_dir(t, 99)  # data written, manifest not yet
    spark.createDataFrame([(99, "junk")], "k int, v string").write.parquet(
        junk_gen
    )
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert res["expired_manifests"] == [0, 1]
    # s=99 sits ABOVE the newest committed snapshot (3): it may be an
    # in-flight writer between df.write and commit_manifest, so vacuum
    # must not touch it (round-6 advice — deleting it would let the
    # writer commit a manifest pointing at vanished data).
    assert "s=99" not in res["removed_generations"]
    assert os.path.isdir(junk_gen)
    assert snapshot_ids(spark, t) == [2, 3]
    assert _rows(read_snapshot(spark, t)) == {(3, "v")}
    assert _rows(read_snapshot(spark, t, as_of=2)) == {(2, "v")}
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_snapshots(spark, t, keep_last=1)
    # Once commits pass the orphan's id it is provably dead (no
    # manifest ever claimed it) and the next vacuum reclaims it.
    write_snapshot(
        spark.createDataFrame([(4, "v")], "k int, v string"), t,
        snapshot_id=100,
    )
    write_snapshot(
        spark.createDataFrame([(5, "v")], "k int, v string"), t
    )
    res2 = vacuum_snapshots(spark, t, keep_last=2)
    assert "s=99" in res2["removed_generations"]
    assert not os.path.isdir(junk_gen)


def test_vacuum_keeps_generations_referenced_by_kept_manifests(
    spark, tmp_path
):
    """A partial rewrite keeps OLD generations live by reference —
    vacuum must not delete a generation any kept manifest points at."""
    t = str(tmp_path / "tbl")
    write_snapshot_partial(
        _bucketed(spark, [(1, "a", 0), (2, "b", 1)]), t, 0, "_kb", [0, 1]
    )
    for sid in (1, 2, 3):
        write_snapshot_partial(
            _bucketed(spark, [(1, f"a{sid}", 0)]), t, sid, "_kb", [0]
        )
    vacuum_snapshots(spark, t, keep_last=2)
    # s=0 still holds bucket 1 for the kept manifests
    assert os.path.isdir(f"{t}/_data/s=0/_kb=1")
    assert not os.path.isdir(f"{t}/_data/s=1")  # unreferenced now
    assert _rows(read_snapshot(spark, t)) == {(1, "a3", 0), (2, "b", 1)}


def test_merge_snapshot_publishes_atomically(spark, tmp_path):
    from big_data_spark.operators.merge import merge_snapshot

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, name string, v double"
    )
    write_snapshot(base, t)
    changes = spark.createDataFrame(
        [(2, "b2", 9.0), (3, "c", 3.0)], "k int, name string, v double"
    )
    sid = merge_snapshot(spark, t, changes, ["k"])
    assert _rows(read_snapshot(spark, t)) == {
        (1, "a", 1.0),
        (2, "b2", 9.0),
        (3, "c", 3.0),
    }
    assert _rows(read_snapshot(spark, t, as_of=sid - 1)) == _rows(base)


def test_compact_snapshot_full_table(spark, tmp_path):
    from big_data_spark.io.compact import compact_snapshot

    t = str(tmp_path / "tbl")
    df = spark.range(0, 2000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 7).cast("int").alias("g"),
    )
    write_snapshot(df.repartition(16), t)
    n_before = len(glob.glob(f"{t}/_data/s=0/*.parquet"))
    assert n_before >= 8
    before = _rows(read_snapshot(spark, t))
    res = compact_snapshot(spark, t, target_file_bytes=1 << 20)
    assert res["snapshot_id"] == 1
    assert _rows(read_snapshot(spark, t)) == before
    assert len(glob.glob(f"{t}/_data/s=1/*.parquet")) < n_before
    # old layout still readable until vacuumed
    assert _rows(read_snapshot(spark, t, as_of=0)) == before


def test_compact_snapshot_folds_partitioned_generations(spark, tmp_path):
    from big_data_spark.io.compact import compact_snapshot

    t = str(tmp_path / "tbl")
    write_snapshot_partial(
        _bucketed(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]),
        t, 0, "_kb", [0, 1, 2],
    )
    for sid, (k, v, b) in enumerate(
        [(1, "a1", 0), (2, "b1", 1), (1, "a2", 0)], start=1
    ):
        write_snapshot_partial(_bucketed(spark, [(k, v, b)]), t, sid, "_kb", [b])
    before = _rows(read_snapshot(spark, t))
    gens_before = {
        e.split("/")[1] for e in latest_manifest(spark, t)["entries"].values()
    }
    assert len(gens_before) > 1  # fragmentation accumulated
    res = compact_snapshot(spark, t, target_file_bytes=1 << 20)
    entries = latest_manifest(spark, t)["entries"]
    assert {e.split("/")[1] for e in entries.values()} == {
        f"s={res['snapshot_id']}"
    }  # one generation again
    assert _rows(read_snapshot(spark, t)) == before
    # Round 11: STRING dims are supported (truncated binary prefix),
    # so a (numeric, string) z-order rewrites cleanly — the refusal
    # left is the partition column itself.
    res2 = compact_snapshot(spark, t, zorder_by=["k", "v"])
    assert _rows(read_snapshot(spark, t)) == before
    assert res2["snapshot_id"] == res["snapshot_id"] + 1
    with pytest.raises(ValueError, match="partition column"):
        compact_snapshot(spark, t, zorder_by=["_kb", "k"])


def test_read_fully_emptied_table_is_zero_rows_with_schema(
    spark, tmp_path
):
    """Deleting every partition is a legitimate publish: the reader
    returns zero rows with the committed schema (a raise here would
    make the failure surface far from the write that emptied the
    table); time travel still shows the pre-delete content."""
    t = str(tmp_path / "tbl")
    write_snapshot_partial(_bucketed(spark, [(1, "a", 0)]), t, 0, "_kb", [0])
    empty = spark.createDataFrame([], "k int, v string, _kb int")
    write_snapshot_partial(empty, t, 1, "_kb", [0])
    got = read_snapshot(spark, t)
    assert got.columns == ["k", "v", "_kb"] and got.count() == 0
    assert read_manifest(spark, t, 1)["entries"] == {}
    assert _rows(read_snapshot(spark, t, as_of=0)) == {(1, "a", 0)}


def test_schema_evolution_additive_and_guarded(spark, tmp_path):
    """Additive evolution through the full-table writer: the new
    column lands, time travel shows each snapshot's own schema (and
    its own rows — a full publish replaces contents), and drops /
    type changes are refused at COMMIT time."""
    t = str(tmp_path / "evo")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), t
    )
    # Additive: new column w.
    write_snapshot_ok = write_snapshot(
        spark.createDataFrame(
            [(3, "c", 9.5)], "k int, v string, w double"
        ),
        t,
    )
    assert write_snapshot_ok == 1
    cur = read_snapshot(spark, t)
    assert cur.columns == ["k", "v", "w"]
    assert {tuple(r) for r in cur.collect()} == {(3, "c", 9.5)}
    # Time travel: snapshot 0 keeps its own (pre-evolution) schema.
    old = read_snapshot(spark, t, as_of=0)
    assert old.columns == ["k", "v"]
    assert {tuple(r) for r in old.collect()} == {(1, "a"), (2, "b")}

    with pytest.raises(ValueError, match="dropped: \\['v', 'w'\\]"):
        write_snapshot(spark.createDataFrame([(4,)], "k int"), t)
    with pytest.raises(ValueError, match="type-changed"):
        write_snapshot(
            spark.createDataFrame(
                [(4, "d", 1)], "k int, v string, w int"
            ),
            t,
        )


def test_schema_evolution_partial_writes(spark, tmp_path):
    """The partial (bucketed) writer enforces the same additive
    contract, and untouched carried-forward buckets null-fill the
    new column on read."""
    t = str(tmp_path / "evo_part")
    v0 = [(1, "a", 0), (2, "b", 1)]
    write_snapshot_partial(_bucketed(spark, v0), t, 0, "_kb", [0, 1])
    evolved = spark.createDataFrame(
        [(1, "a2", 7.0, 0)], "k int, v string, w double, _kb int"
    )
    write_snapshot_partial(evolved, t, 1, "_kb", [0])
    got = {tuple(r) for r in read_snapshot(spark, t).collect()}
    # Bucket 0 rewritten with w; bucket 1 carried forward, w is NULL.
    assert got == {(1, "a2", 7.0, 0), (2, "b", None, 1)}
    with pytest.raises(ValueError, match="additive"):
        write_snapshot_partial(_bucketed(spark, [(9, "z", 1)]), t, 2, "_kb", [1])


def test_append_snapshot_partitioned_layout_and_empty_batch(spark, tmp_path):
    """partition_by lays each generation out hive-partitioned (readers
    filtering on that column prune dirs), and an EMPTY append — which
    writes no part files under partitionBy — commits a manifest with
    no new entry instead of poisoning later reads with an
    unreadable generation."""
    from big_data_spark.io.snapshot import append_snapshot

    t = str(tmp_path / "part_append")
    df = spark.range(40).withColumn("k", (F.col("id") % 4).cast("int"))
    append_snapshot(df, t, snapshot_id=0, partition_by="k")
    assert glob.glob(f"{t}/_data/s=0/k=*"), "generation not hive-partitioned"
    # Empty batch: id advances, no entry, table still fully readable.
    append_snapshot(
        df.where(F.lit(False)), t, snapshot_id=1, partition_by="k"
    )
    assert snapshot_ids(spark, t) == [0, 1]
    assert read_manifest(spark, t, 1)["entries"] == {"b0": "_data/s=0"}
    back = read_snapshot(spark, t)
    assert dict(back.dtypes)["k"] == "int"
    assert sorted(r["id"] for r in back.collect()) == list(range(40))
    # Next non-empty append lands normally on top.
    append_snapshot(
        spark.range(40, 50).withColumn("k", (F.col("id") % 4).cast("int")),
        t,
        snapshot_id=2,
        partition_by="k",
    )
    assert sorted(
        r["id"] for r in read_snapshot(spark, t).collect()
    ) == list(range(50))


def _feed_rows(df):
    return {tuple(r) for r in df.collect()}


def test_read_changes_append_rewrite_partial_and_maintenance(
    spark, tmp_path
):
    """The change feed derives inserts/deletes from manifest diffs:
    appends are pure inserts, a full rewrite is delete-all +
    insert-all, a partial write touches only its partitions, and a
    compaction commit contributes NOTHING."""
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import append_snapshot, read_changes

    t = str(tmp_path / "feed")
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_snapshot(df0, t, snapshot_id=0)
    append_snapshot(
        spark.createDataFrame([(3, "c")], "k int, v string"), t, 1
    )
    ch = read_changes(spark, t, after_id=0)
    assert _feed_rows(ch) == {(3, "c", "insert", 1)}
    # Since table creation: two insert commits, no deletes.
    ch_all = read_changes(spark, t, after_id=-1)
    assert _feed_rows(ch_all) == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (3, "c", "insert", 1),
    }
    # Maintenance commit: feed over it is empty.
    compact_snapshot(spark, t)
    assert read_changes(spark, t, after_id=1).count() == 0
    # Full rewrite after compaction: file-level delete-all+insert-all.
    write_snapshot(
        spark.createDataFrame([(2, "b2")], "k int, v string"), t, 3
    )
    got = _feed_rows(read_changes(spark, t, after_id=2))
    assert got == {
        (1, "a", "delete", 3),
        (2, "b", "delete", 3),
        (3, "c", "delete", 3),
        (2, "b2", "insert", 3),
    }


def test_read_changes_partial_write_touches_only_its_partitions(
    spark, tmp_path
):
    from big_data_spark.io.snapshot import read_changes

    t = str(tmp_path / "feed_part")
    v0 = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 1)], "k int, v string, _kb int"
    )
    write_snapshot_partial(v0, t, 0, "_kb", [0, 1])
    v1 = spark.createDataFrame([(2, "B", 1)], "k int, v string, _kb int")
    write_snapshot_partial(v1, t, 1, "_kb", [1])
    got = _feed_rows(read_changes(spark, t, after_id=0))
    # Bucket 0 untouched (carried by reference) — absent from the feed.
    assert got == {
        (2, "b", 1, "delete", 1),
        (3, "c", 1, "delete", 1),
        (2, "B", 1, "insert", 1),
    }


def test_read_changes_replay_reproduces_version(spark, tmp_path):
    """Applying the feed (deletes then inserts, per commit) on top of
    version ``after_id`` reproduces version ``until_id`` — the
    incremental-sync correctness contract."""
    from big_data_spark.io.snapshot import append_snapshot, read_changes

    t = str(tmp_path / "feed_replay")
    write_snapshot(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "k int, v string"
        ),
        t,
        0,
    )
    append_snapshot(
        spark.createDataFrame([(6, "v6"), (7, "v7")], "k int, v string"), t, 1
    )
    write_snapshot(  # drop evens, uppercase survivors
        spark.createDataFrame(
            [(i, f"V{i}") for i in range(8) if i % 2], "k int, v string"
        ),
        t,
        2,
    )
    state = _rows(read_snapshot(spark, t, as_of=0))
    feed = read_changes(spark, t, after_id=0).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid and r["_change_type"] == "delete"
        }
        state |= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid and r["_change_type"] == "insert"
        }
    assert state == _rows(read_snapshot(spark, t))


def test_read_changes_expired_after_id_raises(spark, tmp_path):
    from big_data_spark.io.snapshot import read_changes

    t = str(tmp_path / "feed_gone")
    for i in range(4):
        write_snapshot(
            spark.createDataFrame([(i,)], "k int"), t, snapshot_id=i
        )
    vacuum_snapshots(spark, t, keep_last=2)
    with pytest.raises(ValueError, match="expired by vacuum"):
        read_changes(spark, t, after_id=0)


def test_empty_committed_snapshot_reads_as_zero_rows(spark, tmp_path):
    """A writer that commits an empty table (empty first append, or
    an empty partitioned full write) publishes entries={} with a
    schema — readers must return zero rows with that schema, not
    refuse a snapshot the writer legitimately published."""
    from big_data_spark.io.snapshot import append_snapshot

    t = str(tmp_path / "empty_first")
    empty = spark.createDataFrame([], "k int, v string").withColumn(
        "k", F.col("k")
    )
    append_snapshot(empty, t, snapshot_id=0, partition_by="k")
    got = read_snapshot(spark, t)
    assert got.columns == ["k", "v"] and got.count() == 0
    # The table recovers normally once data lands.
    append_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        t,
        snapshot_id=1,
        partition_by="k",
    )
    assert _rows(read_snapshot(spark, t)) == {(1, "a")}


def test_follow_changes_cursor_loop(spark, tmp_path):
    """The durable-cursor consumer loop: first call reads since
    creation, commit() advances, an uncommitted read replays the
    same window, and a fresh table state yields only the new
    commits."""
    from big_data_spark.io.snapshot import append_snapshot, follow_changes

    t = str(tmp_path / "feed_follow")
    cur = str(tmp_path / "cursor")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t, 0
    )
    feed, commit = follow_changes(spark, t, cur)
    assert {r["k"] for r in feed.collect()} == {1}
    # Crash before commit: the same window replays.
    feed2, commit2 = follow_changes(spark, t, cur)
    assert {r["k"] for r in feed2.collect()} == {1}
    assert commit2() == 0
    # Fully consumed: nothing to do.
    assert follow_changes(spark, t, cur) == (None, None)
    append_snapshot(
        spark.createDataFrame([(2, "b")], "k int, v string"), t, 1
    )
    feed3, commit3 = follow_changes(spark, t, cur)
    rows = feed3.collect()
    assert {(r["k"], r["_change_type"], r["_commit_id"]) for r in rows} == {
        (2, "insert", 1)
    }
    assert commit3() == 1


def test_read_changes_pads_pre_evolution_generations(spark, tmp_path):
    """Additive schema evolution: the feed presents rows of
    pre-evolution generations NULL-padded in the commit's schema."""
    from big_data_spark.io.snapshot import append_snapshot, read_changes

    t = str(tmp_path / "feed_evo")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t, 0
    )
    append_snapshot(
        spark.createDataFrame(
            [(2, "b", 7.5)], "k int, v string, w double"
        ),
        t,
        1,
    )
    # Rewrite drops row 1: its delete row (from a pre-evolution
    # generation) must carry w = NULL, not fail the union.
    write_snapshot(
        spark.createDataFrame(
            [(2, "b", 7.5)], "k int, v string, w double"
        ),
        t,
        2,
    )
    got = _feed_rows(read_changes(spark, t, after_id=1))
    assert got == {
        (1, "a", None, "delete", 2),
        (2, "b", 7.5, "delete", 2),
        (2, "b", 7.5, "insert", 2),
    }


def test_delete_where_rewrites_only_affected_generations(
    spark, tmp_path
):
    """Copy-on-write DELETE: untouched generations carry forward
    byte-identical, matching generations are rewritten without the
    rows, the feed reports the rewrite, time travel keeps the
    pre-delete version, and a no-match delete is a no-op."""
    from big_data_spark.io.snapshot import (
        append_snapshot,
        delete_where,
        read_changes,
    )

    t = str(tmp_path / "del")
    for g in range(4):
        append_snapshot(
            spark.range(g * 100, (g + 1) * 100).selectExpr(
                "id AS k", "cast(id as string) AS v"
            ),
            t,
            snapshot_id=g,
        )
    gen1_files = sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/_data/s=1/*.parquet")
    )
    st = delete_where(spark, t, "k >= 250 AND k < 320")
    assert st == {
        "deleted_rows": 70,
        "rewritten": 2,
        "carried": 2,
        "snapshot_id": 4,
    }
    got = read_snapshot(spark, t)
    assert got.count() == 330
    assert got.where("k >= 250 AND k < 320").count() == 0
    # Untouched generation: byte-identical, carried by reference.
    assert sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/_data/s=1/*.parquet")
    ) == gen1_files
    assert "_data/s=1" in set(latest_manifest(spark, t)["entries"].values())
    # Pre-delete version intact; feed shows the rewrite as a real
    # content change (NOT maintenance).
    assert read_snapshot(spark, t, as_of=3).count() == 400
    feed = read_changes(spark, t, after_id=3)
    kinds = {
        (r["_change_type"],): r
        for r in feed.groupBy("_change_type").count().collect()
    }
    assert feed.where("_change_type = 'delete'").count() == 200
    assert feed.where("_change_type = 'insert'").count() == 130
    # No-match: no new snapshot.
    st2 = delete_where(spark, t, "k > 100000")
    assert st2["deleted_rows"] == 0 and st2["snapshot_id"] == 4


def test_delete_where_on_bucketed_table_and_emptied_generation(
    spark, tmp_path
):
    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "del_part")
    rows = [(i, f"v{i}", i % 3) for i in range(90)]
    write_snapshot_partial(
        spark.createDataFrame(rows, "k int, v string, _kb int"),
        t,
        0,
        "_kb",
        [0, 1, 2],
    )
    st = delete_where(spark, t, F.col("_kb") == 1)
    assert st["deleted_rows"] == 30
    got = read_snapshot(spark, t)
    assert got.count() == 60 and got.where("_kb = 1").count() == 0
    # The emptied partition dropped from the manifest entirely.
    assert set(latest_manifest(spark, t)["entries"].keys()) == {"0", "2"}
    # Delete everything that remains: table reads as empty w/ schema.
    delete_where(spark, t, F.lit(True))
    empty = read_snapshot(spark, t)
    assert empty.count() == 0 and empty.columns == ["k", "v", "_kb"]


def test_update_where_rewrites_only_affected_generations(
    spark, tmp_path
):
    """Copy-on-write UPDATE: matching rows transformed in place,
    untouched generations byte-identical, unknown SET columns
    refused."""
    from big_data_spark.io.snapshot import append_snapshot, update_where

    t = str(tmp_path / "upd")
    for g in range(3):
        append_snapshot(
            spark.range(g * 100, (g + 1) * 100).selectExpr(
                "id AS k", "cast(id as double) AS price"
            ),
            t,
            snapshot_id=g,
        )
    gen0_files = sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/_data/s=0/*.parquet")
    )
    st = update_where(
        spark, t, "k >= 150 AND k < 180", {"price": "price * 2"}
    )
    assert st["updated_rows"] == 30 and st["rewritten"] == 1
    got = read_snapshot(spark, t)
    assert got.count() == 300
    assert (
        got.where("k >= 150 AND k < 180")
        .where(F.col("price") != F.col("k") * 2)
        .count()
        == 0
    )
    assert got.where("k < 150 AND price != k").count() == 0
    assert sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/_data/s=0/*.parquet")
    ) == gen0_files
    assert read_snapshot(spark, t, as_of=2).where(
        "k = 160 AND price = 160.0"
    ).count() == 1  # time travel keeps the pre-update row
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, t, "k = 1", {"nope": "1"})


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE three-valued logic: rows where the predicate is
    NULL survive (a bare ~cond would silently drop them), and the
    reported count matches what actually left the table."""
    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "del_null")
    write_snapshot(
        spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y"), (4, None)],
            "k int, v string",
        ),
        t,
    )
    st = delete_where(spark, t, "v = 'x'")
    assert st["deleted_rows"] == 1
    got = _rows(read_snapshot(spark, t))
    assert got == {(2, None), (3, "y"), (4, None)}


def test_update_where_refuses_partition_column_set(spark, tmp_path):
    """SET on the bucket partition column would move rows between
    partitions, which a touched-partition rewrite cannot express —
    it must be refused, not silently clobber a carried partition."""
    from big_data_spark.io.snapshot import update_where

    t = str(tmp_path / "upd_pcol")
    write_snapshot_partial(
        _bucketed(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]),
        t,
        0,
        "_kb",
        [0, 1, 2],
    )
    with pytest.raises(ValueError, match="partition column"):
        update_where(spark, t, "k = 1", {"_kb": "2"})
    # Table untouched.
    assert _rows(read_snapshot(spark, t)) == {
        (1, "a", 0),
        (2, "b", 1),
        (3, "c", 2),
    }


def test_dml_on_evolved_table_pads_old_generations(spark, tmp_path):
    """DELETE/UPDATE referencing an additively-added column must work
    when the affected generations predate it (typed NULL pad, not a
    void column parquet refuses)."""
    from big_data_spark.io.snapshot import (
        append_snapshot,
        delete_where,
        update_where,
    )

    t = str(tmp_path / "dml_evo")
    append_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        t,
        0,
    )
    append_snapshot(
        spark.createDataFrame(
            [(3, "c", 9.0)], "k int, v string, w double"
        ),
        t,
        1,
    )
    # Predicate on the NEW column matching only OLD-generation rows.
    st = delete_where(spark, t, "w IS NULL AND k = 1")
    assert st["deleted_rows"] == 1
    assert _rows(read_snapshot(spark, t)) == {
        (2, "b", None),
        (3, "c", 9.0),
    }
    # UPDATE SET on the new column over an old-generation row.
    st = update_where(spark, t, "k = 2", {"w": "1.5"})
    assert st["updated_rows"] == 1
    assert _rows(read_snapshot(spark, t)) == {
        (2, "b", 1.5),
        (3, "c", 9.0),
    }


def test_follow_changes_cursor_is_monotonic_under_races(
    spark, tmp_path
):
    """A slow consumer instance committing an older window must not
    regress the cursor below a faster instance's commit."""
    from big_data_spark.io.snapshot import append_snapshot, follow_changes

    t = str(tmp_path / "feed_mono")
    cur = str(tmp_path / "cursor_mono")
    write_snapshot(
        spark.createDataFrame([(1,)], "k int"), t, 0
    )
    feed_old, commit_old = follow_changes(spark, t, cur)  # window (,0]
    append_snapshot(spark.createDataFrame([(2,)], "k int"), t, 1)
    feed_new, commit_new = follow_changes(spark, t, cur)  # window (,1]
    assert commit_new() == 1
    commit_old()  # stale instance commits AFTER — must not regress
    assert follow_changes(spark, t, cur) == (None, None)


def test_table_history_reports_commits(spark, tmp_path):
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import append_snapshot, table_history

    t = str(tmp_path / "hist")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t, 0
    )
    append_snapshot(
        spark.createDataFrame(
            [(2, "b", 1.5)], "k int, v string, w double"
        ),
        t,
        1,
    )
    compact_snapshot(spark, t)
    h = {r["snapshot_id"]: r for r in table_history(spark, t).collect()}
    assert set(h) == {0, 1, 2}
    assert h[0]["n_generations"] == 1 and not h[0]["maintenance"]
    assert h[1]["n_generations"] == 2
    assert h[1]["added_columns"] == ["w"]
    assert h[2]["maintenance"] and h[2]["n_generations"] == 1
    assert h[2]["added_columns"] == []


def test_follow_changes_prunes_superseded_cursor_files(spark, tmp_path):
    import glob as _glob

    from big_data_spark.io.snapshot import append_snapshot, follow_changes

    t = str(tmp_path / "feed_prune")
    cur = str(tmp_path / "cursor_prune")
    for i in range(7):
        append_snapshot(
            spark.createDataFrame([(i,)], "k int"), t, snapshot_id=i
        )
        feed, commit = follow_changes(spark, t, cur)
        assert {r["k"] for r in feed.collect()} == {i}
        commit()
    files = sorted(_glob.glob(f"{cur}/cursor-*.json"))
    assert len(files) <= 4  # short trail only
    assert files[-1].endswith("cursor-000000000006.json")
    assert follow_changes(spark, t, cur) == (None, None)


def test_constraint_gated_commit_composes(spark, tmp_path):
    """Table constraints = assert_suite between transform and
    commit: a failing batch raises BEFORE any manifest lands (the
    table stays on its previous snapshot), a passing batch commits
    normally — no new machinery, the DQ gate composes with the
    atomic writer."""
    from big_data_spark.io.snapshot import append_snapshot
    from big_data_spark.operators.dq import assert_suite, in_range, not_null

    t = str(tmp_path / "gated")
    suite = [not_null("k"), in_range("v", 0, 100)]
    good = spark.createDataFrame([(1, 50), (2, 99)], "k int, v int")
    write_snapshot(assert_suite(good, suite), t)
    bad = spark.createDataFrame([(3, 500), (None, 10)], "k int, v int")
    with pytest.raises(ValueError, match="data-quality gate failed"):
        append_snapshot(assert_suite(bad, suite), t)
    assert snapshot_ids(spark, t) == [0]
    assert _rows(read_snapshot(spark, t)) == {(1, 50), (2, 99)}


def test_sql_views_cover_history_and_changes(spark, tmp_path):
    """One SQL string can read the table, any version, its commit
    log, and its change feed — the whole lakehouse surface through
    the catalog door."""
    from big_data_spark.catalog import register_snapshot_views
    from big_data_spark.io.snapshot import append_snapshot

    t = str(tmp_path / "sqlviews")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t, 0
    )
    append_snapshot(
        spark.createDataFrame([(2, "b")], "k int, v string"), t, 1
    )
    names = register_snapshot_views(spark, t, "st")
    assert {"st", "st_v0", "st_v1", "st_history", "st_changes"} <= set(
        names
    )
    assert spark.sql("SELECT COUNT(*) n FROM st").first()["n"] == 2
    assert spark.sql("SELECT COUNT(*) n FROM st_v0").first()["n"] == 1
    h = spark.sql(
        "SELECT snapshot_id, maintenance FROM st_history ORDER BY 1"
    ).collect()
    assert [r["snapshot_id"] for r in h] == [0, 1]
    ch = spark.sql(
        "SELECT k, _change_type FROM st_changes WHERE _commit_id > 0"
    ).collect()
    assert {(r["k"], r["_change_type"]) for r in ch} == {(2, "insert")}


def test_range_hints_parser(spark):
    """_range_hints: sound bounds from conjunctive SQL text; OR/NOT
    or unparseable terms degrade safely (subset of conjuncts or
    None), never a wrong bound."""
    from big_data_spark.io.dml import _range_hints

    assert _range_hints(spark, "k >= 250 AND k < 320") == {
        "k": (250.0, 320.0)
    }
    assert _range_hints(spark, "(k >= 2) AND (v <= 7.5)") == {
        "k": (2.0, None),
        "v": (None, 7.5),
    }
    # String equality hints too (typed skipping).
    assert _range_hints(
        spark, "k BETWEEN 5 AND 9 AND status = 'X'"
    ) == {
        "k": (5.0, 9.0),
        "status": ("X", "X"),
    }
    assert _range_hints(spark, "k = 42") == {"k": (42.0, 42.0)}
    # Tighter of two bounds on one column wins.
    assert _range_hints(
        spark, "k >= 10 AND k >= 20 AND k <= 90 AND k <= 80"
    ) == {"k": (20.0, 80.0)}
    # OR / NOT disable hinting wholesale.
    assert _range_hints(spark, "k >= 250 OR k < 10") is None
    assert _range_hints(spark, "NOT (k >= 250)") is None
    # Function-wrapped or genuinely non-range conditions contribute
    # nothing (string equality DOES hint).
    assert _range_hints(spark, "status = 'X'") == {"status": ("X", "X")}
    assert _range_hints(spark, "upper(who) = 'A'") is None
    # A keyword inside a string literal is data, not syntax: both
    # conjuncts hint.
    assert _range_hints(spark, "status = 'NOT SHIPPED' AND k >= 5") == {
        "status": ("NOT SHIPPED", "NOT SHIPPED"),
        "k": (5.0, None),
    }


def test_dml_reads_literals_as_spark_does(spark, tmp_path):
    """Backslash escapes in a DML condition mean what Spark's lexer
    says: DELETE and UPDATE touch exactly the rows the same condition
    matches in a plain filter (the hints never narrow the count)."""
    from big_data_spark.io.snapshot import (
        append_snapshot,
        delete_where,
        update_where,
    )

    names = ["x\\y", "x\\y", "xy", "xy", "xy", "x\\\\y", "z"]
    df = spark.createDataFrame(list(enumerate(names)), "k bigint, name string")
    # SQL 'x\\y' is the value x\y; in SQL 'x\y' the unknown escape
    # drops its backslash, giving xy.
    t = str(tmp_path / "del")
    append_snapshot(df, t)
    cond = r"name = 'x\\y'"
    assert read_snapshot(spark, t).where(cond).count() == 2
    assert delete_where(spark, t, cond)["deleted_rows"] == 2
    assert read_snapshot(spark, t).count() == 5
    t = str(tmp_path / "upd")
    append_snapshot(df, t)
    cond = r"name = 'x\y'"
    assert read_snapshot(spark, t).where(cond).count() == 3
    st = update_where(spark, t, cond, {"k": "k + 100"})
    assert st["updated_rows"] == 3
    assert read_snapshot(spark, t).where("k >= 100").count() == 3


def test_delete_where_prunes_files_with_identical_result(
    spark, tmp_path, monkeypatch
):
    """Directive: the DML counting scan composes with data skipping —
    a range DELETE on a clustered layout opens FEWER files (now
    decided from MANIFEST stats: zero footer opens — round 11), while
    the committed result matches the unpruned path row for row."""
    import big_data_spark.io.stats as stats_mod
    from big_data_spark.io import dml
    from big_data_spark.io.snapshot import append_snapshot, delete_where

    def build(tag):
        t = str(tmp_path / tag)
        for g in range(4):  # one tight k-range per generation
            append_snapshot(
                spark.range(g * 100, (g + 1) * 100).selectExpr(
                    "id AS k", "cast(id as string) AS v"
                ),
                t,
                snapshot_id=g,
            )
        return t

    scanned = []
    real_read = dml.read_entries

    def spy_read(spark_, td, entries, **kw):
        out = real_read(spark_, td, entries, **kw)
        if kw.get("predicate"):
            scanned.append(sorted(out.inputFiles()))
        return out

    def no_footers(*a, **k):  # stats-bearing table: footer sweep banned
        raise AssertionError("footer sweep ran despite manifest stats")

    monkeypatch.setattr(dml, "read_entries", spy_read)
    monkeypatch.setattr(stats_mod, "prune_files_multi", no_footers)
    t_pruned = build("prune_on")
    st1 = delete_where(spark, t_pruned, "k >= 250 AND k < 320")
    monkeypatch.undo()

    assert scanned, "counting scan must go through the pruning path"
    full = read_snapshot(spark, t_pruned, as_of=3)
    assert len(scanned[0]) < len(full.inputFiles()), (
        "a clustered range DELETE must skip files"
    )

    # Hints off -> identical table state and stats.
    monkeypatch.setattr(dml, "_range_hints", lambda *a: None)
    t_plain = build("prune_off")
    st2 = delete_where(spark, t_plain, "k >= 250 AND k < 320")
    monkeypatch.undo()
    assert {k: v for k, v in st1.items()} == {k: v for k, v in st2.items()}
    a = sorted(map(tuple, read_snapshot(spark, t_pruned).collect()))
    b = sorted(map(tuple, read_snapshot(spark, t_plain).collect()))
    assert a == b and len(a) == 330


# ----------------------------------------------- on-disk format version


def _strip_format_version(table_dir, sid, key="format_version"):
    import json

    path = f"{table_dir}/_manifests/manifest-{sid:012d}.json"
    with open(path) as fh:
        man = json.load(fh)
    del man[key]
    with open(path, "w") as fh:
        json.dump(man, fh, sort_keys=True)
    crc = f"{table_dir}/_manifests/.manifest-{sid:012d}.json.crc"
    if os.path.exists(crc):
        os.remove(crc)


def test_unstamped_manifest_refused_on_serial_and_bulk_reads(
    spark, tmp_path
):
    """A manifest without the format stamp fails with ONE message
    naming the table and the recovery — through the serial manifest
    read and through the bulk scan that takes over past the
    threshold."""
    import re

    from big_data_spark.io import layout
    from big_data_spark.io.snapshot import table_history

    t = str(tmp_path / "unstamped")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    _strip_format_version(t, 0)
    msg = rf"^{re.escape(repr(t))} has on-disk format version None, .*rebuild it from source$"
    with pytest.raises(ValueError, match=msg):
        read_snapshot(spark, t)

    t2 = str(tmp_path / "unstamped_bulk")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t2)
    man = latest_manifest(spark, t2)
    n = layout._BULK_MANIFEST_THRESHOLD + 1
    for sid in range(1, n):
        commit_manifest(spark, t2, successor(man, sid, man["entries"]))
    assert len(snapshot_ids(spark, t2)) == n
    table_history(spark, t2)  # every manifest stamped: reads fine
    _strip_format_version(t2, n // 2)
    msg2 = rf"^{re.escape(repr(t2))} has on-disk format version None, .*rebuild it from source$"
    with pytest.raises(ValueError, match=msg2):
        table_history(spark, t2)


def test_schemaless_manifest_refused_on_serial_and_bulk_reads(
    spark, tmp_path
):
    """Every commit records a schema, so a v1 manifest without one was
    not written by this engine: both manifest parsers refuse it with
    one message naming the table and the recovery."""
    import re

    from big_data_spark.io import layout
    from big_data_spark.io.snapshot import table_history

    t = str(tmp_path / "schemaless")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    _strip_format_version(t, 0, key="schema")
    msg = rf"^{re.escape(repr(t))} manifest 0 has no committed schema .*rebuild it from source$"
    with pytest.raises(ValueError, match=msg):
        read_snapshot(spark, t)

    t2 = str(tmp_path / "schemaless_bulk")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t2)
    man = latest_manifest(spark, t2)
    n = layout._BULK_MANIFEST_THRESHOLD + 1
    for sid in range(1, n):
        commit_manifest(spark, t2, successor(man, sid, man["entries"]))
    _strip_format_version(t2, n // 2, key="schema")
    with pytest.raises(ValueError, match="has no committed schema"):
        table_history(spark, t2)


def test_entry_outside_generation_layout_refused(spark, tmp_path):
    """Every writer points each manifest entry into its own
    `_data/s=<id>` generation, so a manifest with an entry elsewhere
    was not written by this engine: reading it refuses with one
    message naming the table, the entry and the recovery."""
    import json
    import re

    t = str(tmp_path / "offlayout")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    path = f"{t}/_manifests/manifest-{0:012d}.json"
    with open(path) as fh:
        man = json.load(fh)
    man["entries"] = {"": "part-0.parquet"}
    with open(path, "w") as fh:
        json.dump(man, fh, sort_keys=True)
    crc = f"{t}/_manifests/.manifest-{0:012d}.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    msg = (
        rf"^{re.escape(repr(t))} manifest 0 entry 'part-0.parquet' lies "
        r"outside the _data/s=<id> layout — rebuild it from source$"
    )
    with pytest.raises(ValueError, match=msg):
        read_snapshot(spark, t)


def test_successor_carries_table_state_but_not_commit_keys():
    """The one carry-forward rule: table-state keys inherit unless
    named, per-commit keys never do, and an unknown key is refused."""
    prev = {
        "format_version": 1,
        "snapshot_id": 4,
        "entries": {"": "_data/s=4"},
        "partition_col": None,
        "schema": [{"name": "k", "type": "bigint"}],
        "layout_by": "b",
        "maintenance": True,
        "deletes": ["_deletes/d=3", "_deletes/d=2"],
        "rename_log": [[3, "rename", "a", "k"]],
        "cdf": "_cdf/c=4",
        "stats": None,
        "committed_at_ms": 7,
    }
    nxt = successor(prev, 5, {"b5": "_data/s=5"})
    assert nxt == {
        "snapshot_id": 5,
        "entries": {"b5": "_data/s=5"},
        "partition_col": None,
        "schema": prev["schema"],
        "layout_by": "b",
        "deletes": ["_deletes/d=2", "_deletes/d=3"],
        "rename_log": prev["rename_log"],
        "maintenance": False,
        "cdf": None,
    }
    cleared = successor(
        prev, 5, {}, deletes=[], layout_by=None, maintenance=True
    )
    assert (cleared["deletes"], cleared["layout_by"]) == ([], None)
    assert cleared["maintenance"] is True
    assert cleared["rename_log"] == prev["rename_log"]
    first = successor(None, 0, {}, schema=[])
    assert (first["deletes"], first["rename_log"]) == ([], [])
    assert first["partition_col"] is None and first["layout_by"] is None
    with pytest.raises(TypeError, match="not manifest keys"):
        successor(prev, 5, {}, stats=None)


def test_zero_column_frame_commits_nothing(spark, tmp_path):
    """A zero-column DataFrame cannot be written as parquet: the write
    fails before any manifest exists, so no schema-less (``[]``)
    commit can reach disk."""
    t = str(tmp_path / "nocols")
    with pytest.raises(Exception, match="(?i)empty|schema"):
        write_snapshot(spark.range(3).select(), t)
    assert snapshot_ids(spark, t) == []


def test_snapshot_module_keeps_its_public_names():
    """``big_data_spark.io.snapshot`` re-exports every public name it
    defined before the table format was split into modules (plus
    ``hadoop_fs``, which callers imported through it), except
    ``clear_generation``: the delete-then-write publish it served is
    gone, every writer stages and claims."""
    import big_data_spark.io.snapshot as snap

    frozen = [
        "FORMAT_VERSION", "SnapshotConflict", "abandon_staged",
        "analyze_table", "append_snapshot", "append_with_retry",
        "bare_path", "check_schema_evolution", "commit_manifest",
        "consolidate_stats", "delete_tag",
        "delete_where", "entry_partition_values", "evolve_schema",
        "fold_deletes", "follow_changes", "format_version_error",
        "generation_dir", "hadoop_fs", "latest_manifest", "list_tags",
        "load_generation_stats", "metadata_aggregate",
        "metadata_group_aggregate", "partition_entry_key",
        "publish_staged", "read_changes", "read_delete_positions",
        "read_entries", "read_manifest", "read_snapshot", "read_staged",
        "repartition_table", "resolve_as_of_ts", "rollback_snapshot",
        "select_partition_entries", "show_partitions", "snapshot_ids",
        "stage_snapshot", "table_detail", "table_history",
        "tag_snapshot", "update_where", "vacuum_snapshots",
        "write_snapshot", "write_snapshot_partial",
    ]
    assert len(frozen) == 46
    missing = [n for n in frozen if not hasattr(snap, n)]
    assert missing == []


def test_catalog_binding_of_another_version_refused(spark, tmp_path):
    import json
    import re

    from big_data_spark.catalog import SnapshotCatalog

    base = str(tmp_path / "wh")
    t = str(tmp_path / "bound")
    write_snapshot(spark.range(3).selectExpr("id AS k"), t)
    cat = SnapshotCatalog(spark, base_dir=base)
    cat.register("bound_t", t, persist=True)
    SnapshotCatalog(spark, base_dir=base)  # current binding loads
    path = f"{base}/_catalog/bound_t.json"
    with open(path, "w") as fh:
        json.dump({"v": 1, "name": "bound_t", "dir": t}, fh)
    crc = f"{base}/_catalog/.bound_t.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    msg = rf"^{re.escape(repr(base + '/_catalog'))} has on-disk format version 1, .*rebuild it from source$"
    with pytest.raises(ValueError, match=msg):
        SnapshotCatalog(spark, base_dir=base)


def test_every_writer_stamps_the_format_version(spark, tmp_path):
    """Each manifest a table's lifecycle leaves on disk carries the
    stamp: write, append, COW and MOR delete, update, MERGE, compact,
    evolve_schema and rollback."""
    import json

    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        FORMAT_VERSION,
        append_snapshot,
        delete_where,
        evolve_schema,
        rollback_snapshot,
        update_where,
    )
    from big_data_spark.operators.merge import merge_snapshot

    t = str(tmp_path / "life")
    rows = "k long, v long"
    steps = [
        lambda: write_snapshot(
            spark.createDataFrame([(i, i) for i in range(10)], rows), t
        ),
        lambda: append_snapshot(
            spark.createDataFrame([(10, 10), (11, 11)], rows), t
        ),
        lambda: delete_where(spark, t, "k < 2"),
        lambda: delete_where(spark, t, "k = 5", mode="mor"),
        lambda: update_where(spark, t, "k = 6", {"v": "v + 100"}),
        lambda: compact_snapshot(spark, t),
        lambda: merge_snapshot(
            spark, t, spark.createDataFrame([(7, 70), (20, 20)], rows), ["k"]
        ),
        lambda: evolve_schema(spark, t, renames={"v": "val"}),
        lambda: rollback_snapshot(spark, t, 1),
    ]
    for i, step in enumerate(steps):
        step()
        assert snapshot_ids(spark, t) == list(range(i + 1)), i
    mdir = f"{t}/_manifests"
    for sid in range(len(steps)):
        with open(f"{mdir}/manifest-{sid:012d}.json") as fh:
            assert json.load(fh)["format_version"] == FORMAT_VERSION, sid


def test_replace_recommit_carries_original_timestamp(spark, tmp_path):
    """A crash-replayed write of an already-committed id keeps the
    ORIGINAL committed_at_ms: re-stamping with the wall clock would
    put manifest N's timestamp above its successor's and make
    as_of_ts time travel resolve the wrong version."""
    t = str(tmp_path / "replay_ts")
    df = spark.range(10).selectExpr("id AS k")
    append_snapshot(df, t, snapshot_id=0)
    ts0 = read_manifest(spark, t, 0)["committed_at_ms"]
    append_snapshot(spark.range(5).selectExpr("id AS k"), t, snapshot_id=1)
    ts1 = read_manifest(spark, t, 1)["committed_at_ms"]
    # The replay of batch 0 (deterministic, same inputs).
    append_snapshot(df, t, snapshot_id=0, replace=True)
    assert read_manifest(spark, t, 0)["committed_at_ms"] == ts0
    assert read_manifest(spark, t, 1)["committed_at_ms"] == ts1
    assert resolve_as_of_ts(spark, t, ts0) == 0
    assert resolve_as_of_ts(spark, t, ts1) == 1


def test_dml_attribution_with_aliasing_partition_values(spark, tmp_path):
    """Partition value 'a:b'
    URI-encodes in scan provenance to exactly the RAW hive-escaped
    dir of sibling value 'a%3Ab' — raw-first matching attributed the
    file to the wrong partition and COW DML rewrote the wrong one.
    Unquoted-first, full-pass matching resolves both correctly."""
    from big_data_spark.io.snapshot import (
        delete_where,
        fold_deletes,
        write_snapshot_partial,
    )

    t = str(tmp_path / "alias")
    df = spark.createDataFrame(
        [(1, "a:b", 1.0), (2, "a%3Ab", 2.0)],
        "k long, part string, v double",
    )
    write_snapshot_partial(df, t, 0, "part", ["a:b", "a%3Ab"])
    st = delete_where(spark, t, "k = 1")  # lives in partition 'a:b'
    assert st["deleted_rows"] == 1
    got = {
        (r["k"], r["part"]) for r in read_snapshot(spark, t).collect()
    }
    assert got == {(2, "a%3Ab")}
    # MOR + fold across the same aliasing pair.
    st = delete_where(spark, t, "k = 2", mode="mor")
    assert st["deleted_rows"] == 1
    assert read_snapshot(spark, t).count() == 0
    folded = fold_deletes(spark, t)
    assert folded["rewritten"] == 1  # only the truly-masked partition
    assert read_snapshot(spark, t).count() == 0
