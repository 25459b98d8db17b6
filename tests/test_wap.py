"""Write-audit-publish (round 9): a staged batch is invisible until
its audit passes, publish is one atomic claim+commit of the EXACT
audited bytes, and failed audits abandon cleanly."""

from __future__ import annotations

import glob
import os
import time

import pytest

from big_data_spark.io import table_writes
from big_data_spark.io.snapshot import (
    SnapshotConflict,
    abandon_staged,
    append_snapshot,
    publish_staged,
    read_manifest,
    read_snapshot,
    read_staged,
    stage_snapshot,
    vacuum_snapshots,
    write_snapshot_partial,
)
from big_data_spark.operators.dq import assert_suite, in_range, not_null


def _base(spark, t):
    append_snapshot(
        spark.range(100).selectExpr("id AS k", "cast(id as double) AS v"),
        t,
        snapshot_id=0,
    )


def test_wap_full_loop(spark, tmp_path):
    t = str(tmp_path / "wap")
    _base(spark, t)
    batch = spark.range(100, 150).selectExpr(
        "id AS k", "cast(id as double) AS v"
    )
    token = stage_snapshot(batch, t)
    # Invisible while staged.
    assert read_snapshot(spark, t).count() == 100
    staged = read_staged(spark, t, token)
    # The audit: dq suite over the staged frame.
    assert_suite(staged, [not_null("k"), in_range("v", 0.0, 1000.0)])
    audited_files = sorted(glob.glob(f"{t}/_staging/{token}/*.parquet"))
    sid = publish_staged(spark, t, token)
    assert sid == 1
    got = read_snapshot(spark, t)
    assert got.count() == 150
    # The published bytes ARE the audited bytes (renamed, not
    # rewritten): same file names under the generation dir.
    published = sorted(glob.glob(f"{t}/_data/s=1/*.parquet"))
    assert [p.split("/")[-1] for p in published] == [
        p.split("/")[-1] for p in audited_files
    ]
    # Token consumed.
    with pytest.raises(ValueError, match="no staged batch"):
        read_staged(spark, t, token)


def test_wap_failed_audit_abandons(spark, tmp_path):
    t = str(tmp_path / "wap_fail")
    _base(spark, t)
    bad = spark.createDataFrame([(200, None)], "k long, v double")
    token = stage_snapshot(bad, t)
    with pytest.raises(ValueError, match="not_null"):
        assert_suite(read_staged(spark, t, token), [not_null("v")])
    abandon_staged(spark, t, token)
    assert read_snapshot(spark, t).count() == 100
    with pytest.raises(ValueError, match="no staged batch"):
        publish_staged(spark, t, token)
    # Crash residue (never abandoned) falls to vacuum's staging TTL.
    token2 = stage_snapshot(bad, t)
    res = vacuum_snapshots(spark, t, keep_last=2, staging_ttl_hours=0.0)
    assert token2 in res["removed_staging"]


def test_wap_replace_mode_and_schema_gate(spark, tmp_path):
    t = str(tmp_path / "wap_rep")
    _base(spark, t)
    token = stage_snapshot(
        spark.range(5).selectExpr("id AS k", "cast(1.0 as double) AS v"), t
    )
    sid = publish_staged(spark, t, token, mode="replace")
    got = read_snapshot(spark, t)
    assert got.count() == 5
    assert read_snapshot(spark, t, as_of=0).count() == 100
    # Staging an incompatible batch fails BEFORE any audit work.
    with pytest.raises(ValueError, match="additive"):
        stage_snapshot(spark.range(3).selectExpr("id AS wrong"), t)
    with pytest.raises(ValueError, match="mode must be"):
        publish_staged(spark, t, "zzz", mode="merge")


def test_wap_publish_rebases_past_interloper(spark, tmp_path):
    t = str(tmp_path / "wap_race")
    _base(spark, t)
    token = stage_snapshot(
        spark.range(100, 120).selectExpr(
            "id AS k", "cast(id as double) AS v"
        ),
        t,
    )
    # An appender lands while the audit runs.
    append_snapshot(
        spark.range(500, 510).selectExpr(
            "id AS k", "cast(id as double) AS v"
        ),
        t,
        snapshot_id=1,
    )
    sid = publish_staged(spark, t, token)
    assert sid == 2
    assert read_snapshot(spark, t).count() == 130


def test_wap_publish_records_staged_layout(spark, tmp_path):
    """Code-review round 9: a hive-partitioned staged batch must
    commit its layout_by — otherwise DML range hints on the layout
    column crash the footer sweep (the column lives in dir names)
    and maintenance silently rewrites the table unpartitioned."""
    from big_data_spark.io.snapshot import delete_where, latest_manifest

    t = str(tmp_path / "wap_layout")
    token = stage_snapshot(
        spark.range(100).selectExpr(
            "id AS k", "cast(id % 4 as int) AS g"
        ),
        t,
        partition_by="g",
    )
    publish_staged(spark, t, token)
    man = latest_manifest(spark, t)
    assert man["layout_by"] == "g"
    # The crash case: a range hint on the layout column must be
    # skipped (dir-name column), not swept.
    st = delete_where(spark, t, "g >= 2 AND g <= 2")
    assert st["deleted_rows"] == 25
    assert read_snapshot(spark, t).count() == 75
    # A replace with an unpartitioned batch clears the layout.
    token = stage_snapshot(spark.range(5).selectExpr("id AS k", "cast(0 as int) AS g"), t)
    publish_staged(spark, t, token, mode="replace")
    assert latest_manifest(spark, t)["layout_by"] is None


def test_mixed_layout_append_refused(spark, tmp_path):
    """A single layout_by cannot represent a mixed-layout table:
    appending a batch partitioned on a DIFFERENT column than the
    declared layout is refused across every append path."""
    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "mixlay")
    base_expr = [
        "cast(id as int) AS k",
        "cast(id % 2 as int) AS h",
        "cast(id % 3 as int) AS g",
    ]
    token = stage_snapshot(
        spark.range(20).selectExpr(*base_expr), t, partition_by="h"
    )
    publish_staged(spark, t, token)
    bad = spark.range(20, 40).selectExpr(*base_expr)
    token = stage_snapshot(bad, t, partition_by="g")
    with pytest.raises(ValueError, match="mixed-layout"):
        publish_staged(spark, t, token)
    with pytest.raises(ValueError, match="mixed-layout"):
        append_with_retry(bad, t, partition_by="g")
    with pytest.raises(ValueError, match="mixed-layout"):
        append_snapshot(bad, t, partition_by="g")
    # A same-layout append still lands.
    append_with_retry(bad, t, partition_by="h")
    assert read_snapshot(spark, t).count() == 40


def test_plain_append_onto_laid_out_table_refused(spark, tmp_path):
    """A plain append onto a table laid out on ``d`` would store ``d``
    as a data column in its generation, while the per-generation read
    schema declares it a dir-valued string: every read of ``d`` and
    compaction then failed on the type mismatch. All three append
    paths refuse it up front (so does a laid-out append onto a plain
    table), and the table still reads ``d`` and compacts."""
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import append_with_retry

    df = spark.createDataFrame([(1, 10), (2, 20)], "d int, v int")
    t = str(tmp_path / "laid_out")
    append_snapshot(df, t, partition_by="d")
    with pytest.raises(ValueError, match="mixed-layout"):
        append_snapshot(df, t)
    with pytest.raises(ValueError, match="mixed-layout"):
        append_with_retry(df, t)
    token = stage_snapshot(df, t)
    with pytest.raises(ValueError, match="mixed-layout"):
        publish_staged(spark, t, token)
    assert sorted(r["d"] for r in read_snapshot(spark, t).collect()) == [1, 2]
    compact_snapshot(spark, t)
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == [
        (1, 10),
        (2, 20),
    ]
    plain = str(tmp_path / "plain")
    append_snapshot(df, plain)
    with pytest.raises(ValueError, match="mixed-layout"):
        append_snapshot(df, plain, partition_by="d")


# ---- Partitioned-table WAP (round 10, verdict directive #1) ----


def _part_base(spark, t):
    from big_data_spark.io.snapshot import write_snapshot_partial

    df = spark.createDataFrame(
        [
            (k, d, float(k) * 10.0)
            for d in ("d1", "d2", "d3")
            for k in range(5)
        ],
        "k long, day string, v double",
    )
    write_snapshot_partial(df, t, 0, "day", ["d1", "d2", "d3"])


def test_wap_partitioned_publish_replaces_touched_partitions(
    spark, tmp_path
):
    """Staged batch = full new content of the touched partitions;
    publish is ONE atomic commit: touched partitions replaced,
    untouched carried by reference, new partitions appear — and the
    audited bytes ARE the published bytes, per partition."""
    import glob

    from big_data_spark.io.snapshot import latest_manifest

    t = str(tmp_path / "wap_part")
    _part_base(spark, t)
    batch = spark.createDataFrame(
        [(100, "d2", 999.0), (101, "d2", 998.0), (7, "d4:x", 70.0)],
        "k long, day string, v double",
    )
    token = stage_snapshot(batch, t)  # auto-partitions on 'day'
    assert read_snapshot(spark, t).count() == 15  # invisible while staged
    staged = read_staged(spark, t, token)
    assert staged.count() == 3 and "day" in staged.columns
    audited = sorted(
        p.split("/")[-1]
        for p in glob.glob(f"{t}/_staging/{token}/day=d2/*.parquet")
    )
    sid = publish_staged(spark, t, token)
    assert sid == 1
    got = read_snapshot(spark, t)
    assert got.count() == 5 + 2 + 5 + 1  # d1 + new d2 + d3 + new d4:x
    assert got.where("day = 'd2'").count() == 2
    assert {r["k"] for r in got.where("day = 'd2'").collect()} == {100, 101}
    assert got.where("day = 'd1'").count() == 5  # untouched, carried
    # Hive-escaped key round-trips through the manifest.
    assert got.where("day = 'd4:x'").count() == 1
    man = latest_manifest(spark, t)
    assert man["partition_col"] == "day"
    assert man["entries"]["d1"].startswith("_data/s=0/")
    assert man["entries"]["d2"].startswith("_data/s=1/")
    assert man["entries"]["d4:x"].startswith("_data/s=1/")
    # Byte identity per touched partition: same file names, renamed.
    published = sorted(
        p.split("/")[-1] for p in glob.glob(f"{t}/_data/s=1/day=d2/*.parquet")
    )
    assert published == audited
    with pytest.raises(ValueError, match="no staged batch"):
        read_staged(spark, t, token)


def test_wap_partitioned_failed_audit_abandons(spark, tmp_path):
    from big_data_spark.operators.dq import assert_suite, not_null

    t = str(tmp_path / "wap_part_fail")
    _part_base(spark, t)
    bad = spark.createDataFrame(
        [(200, "d1", None)], "k long, day string, v double"
    )
    token = stage_snapshot(bad, t)
    with pytest.raises(ValueError, match="not_null"):
        assert_suite(read_staged(spark, t, token), [not_null("v")])
    abandon_staged(spark, t, token)
    assert read_snapshot(spark, t).where("day = 'd1'").count() == 5


def test_wap_partitioned_publish_rebases_past_interloper(spark, tmp_path):
    """A partial write landing between stage and publish: the publish
    rebases onto it — its partition survives, the staged partitions
    land at the next id."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "wap_part_race")
    _part_base(spark, t)
    batch = spark.createDataFrame(
        [(100, "d2", 999.0)], "k long, day string, v double"
    )
    token = stage_snapshot(batch, t)
    interloper = spark.createDataFrame(
        [(50, "d1", 1.0)], "k long, day string, v double"
    )
    write_snapshot_partial(interloper, t, 1, "day", ["d1"])
    sid = publish_staged(spark, t, token)
    assert sid == 2
    got = read_snapshot(spark, t)
    assert got.where("day = 'd1'").count() == 1  # interloper's rewrite
    assert got.where("day = 'd2'").count() == 1  # staged batch
    assert got.where("day = 'd3'").count() == 5  # carried throughout


def test_wap_partitioned_replace_mode(spark, tmp_path):
    t = str(tmp_path / "wap_part_rep")
    _part_base(spark, t)
    batch = spark.createDataFrame(
        [(1, "d9", 9.0)], "k long, day string, v double"
    )
    token = stage_snapshot(batch, t)
    publish_staged(spark, t, token, mode="replace")
    got = read_snapshot(spark, t)
    assert got.count() == 1
    assert got.collect()[0]["day"] == "d9"


def test_wap_partitioned_refusals(spark, tmp_path):
    """Wrong staging layout and whole-generation appends stay loudly
    refused on partitioned tables."""
    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "wap_part_refuse")
    _part_base(spark, t)
    df = spark.createDataFrame(
        [(1, "d1", 1.0)], "k long, day string, v double"
    )
    with pytest.raises(ValueError, match=r"partitioned on \['day'\]"):
        stage_snapshot(df, t, partition_by="k")
    with pytest.raises(ValueError, match="partitioned on"):
        append_with_retry(df, t)
    with pytest.raises(ValueError, match="null partition keys"):
        stage_snapshot(
            spark.createDataFrame(
                [(1, None, 1.0)], "k long, day string, v double"
            ),
            t,
        )
    # The refused batch left no staging residue behind.
    import glob

    assert glob.glob(f"{t}/_staging/*/day=__HIVE_DEFAULT_PARTITION__") == []


def test_staged_batch_without_schema_file_asks_to_restage(
    spark, tmp_path
):
    """stage_snapshot writes ``_schema.json`` before it returns the
    token; a staged dir without it is refused by both the audit read
    and the publish — never re-inferred (re-inference would commit a
    schema the writer never had)."""
    import os

    t = str(tmp_path / "nosidecar")
    _base(spark, t)
    token = stage_snapshot(
        spark.range(100, 110).selectExpr(
            "id AS k", "cast(id as double) AS v"
        ),
        t,
    )
    os.remove(f"{t}/_staging/{token}/_schema.json")
    crc = f"{t}/_staging/{token}/._schema.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    msg = rf"staged batch {token!r} .*re-stage it"
    with pytest.raises(ValueError, match=msg):
        read_staged(spark, t, token)
    with pytest.raises(ValueError, match=msg):
        publish_staged(spark, t, token)
    assert read_snapshot(spark, t).count() == 100


def test_long_staged_wap_claim_survives_concurrent_vacuum(
    spark, tmp_path, monkeypatch
):
    """A WAP batch staged LONGER AGO than vacuum's staging TTL (heavy
    audits are blessed) is renamed into _data/s=<id> at publish;
    rename preserves mtime, so without the claim-time stamp a vacuum
    racing the claim->commit window saw a 'stale' above-newest dir
    and deleted the just-claimed data."""
    t = str(tmp_path / "stale_claim")
    append_snapshot(
        spark.range(100).selectExpr("id AS k"), t, snapshot_id=0
    )
    token = stage_snapshot(spark.range(100, 150).selectExpr("id AS k"), t)
    # The audit took two days (mtime of the staged dir is ancient).
    old = time.time() - 2 * 24 * 3600
    os.utime(f"{t}/_staging/{token}", (old, old))

    real_commit = table_writes.commit_manifest
    ran = {"vacuum": None}

    def commit_with_racing_vacuum(*args, **kwargs):
        # A vacuum lands exactly inside the claim->commit window.
        if ran["vacuum"] is None:
            ran["vacuum"] = vacuum_snapshots(
                spark, t, keep_last=2, staging_ttl_hours=24.0
            )
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(
        table_writes, "commit_manifest", commit_with_racing_vacuum
    )
    sid = publish_staged(spark, t, token)
    assert sid == 1
    # The claimed generation survived the racing vacuum (the claim
    # stamped its own time) and the published table is intact.
    assert ran["vacuum"]["removed_generations"] == []
    assert read_snapshot(spark, t).count() == 150


def test_read_staged_keeps_numeric_looking_string_partition_keys(
    spark, tmp_path
):
    """'00123' staged on a string partition column must audit as
    '00123' — inference-then-cast-back yielded '123', diverging from
    the raw dir value publish keys the manifest on."""
    t = str(tmp_path / "numkeys")
    base = spark.createDataFrame(
        [("00123", 1), ("1e5", 2)], "part string, v int"
    )
    write_snapshot_partial(
        base, t, 0, "part", touched_keys=["00123", "1e5"]
    )
    token = stage_snapshot(
        spark.createDataFrame([("00123", 3)], "part string, v int"), t
    )
    audited = read_staged(spark, t, token)
    assert audited.schema["part"].dataType.simpleString() == "string"
    assert [r["part"] for r in audited.collect()] == ["00123"]
    publish_staged(spark, t, token, mode="append")
    man = read_manifest(spark, t, 1)
    # The audited value IS the published manifest key.
    assert "00123" in man["entries"]
    # Partitioned WAP append REPLACES the touched partition ('00123'
    # now holds exactly the staged batch) and carries '1e5' forward —
    # and both keys read back VERBATIM (no inference mangling).
    got = read_snapshot(spark, t)
    assert sorted(
        (r["part"], r["v"]) for r in got.collect()
    ) == [("00123", 3), ("1e5", 2)]
    assert [
        r["v"] for r in got.where("part = '00123'").collect()
    ] == [3]
