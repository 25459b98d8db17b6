"""Row-level change feed for UPDATE/DELETE commits (round 10,
verdict directive #2): an opt-in ``row_cdf=True`` records the matched
rows' pre/post images in a ``_cdf/c=<id>`` sidecar, so read_changes
reports ``update_preimage``/``update_postimage`` (or exact ``delete``)
rows instead of the file-level whole-generation delete+insert — and
feed replay still reproduces any version."""

from __future__ import annotations

import pytest

from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    read_changes,
    read_manifest,
    read_snapshot,
    update_where,
    vacuum_snapshots,
    write_snapshot,
    write_snapshot_partial,
)


def _build(spark, t, gens=3):
    for g in range(gens):
        append_snapshot(
            spark.createDataFrame(
                [(g * 10 + i, float(g * 10 + i)) for i in range(10)],
                "k long, v double",
            ),
            t,
            snapshot_id=g,
        )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_update_row_cdf_emits_pre_post_images(spark, tmp_path):
    t = str(tmp_path / "cdf_upd")
    _build(spark, t)
    st = update_where(
        spark, t, "k % 10 = 3", {"v": "v * 100"}, row_cdf=True
    )
    assert st["updated_rows"] == 3 and st["snapshot_id"] == 3
    assert read_manifest(spark, t, 3)["cdf"] == "_cdf/c=3"
    feed = read_changes(spark, t, after_id=2)
    rows = feed.collect()
    # EXACTLY the matched rows, twice — never the carried rows of the
    # rewritten generations (the file-level diff would report all 30).
    assert len(rows) == 6
    kinds = {r["_change_type"] for r in rows}
    assert kinds == {"update_preimage", "update_postimage"}
    pre = {
        (r["k"], r["v"])
        for r in rows
        if r["_change_type"] == "update_preimage"
    }
    post = {
        (r["k"], r["v"])
        for r in rows
        if r["_change_type"] == "update_postimage"
    }
    assert pre == {(3, 3.0), (13, 13.0), (23, 23.0)}
    assert post == {(3, 300.0), (13, 1300.0), (23, 2300.0)}
    assert all(r["_commit_id"] == 3 for r in rows)


def test_delete_row_cdf_emits_exact_deletes(spark, tmp_path):
    t = str(tmp_path / "cdf_del")
    _build(spark, t)
    st = delete_where(spark, t, "k < 12", row_cdf=True)
    assert st["deleted_rows"] == 12
    feed = read_changes(spark, t, after_id=2)
    rows = feed.collect()
    assert len(rows) == 12
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert {r["k"] for r in rows} == set(range(12))


def test_row_cdf_replay_reproduces_version(spark, tmp_path):
    """Replaying the feed (preimage/delete remove, postimage/insert
    add, per commit) over a mixed window — plain append, row-CDF
    update, row-CDF delete — reproduces the final version."""
    t = str(tmp_path / "cdf_replay")
    _build(spark, t)
    update_where(spark, t, "k % 10 = 7", {"v": "v + 0.5"}, row_cdf=True)
    append_snapshot(
        spark.createDataFrame([(100, 100.0)], "k long, v double"), t
    )
    delete_where(spark, t, "k >= 20 AND k < 25", row_cdf=True)
    state = _rows(read_snapshot(spark, t, as_of=2))
    feed = read_changes(spark, t, after_id=2).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("delete", "update_preimage")
        }
        state |= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("insert", "update_postimage")
        }
    assert state == _rows(read_snapshot(spark, t))


def test_row_cdf_on_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "cdf_part")
    df = spark.createDataFrame(
        [(k, f"p{k % 2}", float(k)) for k in range(20)],
        "k long, part string, v double",
    )
    write_snapshot_partial(df, t, 0, "part", ["p0", "p1"])
    st = update_where(
        spark, t, "k IN (4, 5)", {"v": "v * -1"}, row_cdf=True
    )
    assert st["updated_rows"] == 2
    rows = read_changes(spark, t, after_id=0).collect()
    assert len(rows) == 4
    assert {
        (r["k"], r["v"], r["_change_type"]) for r in rows
    } == {
        (4, 4.0, "update_preimage"),
        (4, -4.0, "update_postimage"),
        (5, 5.0, "update_preimage"),
        (5, -5.0, "update_postimage"),
    }
    # Table content matches the update regardless of feed grain.
    assert read_snapshot(spark, t).where("v < 0").count() == 2


def test_row_cdf_sidecar_lifecycle_under_vacuum(spark, tmp_path):
    t = str(tmp_path / "cdf_vac")
    _build(spark, t)
    update_where(spark, t, "k = 1", {"v": "0.0"}, row_cdf=True)  # id 3
    append_snapshot(
        spark.createDataFrame([(200, 2.0)], "k long, v double"), t
    )  # id 4
    # Manifest 3 still kept (keep_last=2 keeps 3,4): sidecar lives.
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert res["removed_cdf"] == []
    assert read_changes(spark, t, after_id=3).count() == 1
    append_snapshot(
        spark.createDataFrame([(201, 2.0)], "k long, v double"), t
    )  # id 5
    res = vacuum_snapshots(spark, t, keep_last=2)  # 3 expires now
    assert res["removed_cdf"] == ["c=3"]


def test_row_cdf_default_off_keeps_file_level_feed(spark, tmp_path):
    t = str(tmp_path / "cdf_off")
    _build(spark, t, gens=1)
    update_where(spark, t, "k = 1", {"v": "0.0"})
    assert read_manifest(spark, t, 1)["cdf"] is None
    feed = read_changes(spark, t, after_id=0)
    # File-level grain: the whole rewritten generation reports.
    assert feed.where("_change_type = 'delete'").count() == 10
    assert feed.where("_change_type = 'insert'").count() == 10


def test_delete_where_mor_refuses_row_cdf(spark, tmp_path):
    t = str(tmp_path / "morcdf")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    with pytest.raises(ValueError, match="row_cdf.*cow-only"):
        delete_where(spark, t, "k = 1", mode="mor", row_cdf=True)


def test_row_cdf_postimage_equals_committed_rows_under_rand(
    spark, tmp_path
):
    """A non-deterministic SET (rand() salting) must commit EXACTLY
    the rows the feed reports as update_postimage — the post-images
    are pinned and the rewritten generation is built from them."""
    t = str(tmp_path / "cdf_rand")
    append_snapshot(
        spark.createDataFrame(
            [(i, 0.0) for i in range(20)], "k long, v double"
        ),
        t,
        snapshot_id=0,
    )
    update_where(
        spark, t, "k < 5", {"v": "rand() + 10.0"}, row_cdf=True
    )
    table_rows = {
        r["k"]: r["v"]
        for r in read_snapshot(spark, t).where("k < 5").collect()
    }
    feed_rows = {
        r["k"]: r["v"]
        for r in read_changes(spark, t, after_id=0)
        .where("_change_type = 'update_postimage'")
        .collect()
    }
    assert len(table_rows) == 5 and len(feed_rows) == 5
    assert table_rows == feed_rows  # bit-identical, not re-evaluated
    # Untouched rows really untouched.
    assert (
        read_snapshot(spark, t).where("k >= 5 AND v <> 0.0").count() == 0
    )


def test_row_cdf_refuses_reserved_columns(spark, tmp_path):
    t = str(tmp_path / "cdf_resv")
    append_snapshot(
        spark.createDataFrame(
            [(1, "x")], "k long, _change_type string"
        ),
        t,
        snapshot_id=0,
    )
    with pytest.raises(ValueError, match="_change_type"):
        update_where(
            spark, t, "k = 1", {"_change_type": "'y'"}, row_cdf=True
        )
