"""Round-10 code-review regressions: exact epoch math in TIMESTAMP
AS OF parsing, row-CDF consistency under non-deterministic SET
expressions, the sidecar column-collision guard, time travel inside
INSERT row sources."""

from __future__ import annotations

import pytest

from big_data_spark.io.snapshot import (
    append_snapshot,
    read_changes,
    read_snapshot,
    update_where,
)
from big_data_spark.sqldml import _parse_ts_ms


def test_parse_ts_ms_is_exact_for_every_millisecond():
    """float seconds*1000 truncated 1ms low on ~0.6% of values —
    a statement quoting a commit's own timestamp then resolved the
    previous version (or raised on the first commit)."""
    from datetime import datetime, timezone

    # Sweep a dense band plus the empirically-failing shapes.
    bad = 0
    for ms in list(range(1755264000000, 1755264000000 + 20000)) + [
        1755268859999,
        1696118399001,
    ]:
        iso = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        if _parse_ts_ms(iso) != ms:
            bad += 1
    assert bad == 0
    assert _parse_ts_ms("123456") == 123456


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


def test_insert_select_with_time_travel_source(spark, tmp_path):
    """INSERT INTO t SELECT ... FROM t VERSION AS OF 0 — the
    restore-old-rows idiom — resolves the travel fragment before
    Spark parses the row source."""
    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "ins_tt")
    append_snapshot(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"
        ),
        t,
        snapshot_id=0,
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("ins_tt", t)
    delete_where(spark, t, "k < 3")
    cat.refresh("ins_tt")
    st = cat.sql(
        "INSERT INTO ins_tt SELECT k, v FROM ins_tt VERSION AS OF 0 "
        "WHERE k < 3"
    )
    assert st["inserted_rows"] == 3
    assert read_snapshot(spark, t).count() == 6


def test_dml_attribution_with_aliasing_partition_values(spark, tmp_path):
    """Third-pass review (probe-confirmed): partition value 'a:b'
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
