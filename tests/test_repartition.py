"""Partition-spec evolution (round-12 directive #4, option b): ONE
explicit atomic maintenance rewrite moves a table between partition
specs — (none) -> (d), (d) -> (d, region), back to none — with
content identical, MOR vectors materialized, the change feed silent
(maintenance), time travel reading old versions under their own old
spec, and the regular partitioned write path working under the new
spec afterward. Decision record: metadata-forward per-generation
specs (Iceberg v2) were rejected because manifests here key entries
by partition VALUE — two live specs would make partial-replace
reconciliation ambiguous; the per-manifest spec this engine already
has preserves history for free."""

from __future__ import annotations

import pytest

from big_data_spark.io.snapshot import (
    SnapshotConflict,
    append_snapshot,
    delete_where,
    latest_manifest,
    metadata_aggregate,
    read_changes,
    read_snapshot,
    repartition_table,
    show_partitions,
    write_snapshot,
    write_snapshot_partial,
)


def _mk(spark):
    rows = [
        (i, ["a", "b", "c"][i % 3], ["eu", "us"][i % 2], float(i))
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "k long, d string, region string, v double")


def _rows(df):
    return {(r["k"], r["d"], r["region"], r["v"]) for r in df.collect()}


def test_unpartitioned_to_partitioned_roundtrip(spark, tmp_path):
    t = str(tmp_path / "rp1")
    df = _mk(spark)
    write_snapshot(df, t)
    want = _rows(df)
    st = repartition_table(spark, t, "d")
    assert st["partition_col"] == ["d"] and st["n_entries"] == 3
    man = latest_manifest(spark, t)
    assert man["partition_col"] == "d" and man["maintenance"] is True
    assert _rows(read_snapshot(spark, t)) == want
    # partition pruning under the new spec
    pr = read_snapshot(spark, t, partitions={"d": "a"})
    assert _rows(pr) == {r for r in want if r[1] == "a"}
    # content-neutral: the feed reports NOTHING for the spec change
    assert read_changes(spark, t, after_id=0).count() == 0
    # time travel: the OLD version reads under its own (no) spec
    v0 = read_snapshot(spark, t, as_of=0)
    assert _rows(v0) == want
    # SHOW PARTITIONS works under the new spec
    assert {r["d"] for r in show_partitions(spark, t).collect()} == {
        "a", "b", "c",
    }


def test_widen_spec_then_partial_writes_work(spark, tmp_path):
    t = str(tmp_path / "rp2")
    df = _mk(spark)
    write_snapshot_partial(df, t, 0, "d", touched_keys=["a", "b", "c"])
    st = repartition_table(spark, t, ["d", "region"])
    assert st["n_entries"] == 6
    leaves = show_partitions(spark, t).collect()
    assert {(r["d"], r["region"]) for r in leaves} == {
        (d, r) for d in ("a", "b", "c") for r in ("eu", "us")
    }
    assert _rows(read_snapshot(spark, t)) == _rows(df)
    # the regular partial writer now reconciles per (d, region) leaf
    patch = spark.createDataFrame(
        [(999, "a", "eu", 9.9)], "k long, d string, region string, v double"
    )
    write_snapshot_partial(
        patch, t, st["snapshot_id"] + 1, ["d", "region"],
        touched_keys=[("a", "eu")],
    )
    got = _rows(read_snapshot(spark, t))
    want = {r for r in _rows(df) if not (r[1] == "a" and r[2] == "eu")}
    want.add((999, "a", "eu", 9.9))
    assert got == want
    # narrow back to unpartitioned: one whole-table entry again
    st2 = repartition_table(spark, t, None)
    assert st2["n_entries"] == 1
    assert _rows(read_snapshot(spark, t)) == want
    assert latest_manifest(spark, t)["partition_col"] is None


def test_repartition_materializes_mor_vectors(spark, tmp_path):
    t = str(tmp_path / "rp3")
    df = _mk(spark)
    write_snapshot(df, t)
    delete_where(spark, t, "k % 5 = 0", mode="mor")
    assert latest_manifest(spark, t)["deletes"]
    repartition_table(spark, t, "region")
    man = latest_manifest(spark, t)
    assert man["deletes"] == []  # masks materialized into the rewrite
    got = _rows(read_snapshot(spark, t))
    assert got == {r for r in _rows(df) if r[0] % 5 != 0}
    # metadata aggregates re-derive for the new layout (region now a
    # partition column: excluded from the stats set)
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == len(got)
    assert agg["sum"]["k"] == sum(r[0] for r in got)


def test_repartition_all_stats_cols_become_partition_cols(spark, tmp_path):
    """When EVERY recorded stats column becomes a partition column,
    the rewrite records NO stats instead of collapsing the empty
    filter result to None — which would re-derive the old set and
    record stats for the very columns the filter excluded
    (footerless in hive-partitioned data files; round-12 advice)."""
    t = str(tmp_path / "rp5")
    df = _mk(spark)
    write_snapshot(df, t, stats_columns=["d", "region"])
    assert latest_manifest(spark, t)["stats"]["columns"] == ["d", "region"]
    st = repartition_table(spark, t, ["d", "region"])
    man = latest_manifest(spark, t)
    assert man["partition_col"] == ["d", "region"]
    assert man.get("stats") is None
    assert _rows(read_snapshot(spark, t)) == _rows(df)
    # metadata aggregates refuse loudly (no silent partition-column
    # stats), and analyze_table can re-establish stats on data columns
    with pytest.raises(ValueError, match="no per-file stats"):
        metadata_aggregate(spark, t, columns=[])
    from big_data_spark.io.snapshot import analyze_table

    analyze_table(spark, t, stats_columns=["k", "v"])
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 120 and agg["min"]["k"] == 0
    assert st["n_entries"] == 6


def test_repartition_refuses_noop_and_races_loudly(
    spark, tmp_path, monkeypatch
):
    from big_data_spark.io import table_writes

    t = str(tmp_path / "rp4")
    write_snapshot(_mk(spark), t)
    repartition_table(spark, t, "d")
    with pytest.raises(ValueError, match="already partitioned"):
        repartition_table(spark, t, "d")
    # a commit landing DURING the rewrite: the repartition loses the
    # id race loudly instead of dropping the racer's commit
    real = table_writes._publish
    raced = []

    def racing(*args, **kwargs):
        if not raced:
            raced.append(True)  # the racer's own publish goes through
            write_snapshot(_mk(spark).limit(5), t)
        return real(*args, **kwargs)

    monkeypatch.setattr(table_writes, "_publish", racing)
    with pytest.raises(SnapshotConflict):
        repartition_table(spark, t, ["d", "region"])
    monkeypatch.undo()
    # the racer's commit is intact and a retry succeeds
    assert read_snapshot(spark, t).count() == 5
    st = repartition_table(spark, t, ["d", "region"])
    assert read_snapshot(spark, t).count() == 5
    assert latest_manifest(spark, t)["partition_col"] == ["d", "region"]
    assert st["n_entries"] >= 1
