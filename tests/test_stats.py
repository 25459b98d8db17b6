"""Footer-stats reader + skew report: audits without data scans."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_spark.io.compact import compact_parquet, parquet_inventory
from big_data_spark.io.readers import read_table
from big_data_spark.io.stats import parquet_column_stats
from big_data_spark.operators.skewreport import skew_report
from tests.conftest import SF_SMOKE


def test_footer_stats_match_data(spark, tmp_path):
    src = str(tmp_path / "li")
    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    li.coalesce(1).write.parquet(src)
    stats = {
        r.column: r
        for r in parquet_column_stats(
            spark, src, ["l_orderkey", "l_quantity"]
        ).collect()
    }
    lo, hi, n = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.count(F.lit(1))
    ).collect()[0]
    assert int(stats["l_orderkey"].min_value) == lo
    assert int(stats["l_orderkey"].max_value) == hi
    assert stats["l_orderkey"].n_rows == n
    assert stats["l_orderkey"].n_nulls == 0


def test_footer_stats_prove_zorder_narrowing(spark, tmp_path):
    # The z-order claim, verified the way a scan planner would: from
    # footers alone, per-file spans on both interleaved columns must
    # shrink vs the source layout — no data pages read.
    src = str(tmp_path / "frag")
    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    li.repartition(16).write.parquet(src)
    inv = parquet_inventory(spark, src)
    dst = str(tmp_path / "z")
    compact_parquet(
        spark,
        src,
        dst,
        target_file_bytes=1 << 20,
        zorder_by=["l_partkey", "l_suppkey"],
        size_ratio=4.0 * (1 << 20) / inv["total_bytes"],
    )
    for col in ("l_partkey", "l_suppkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        spans = [
            (int(r.max_value) - int(r.min_value)) / (hi - lo)
            for r in parquet_column_stats(spark, dst, [col]).collect()
        ]
        assert len(spans) == 4
        assert sum(spans) / len(spans) < 0.8, (col, spans)


def test_footer_stats_unknown_column_fails(spark, tmp_path):
    import pytest

    src = str(tmp_path / "n")
    read_table(spark, SF_SMOKE, "nation").write.parquet(src)
    with pytest.raises(Exception, match="not in file schema"):
        parquet_column_stats(spark, src, ["nope"]).collect()


def test_skew_report_flags_hot_key(spark):
    li = read_table(spark, SF_SMOKE, "lineitem")
    # l_returnflag has ~3 values over thousands of rows: heavy skew
    # relative to a uniform key.
    summary, hot = skew_report(li, ["l_returnflag"], top=2)
    s = summary.collect()[0]
    assert s.n_keys <= 5
    assert s.skew_ratio > 0.9  # max/avg near n_keys-bounded value
    h = hot.collect()
    assert len(h) == 2 and h[0].n_rows >= h[1].n_rows
    assert 0 < h[0].share <= 1
    # A near-unique key reports skew_ratio close to 1 ... bounded.
    u_summary, _ = skew_report(li, ["l_orderkey", "l_linenumber"], top=1)
    u = u_summary.collect()[0]
    assert u.skew_ratio < s.n_keys * 2
    assert u.total_rows == s.total_rows


def test_prune_files_lossless_and_effective(spark, tmp_path):
    """Metadata pruning drops files a range predicate cannot touch,
    and reading ONLY the kept files returns exactly the full-scan
    answer (no false drops)."""
    import re

    from pyspark.sql import functions as F

    from big_data_spark.io.stats import prune_files_multi

    path = str(tmp_path / "ranged")
    # repartitionByRange on v -> each file covers a narrow v band.
    (
        spark.range(10000)
        .select(F.col("id"), (F.col("id") % 1000).cast("double").alias("v"))
        .repartitionByRange(10, "v")
        .write.parquet(path)
    )
    keep = prune_files_multi(spark, path, {"v": (100.0, 150.0)})
    kept = [f for f, k in keep.items() if k]
    assert 0 < len(kept) < len(keep), "pruning must drop some files"

    local = [re.sub(r"^file:(//)?", "", f) for f in kept]
    got = (
        spark.read.parquet(*local)
        .filter((F.col("v") >= 100.0) & (F.col("v") <= 150.0))
        .agg(F.count(F.lit(1)), F.sum("id"))
        .collect()[0]
    )
    want = (
        spark.read.parquet(path)
        .filter((F.col("v") >= 100.0) & (F.col("v") <= 150.0))
        .agg(F.count(F.lit(1)), F.sum("id"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


def test_read_pruned_end_to_end(spark, tmp_path):
    """The PUBLIC reader applies footer pruning: fewer files enter
    the scan (inputFiles shrinks) and the result still equals the
    full-scan filter — the one-call z-order+skipping story."""
    from pyspark.sql import functions as F

    from big_data_spark.io.readers import read_pruned

    path = str(tmp_path / "ranged")
    (
        spark.range(10000)
        .select(F.col("id"), (F.col("id") % 1000).cast("double").alias("v"))
        .repartitionByRange(10, "v")
        .write.parquet(path)
    )
    full = spark.read.parquet(path)
    pruned = read_pruned(spark, path, "v", lo=100.0, hi=150.0)
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    got = pruned.agg(F.count(F.lit(1)), F.sum("id")).collect()[0]
    want = (
        full.filter((F.col("v") >= 100.0) & (F.col("v") <= 150.0))
        .agg(F.count(F.lit(1)), F.sum("id"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)
    # The kept files, read whole, are a superset of the result.
    assert spark.read.parquet(*pruned.inputFiles()).count() >= got[0]
    # A provably-impossible range returns empty with the real schema.
    none = read_pruned(spark, path, "v", lo=5000.0, hi=6000.0)
    assert none.count() == 0 and none.columns == full.columns


def test_read_pruned_multi_column_zorder(spark, tmp_path):
    """Conjunction pruning over a Z-ordered layout: either column's
    footer interval can veto a file, the 2-D box scan touches fewer
    files than either 1-D predicate alone, and the result still
    equals the full-scan filter."""
    from pyspark.sql import functions as F

    from big_data_spark.io.compact import zorder_key
    from big_data_spark.io.readers import read_pruned

    raw = str(tmp_path / "raw")
    zo = str(tmp_path / "zo")
    (
        spark.range(20000)
        .select(
            "id",
            (F.col("id") % 100).cast("double").alias("x"),
            ((F.col("id") * 7919) % 100).cast("double").alias("y"),
        )
        .repartition(16)
        .write.parquet(raw)
    )
    # Z-ordered rewrite built from the same Morton-key plan
    # compact_parquet uses (its file-size floor is meant for real
    # tables, not a 20k-row fixture): x/y are already in [0, 256).
    (
        spark.read.parquet(raw)
        .withColumn("_zx", F.col("x").cast("bigint"))
        .withColumn("_zy", F.col("y").cast("bigint"))
        .withColumn("_zkey", zorder_key(["_zx", "_zy"], bits=8))
        .repartitionByRange(16, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zx", "_zy", "_zkey")
        .write.parquet(zo)
    )

    box = {"x": (10.0, 25.0), "y": (60.0, 80.0)}
    full = spark.read.parquet(zo)
    pruned = read_pruned(spark, zo, box)
    n_all = len(full.inputFiles())
    assert 0 < len(pruned.inputFiles()) < n_all
    got = pruned.agg(F.count(F.lit(1)), F.sum("id")).collect()[0]
    want = (
        full.filter(
            (F.col("x") >= 10.0) & (F.col("x") <= 25.0)
            & (F.col("y") >= 60.0) & (F.col("y") <= 80.0)
        )
        .agg(F.count(F.lit(1)), F.sum("id"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)
    # The conjunction prunes at least as hard as each single column.
    nx = len(read_pruned(spark, zo, "x", *box["x"]).inputFiles())
    ny = len(read_pruned(spark, zo, "y", *box["y"]).inputFiles())
    assert len(pruned.inputFiles()) <= min(nx, ny)
