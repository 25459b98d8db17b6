"""Typed data skipping (round 11): string / date / timestamp bounds
through the footer sweep (io/stats.py), the manifest stats block
(io/snapshot.py) and the DML range hints — the predicates that
dominate at scale (event-time ranges, string keys) prune files just
like numeric ones, and every path stays LOSSLESS: a bound that can't
soundly compare under a column's kind leaves files unprunable, never
wrongly dropped.

Design cross-check: Iceberg keeps per-file lower/upper bounds for all
primitive columns (reference format, public spec); Delta z-orders and
skips on string prefixes. The reference repo has no table format at
all — this extends SURVEY §2's lakehouse block.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import big_data_spark.io.snapshot as snap
from big_data_spark.io import manifest, sidecars
import big_data_spark.io.stats as stats_mod
from big_data_spark.io.readers import read_pruned
from big_data_spark.io.dml import _range_hints
from big_data_spark.io.snapshot import (
    delete_where,
    read_snapshot,
    write_snapshot,
)
from big_data_spark.io.stats import (
    norm_bound,
    norm_stat_value,
    prune_files_multi,
    stat_kind,
)


# ---------------------------------------------------------------- unit

def test_stat_kind_mapping():
    assert stat_kind("bigint") == "numeric"
    assert stat_kind("decimal(38,2)") == "numeric"
    assert stat_kind("string") == "string"
    assert stat_kind("date") == "date"
    assert stat_kind("timestamp") == "timestamp"
    assert stat_kind("timestamp_ntz") == "timestamp_ntz"
    assert stat_kind("binary") is None
    assert stat_kind("boolean") is None
    assert stat_kind("array<int>") is None


def test_norm_stat_value_fixed_width_microseconds():
    # Equal instants must normalize to EQUAL strings: a '.5' vs
    # no-fraction mix would order "10:00:00" < "10:00:00.000000"
    # lexicographically and false-drop on the prefix-equal edge.
    a = norm_stat_value(dt.datetime(2026, 1, 1, 10, 0, 0))
    b = norm_stat_value(
        dt.datetime(2026, 1, 1, 10, 0, 0, tzinfo=dt.timezone.utc)
    )
    assert a == ("timestamp_ntz", "2026-01-01 10:00:00.000000")
    assert b == ("timestamp", "2026-01-01 10:00:00.000000")
    # chronological order == lexicographic order across fractions
    lo = norm_stat_value(dt.datetime(2026, 1, 1, 10, 0, 0, 500000))[1]
    hi = norm_stat_value(dt.datetime(2026, 1, 1, 10, 0, 1))[1]
    assert a[1] < lo < hi


def test_norm_stat_value_scope():
    assert norm_stat_value(True) is None  # booleans: out of scope
    assert norm_stat_value(b"ab") is None  # binary: no sound order
    assert norm_stat_value("ab") == ("string", "ab")
    assert norm_stat_value(dt.date(2026, 2, 3)) == ("date", "2026-02-03")
    assert norm_stat_value(7) == ("numeric", "7")


def test_norm_bound_tz_matches_spark_literal_semantics():
    # Naive bound on a tz-adjusted column: interpreted in the session
    # timezone, converted to the UTC the stats are stored in.
    naive = dt.datetime(2026, 1, 1, 10, 0, 0)
    assert (
        norm_bound("timestamp", naive, "UTC")
        == "2026-01-01 10:00:00.000000"
    )
    ny = norm_bound("timestamp", naive, "America/New_York")
    assert ny == "2026-01-01 15:00:00.000000"  # EST = UTC-5
    # ntz columns never shift and refuse aware bounds
    assert (
        norm_bound("timestamp_ntz", naive, "America/New_York")
        == "2026-01-01 10:00:00.000000"
    )
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert norm_bound("timestamp_ntz", aware) is None


def test_norm_bound_mismatches_are_unprunable_not_wrong():
    assert norm_bound("numeric", "abc") is None
    assert norm_bound("string", 5) is None
    assert norm_bound("date", "not-a-date") is None
    assert norm_bound("timestamp", 5.0) is None
    # ISO date string on a timestamp column = midnight, Spark's cast
    assert (
        norm_bound("timestamp", "2026-01-05")
        == "2026-01-05 00:00:00.000000"
    )
    # datetime bound on a date column truncates conservatively
    assert norm_bound("date", dt.datetime(2026, 1, 5, 23, 59)) == "2026-01-05"


def test_range_hints_string_and_temporal_literals(spark):
    h = _range_hints(spark, "region = 'EUROPE' AND v >= 10")
    assert h == {"region": ("EUROPE", "EUROPE"), "v": (10.0, None)}
    h = _range_hints(spark, "name = 'O''BRIEN'")
    assert h == {"name": ("O'BRIEN", "O'BRIEN")}
    h = _range_hints(
        spark,
        "ts >= TIMESTAMP '2026-01-05 00:00:00' AND d <= DATE '2026-03-01'",
    )
    assert h == {
        "ts": (dt.datetime(2026, 1, 5), None),
        "d": (None, dt.date(2026, 3, 1)),
    }
    h = _range_hints(spark, "k BETWEEN 'a' AND 'f'")
    assert h == {"k": ("a", "f")}
    # mixed literal families poison the column (unprunable, not wrong)
    assert _range_hints(spark, "v >= 5 AND v <= 'x'") is None
    h = _range_hints(spark, "v >= 5 AND v <= 'x' AND w = 3")
    assert h == {"w": (3.0, 3.0)}
    # OR/NOT still disable hinting entirely
    assert _range_hints(spark, "k = 'a' OR k = 'b'") is None


# ------------------------------------------------------- footer sweep

@pytest.fixture(scope="module")
def typed_df(spark):
    rows = [
        (
            i,
            f"k{i % 50:05d}",
            dt.date(2026, 1, 1) + dt.timedelta(days=i % 200),
            dt.datetime(2026, 1, 1) + dt.timedelta(minutes=7 * i),
            float(i) * 0.5,
        )
        for i in range(4000)
    ]
    return spark.createDataFrame(
        rows, "id bigint, key string, d date, ts timestamp, v double"
    )


def _lossless(spark, src, df, ranges):
    got = read_pruned(spark, src, ranges)
    cond = stats_mod.range_predicate(ranges)
    want = df.filter(cond)
    assert got.count() == want.count() > 0
    dec = prune_files_multi(spark, src, ranges)
    kept = sum(dec.values())
    assert kept < len(dec), "clustered layout must make files prunable"
    return kept, len(dec)


def test_footer_prune_timestamp_lossless_and_effective(
    spark, tmp_path, typed_df
):
    src = str(tmp_path / "ts")
    typed_df.repartitionByRange(8, "ts").sortWithinPartitions(
        "ts"
    ).write.parquet(src)
    lo, hi = dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 8)
    _lossless(spark, src, typed_df, {"ts": (lo, hi)})
    # ISO strings behave exactly like datetime bounds
    got = read_pruned(
        spark, src, {"ts": ("2026-01-05 00:00:00", "2026-01-08 00:00:00")}
    ).count()
    want = typed_df.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    assert got == want


def test_footer_prune_string_is_lexicographic(spark, tmp_path, typed_df):
    # Zero-padded keys: numeric interpretation would compare
    # float('00010')=10 against float('00009')=9 and give the same
    # answer — so ALSO check an interval where string and numeric
    # order genuinely disagree below.
    src = str(tmp_path / "key")
    typed_df.repartitionByRange(8, "key").sortWithinPartitions(
        "key"
    ).write.parquet(src)
    _lossless(spark, src, typed_df, {"key": ("k00010", "k00012")})


def test_footer_prune_string_order_disagrees_with_numeric(spark, tmp_path):
    # Values '9' and '10': string order '10' < '9', numeric order
    # 9 < 10. A numeric compare would prune the '9' file for the
    # range ('1','2'); string order correctly keeps the '10' file
    # only... ('10' is inside ['1','2'] lexicographically, '9' is not)
    df = spark.createDataFrame(
        [("9",), ("10",), ("15",), ("2x",)], "s string"
    )
    src = str(tmp_path / "disagree")
    df.repartition(4, "s").write.parquet(src)
    ranges = {"s": ("1", "2")}
    got = {r.s for r in read_pruned(spark, src, ranges).collect()}
    want = {
        r.s
        for r in df.filter((F.col("s") >= "1") & (F.col("s") <= "2")).collect()
    }
    assert got == want == {"10", "15"}


def test_footer_prune_date(spark, tmp_path, typed_df):
    src = str(tmp_path / "d")
    typed_df.repartitionByRange(8, "d").sortWithinPartitions(
        "d"
    ).write.parquet(src)
    _lossless(
        spark, src, typed_df, {"d": (dt.date(2026, 3, 1), dt.date(2026, 3, 10))}
    )


def test_footer_numeric_bound_on_string_column_keeps_all(spark, tmp_path):
    # kind mismatch = unprunable, never a drop
    df = spark.createDataFrame([("a",), ("b",)], "s string")
    src = str(tmp_path / "mismatch")
    df.write.parquet(src)
    dec = prune_files_multi(spark, src, {"s": (1.0, 2.0)})
    assert dec and all(dec.values())


def test_read_pruned_refuses_numeric_bound_on_string_column(
    spark, tmp_path, typed_df
):
    """A numeric bound on a string column fails up front with a
    message naming the column, its type and the bound — not at the
    first action with a cast error naming a data value."""
    src = str(tmp_path / "numstr")
    typed_df.write.parquet(src)
    with pytest.raises(ValueError, match=r"1\.0 on column 'key'.*string"):
        read_pruned(spark, src, {"key": (1.0, 2.0)})
    with pytest.raises(ValueError, match="column 'd'.*date"):
        read_pruned(spark, src, {"d": [3, 4]})


def test_read_snapshot_refuses_numeric_bound_on_string_column(
    spark, tmp_path, typed_df
):
    t = str(tmp_path / "numstr_snap")
    write_snapshot(typed_df, t)
    with pytest.raises(ValueError, match=r"1\.0 on column 'key'.*string"):
        read_snapshot(spark, t, predicate={"key": (1.0, 2.0)})
    with pytest.raises(ValueError, match="column 'ts'.*timestamp"):
        read_snapshot(spark, t, predicate={"ts": (None, 5)})
    # bounds of the column's type still read
    got = read_snapshot(spark, t, predicate={"key": ("k00001", "k00002")})
    assert got.count() == 160


# ----------------------------------------------------- manifest stats

def test_manifest_typed_stats_prune_metadata_only(
    spark, tmp_path, typed_df, monkeypatch
):
    t = str(tmp_path / "tbl")
    write_snapshot(
        typed_df.repartitionByRange(8, "ts").sortWithinPartitions("ts"), t
    )
    man = snap.latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["id", "key", "d", "ts"]

    lo, hi = dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 8)
    want = typed_df.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    full_files = len(read_snapshot(spark, t).inputFiles())

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    got = read_snapshot(spark, t, predicate={"ts": (lo, hi)})
    assert got.count() == want
    assert len(got.inputFiles()) < full_files
    # string-key point predicate through the same metadata: the
    # layout clusters ts, so keys span every file — nothing prunes,
    # but the answer must stay exact (lossless under zero skips).
    got2 = read_snapshot(spark, t, predicate={"key": ("k00010", "k00010")})
    assert got2.count() == 80


def test_manifest_prune_respects_session_timezone(
    spark, tmp_path, typed_df, monkeypatch
):
    """Naive timestamp bounds are session-tz literals to Spark; the
    stats compare must shift them identically or a tz offset would
    false-drop whole files."""
    t = str(tmp_path / "tz")
    write_snapshot(
        typed_df.repartitionByRange(8, "ts").sortWithinPartitions("ts"), t
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        lo, hi = dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 8)
        got = read_snapshot(spark, t, predicate={"ts": (lo, hi)})
        want = (
            read_snapshot(spark, t)
            .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
            .count()
        )
        assert got.count() == want > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# ----------------------------------------------------------- DML hints

def test_dml_string_hint_prunes_and_deletes_exactly(
    spark, tmp_path, typed_df, monkeypatch
):
    t = str(tmp_path / "dml")
    write_snapshot(
        typed_df.repartitionByRange(8, "key").sortWithinPartitions("key"), t
    )

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    st = delete_where(spark, t, "key = 'k00007'")
    assert st["deleted_rows"] == 80
    left = read_snapshot(spark, t)
    assert left.filter("key = 'k00007'").count() == 0
    assert left.count() == 4000 - 80


def test_dml_timestamp_literal_hint(spark, tmp_path, typed_df):
    t = str(tmp_path / "dmlts")
    write_snapshot(
        typed_df.repartitionByRange(8, "ts").sortWithinPartitions("ts"), t
    )
    st = delete_where(
        spark, t, "ts < TIMESTAMP '2026-01-03 00:00:00'"
    )
    want = typed_df.filter(
        F.col("ts") < F.lit(dt.datetime(2026, 1, 3))
    ).count()
    assert st["deleted_rows"] == want > 0
    assert read_snapshot(spark, t).count() == 4000 - want


# --------------------------------------------------- null-count skips

def test_all_null_files_prune_under_any_bounded_range(spark, tmp_path):
    """A file whose hinted column is entirely NULL provably matches
    no range predicate (NULL compares are NULL -> filtered), so it
    drops — Iceberg's null-count skipping. Files with a mix of null
    and valued row groups prune by the valued bounds."""
    df = spark.range(0, 4000).selectExpr(
        "id AS k",
        "CASE WHEN id < 2000 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END AS v",
    )
    src = str(tmp_path / "nulls")
    df.repartitionByRange(4, "k").sortWithinPartitions("k").write.parquet(
        src
    )
    ranges = {"v": (2500.0, 2600.0)}
    dec = prune_files_multi(spark, src, ranges)
    dropped = [f for f, keep in dec.items() if not keep]
    # the two all-null files (k<2000) AND the valued file outside
    # [2500, 2600] must drop
    assert len(dropped) >= 2
    got = read_pruned(spark, src, ranges)
    want = df.filter((F.col("v") >= 2500.0) & (F.col("v") <= 2600.0))
    assert got.count() == want.count() > 0


def test_manifest_all_null_skip_metadata_only(
    spark, tmp_path, monkeypatch
):
    df = spark.range(0, 4000).selectExpr(
        "id AS k",
        "CASE WHEN id < 2000 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END AS v",
    )
    t = str(tmp_path / "nulltbl")
    write_snapshot(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"), t
    )
    man = snap.latest_manifest(spark, t)
    (gen,) = man["stats"]["sidecars"]
    gen_files, _ = snap.load_generation_stats(spark, t, man, gen)
    assert any(pc.get("v") == "allnull" for pc in gen_files.values())

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    got = read_snapshot(spark, t, predicate={"v": (2500.0, 2600.0)})
    want = df.filter((F.col("v") >= 2500.0) & (F.col("v") <= 2600.0))
    assert got.count() == want.count() > 0
    assert len(got.inputFiles()) < len(read_snapshot(spark, t).inputFiles())


# ------------------------------------------------------ ANALYZE TABLE

def test_analyze_backfills_statless_generations(
    spark, tmp_path, monkeypatch
):
    """A generation committed without stats pays the footer sweep on
    every pruned read until ANALYZE (or the next data commit)
    backfills it — analyze_table closes that as one maintenance
    commit, invisible to the change feed."""
    from big_data_spark.io.snapshot import (
        analyze_table,
        append_snapshot,
        read_changes,
    )

    t = str(tmp_path / "an")
    df = spark.range(0, 1000).selectExpr("id AS k", "id * 2.0 AS v")
    monkeypatch.setattr(manifest, "_auto_commit_stats", lambda *a, **k: None)
    write_snapshot(df.repartitionByRange(4, "k"), t)
    monkeypatch.undo()
    assert snap.latest_manifest(spark, t).get("stats") is None

    st = analyze_table(spark, t)
    assert st["analyzed_generations"] == 1
    assert st["covered_generations"] == 1
    man = snap.latest_manifest(spark, t)
    assert set(man["stats"]["sidecars"]) == {"s=0"}
    assert man.get("maintenance") is True

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran after ANALYZE")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    got = read_snapshot(spark, t, predicate={"k": (100.0, 200.0)})
    assert got.count() == 101
    assert len(got.inputFiles()) < 4
    # the analyze commit is maintenance: the change feed skips it
    assert read_changes(spark, t, after_id=0).count() == 0
    # fully covered now: a second analyze is a no-op (no new commit)
    monkeypatch.undo()
    st2 = analyze_table(spark, t)
    assert st2["analyzed_generations"] == 0
    assert st2["snapshot_id"] == man["snapshot_id"]


def test_analyze_sql_spelling_and_for_columns(spark, tmp_path):
    from big_data_spark.catalog import SnapshotCatalog

    t = str(tmp_path / "ansql")
    df = spark.range(0, 500).selectExpr(
        "id AS k", "id * 2.0 AS v", "CAST(id AS STRING) AS s"
    )
    write_snapshot(df.repartition(2), t)
    c = SnapshotCatalog(spark)
    c.register("ansql", t)
    st = c.sql("ANALYZE TABLE ansql COMPUTE STATISTICS FOR COLUMNS k, s")
    assert st["statement_type"] == "ANALYZE"
    assert st["stats_columns"] == ["k", "s"]
    man = snap.latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["k", "s"]
    # unregistered names pass through to spark.sql (and fail there,
    # since no such catalog table exists)
    with pytest.raises(Exception):
        c.sql("ANALYZE TABLE nosuch COMPUTE STATISTICS")


# ----------------------------------------- path-parity + rendering

def _both_sweeps(spark, t, gen_rel, cols, sum_cols, rename_log, monkeypatch):
    """The generation sweep's (files, rows, sums, nonnull) from the
    driver loop and from the executor fan-out, over the SAME
    immutable generation dir."""
    local = sidecars._sweep_generation(
        spark, t, gen_rel, cols, sum_cols, rename_log=rename_log
    )
    with monkeypatch.context() as m:
        m.setattr(sidecars, "_LOCAL_SWEEP_MAX_FILES", 0)
        dist = sidecars._sweep_generation(
            spark, t, gen_rel, cols, sum_cols, rename_log=rename_log
        )
    return local, dist


def test_local_and_distributed_sweep_agree(spark, tmp_path, monkeypatch):
    """The commit-time driver loop and the executor fan-out run one
    per-file function — this pins the WHOLE sidecar body (files, rows,
    sums, nonnull) equal on a fixture exercising every rule: typed
    values, bigint sum columns (one entirely NULL), an all-null
    double, a mixed null/valued column, zero-padded strings, empty
    part files, and a generation written before a rename plus an
    added column."""
    df = spark.range(0, 2000).selectExpr(
        "id AS k",
        "CAST(NULL AS BIGINT) AS nk",
        "CAST(NULL AS DOUBLE) AS dead",
        "CASE WHEN id < 1000 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END AS v",
        "format_string('s%05d', CAST(id % 40 AS INT)) AS s",
        "timestamp_micros(CAST(id * 60000000 AS LONG)) AS ts",
    )
    t1 = str(tmp_path / "loc")
    cols = ["k", "nk", "dead", "v", "s", "ts"]
    # 5 valued files plus an empty part file: Spark writes one for an
    # empty task 0, and round-robin leaves task 0 of a one-row frame
    # empty
    write_snapshot(
        df.where("k = 0")
        .repartition(4)
        .union(df.where("k > 0").repartitionByRange(4, "k")),
        t1,
        stats_columns=cols,
    )
    snap.evolve_schema(spark, t1, renames={"k": "key"})
    snap.append_snapshot(
        df.withColumnRenamed("k", "key")
        .withColumn("w", F.col("key") * 3)
        .repartition(2),
        t1,
    )
    man = snap.latest_manifest(spark, t1)
    cols = man["stats"]["columns"] + ["w"]
    sum_cols = sidecars._sum_columns(cols, man["schema"])
    assert sum_cols == ["key", "nk", "w"]
    gen_rels = sorted(
        {"/".join(rel.split("/")[:2]) for rel in man["entries"].values()}
    )
    swept = []
    for gen_rel in gen_rels:
        local, dist = _both_sweeps(
            spark, t1, gen_rel, cols, sum_cols, man["rename_log"],
            monkeypatch,
        )
        assert local == dist
        files, rows, sums, nonnull = local
        assert set(files) == set(rows) == set(sums) == set(nonnull)
        assert sum(rows.values()) == 2000
        assert any(pc.get("dead") == "allnull" for pc in files.values())
        valued = [f for f, n in rows.items() if n]
        assert all(
            nonnull[f]["nk"] == 0 and sums[f]["nk"] is None for f in valued
        )
        assert sum(int(sums[f]["key"]) for f in valued) == sum(range(2000))
        swept.append(local)
    (old_files, old_rows, old_sums, _), (_, _, new_sums, _) = swept
    # the pre-rename generation: stats under the renamed key, empty
    # part files recorded, the later-added w unprunable and unsummed
    assert 0 in old_rows.values(), "fixture must hold empty part files"
    assert all(pc["w"] is None for pc in old_files.values())
    assert all("w" not in pc for pc in old_sums.values())
    assert sum(int(pc["w"]) for pc in new_sums.values()) == 3 * sum(
        range(2000)
    )


def test_python_unescape_matches_jvm(spark):
    from big_data_spark.io.manifest import (
        _hive_escape,
        _hive_unescape,
        _unescape_path_py,
    )

    esc = _hive_escape(spark)
    unesc = _hive_unescape(spark)
    corpus = [
        "a b", "a/b", "a=b", "100%", "éü", "a%2Fb", "%", "%4",
        "x%zz", "tab\tn", "semi;colon", "star*", "00123", "",
        "2026-01-01 10:00:00.5", "O'BRIEN", "a%252Fb",
    ]
    for raw in corpus:
        e = esc(raw)
        assert _unescape_path_py(e) == unesc(e) == raw, (raw, e)
    # raw escaped forms decode identically too
    for e in ["%2F", "%2f", "%GG", "%", "%%41", "a%3Ab%3a"]:
        assert _unescape_path_py(e) == unesc(e), e


def test_timestamp_partition_keys_round_trip(spark, tmp_path):
    """Fractional-second timestamp partition values: Spark renders
    the dir as '...05.5' (trailing zeros trimmed) where str() would
    write '...05.500000' and silently match nothing — the shared
    renderer pins Spark's form, so entry keys, partitions= filters
    and SHOW PARTITIONS all agree."""
    import datetime as ddt

    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "tspart")
    a = ddt.datetime(2024, 1, 2, 3, 4, 5, 500000)
    b = ddt.datetime(2024, 1, 2, 3, 4, 5)
    df = spark.createDataFrame(
        [(a, 1), (a, 2), (b, 3)], "ts timestamp, v int"
    )
    write_snapshot_partial(df, t, 0, "ts", touched_keys=[a, b])
    got = read_snapshot(spark, t, partitions={"ts": a})
    assert {r["v"] for r in got.collect()} == {1, 2}
    # leaf replace through the same key
    write_snapshot_partial(
        spark.createDataFrame([(a, 9)], "ts timestamp, v int"),
        t, 1, "ts", touched_keys=[a],
    )
    got2 = read_snapshot(spark, t)
    assert {r["v"] for r in got2.collect()} == {9, 3}
    from big_data_spark.io.snapshot import show_partitions

    parts = show_partitions(spark, t).collect()
    assert {r["ts"] for r in parts} == {a, b}


def test_float_partition_keys_refuse_loudly(spark, tmp_path):
    from big_data_spark.io.snapshot import write_snapshot_partial

    df = spark.createDataFrame([(1.0e-7, 1)], "f double, v int")
    with pytest.raises(ValueError, match="float partition key"):
        write_snapshot_partial(
            df, str(tmp_path / "fp"), 0, "f", touched_keys=[1.0e-7]
        )


def test_evolve_keeps_typed_stats_version(spark, tmp_path, monkeypatch):
    """A rename/drop remaps stats keys metadata-only — typed pruning
    must keep working after it, or one evolution would silently
    disable it forever (review finding, round 11)."""
    from big_data_spark.io.snapshot import evolve_schema

    t = str(tmp_path / "evov")
    df = spark.createDataFrame(
        [(i, f"r{i % 10:03d}", float(i)) for i in range(2000)],
        "k long, region string, v double",
    )
    write_snapshot(
        df.repartitionByRange(4, "region").sortWithinPartitions("region"),
        t,
    )
    evolve_schema(spark, t, renames={"v": "val"})
    man = snap.latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["k", "region", "val"]

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    got = read_snapshot(spark, t, predicate={"region": ("r003", "r004")})
    assert got.count() == 400
    assert len(got.inputFiles()) < 4


def test_analyze_upgrade_keeps_recorded_columns(spark, tmp_path):
    """ANALYZE without stats_columns must keep the table's RECORDED
    stats column set (e.g. a custom non-leading choice), not silently
    replace it with the schema default (review finding, round 11)."""
    from big_data_spark.io.snapshot import analyze_table

    t = str(tmp_path / "ancols")
    df = spark.range(0, 500).selectExpr(
        "id AS a", "id AS b", "id AS c", "id AS d", "id AS e"
    )
    write_snapshot(df.repartition(2), t, stats_columns=["e"])

    st = analyze_table(spark, t)
    assert st["stats_columns"] == ["e"]
    assert snap.latest_manifest(spark, t)["stats"]["columns"] == ["e"]


# --------------------------------------------------- IN-list support

def test_range_hints_in_list(spark):
    h = _range_hints(spark, "k IN (7, 3, 5)")
    assert h == {"k": (3.0, 7.0)}
    h = _range_hints(spark, "region IN ('us', 'eu') AND v >= 2")
    assert h == {"region": ("eu", "us"), "v": (2.0, None)}
    h = _range_hints(spark, "d IN (DATE '2026-02-01', DATE '2026-01-01')")
    assert h == {"d": (dt.date(2026, 1, 1), dt.date(2026, 2, 1))}
    # subqueries and mixed families contribute nothing (still sound)
    assert _range_hints(spark, "k IN (SELECT id FROM t)") is None
    assert _range_hints(spark, "k IN (1, 'a')") is None
    # IN composes with other conjuncts on the same column
    h = _range_hints(spark, "k IN (3, 9) AND k <= 7")
    assert h == {"k": (3.0, 7.0)}


def test_read_pruned_in_list_lossless_and_effective(
    spark, tmp_path, typed_df
):
    src = str(tmp_path / "inlist")
    typed_df.repartitionByRange(8, "key").sortWithinPartitions(
        "key"
    ).write.parquet(src)
    spec = {"key": ["k00011", "k00013"]}
    got = read_pruned(spark, src, spec)
    want = typed_df.filter(F.col("key").isin("k00011", "k00013"))
    assert got.count() == want.count() > 0
    dec = prune_files_multi(spark, src, spec)
    assert sum(dec.values()) < len(dec)


def test_manifest_in_list_metadata_only(
    spark, tmp_path, typed_df, monkeypatch
):
    t = str(tmp_path / "intbl")
    write_snapshot(
        typed_df.repartitionByRange(8, "key").sortWithinPartitions("key"),
        t,
    )

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)
    got = read_snapshot(spark, t, predicate={"key": ["k00011", "k00013"]})
    want = typed_df.filter(F.col("key").isin("k00011", "k00013")).count()
    assert got.count() == want == 160
    assert len(got.inputFiles()) < len(read_snapshot(spark, t).inputFiles())
    # membership is exact, not just the envelope: k00012 is inside
    # the (min, max) envelope but not in the list
    assert (
        got.filter(F.col("key") == "k00012").count() == 0
    )


def test_dml_in_list_hint_deletes_exactly(spark, tmp_path, typed_df):
    t = str(tmp_path / "indml")
    write_snapshot(
        typed_df.repartitionByRange(8, "key").sortWithinPartitions("key"),
        t,
    )
    st = delete_where(spark, t, "key IN ('k00011', 'k00013')")
    assert st["deleted_rows"] == 160
    left = read_snapshot(spark, t)
    assert left.filter("key IN ('k00011','k00013')").count() == 0
    assert left.count() == 4000 - 160


def test_empty_in_list_refuses(spark, tmp_path, typed_df):
    src = str(tmp_path / "inempty")
    typed_df.limit(10).write.parquet(src)
    with pytest.raises(ValueError, match="empty IN-list"):
        read_pruned(spark, src, {"key": []})


def test_analyze_validates_stats_columns(spark, tmp_path):
    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import analyze_table

    t = str(tmp_path / "anval")
    write_snapshot(spark.range(10).selectExpr("id AS k"), t)
    with pytest.raises(ValueError, match="unknown stats column"):
        analyze_table(spark, t, stats_columns=["kk"])
    c = SnapshotCatalog(spark)
    c.register("anval", t)
    with pytest.raises(ValueError, match="unknown stats column"):
        c.sql("ANALYZE TABLE anval COMPUTE STATISTICS FOR COLUMNS typo")
    # out-of-subset ANALYZE clauses raise the clear unsupported error
    # instead of a confusing spark.sql TABLE_OR_VIEW_NOT_FOUND
    with pytest.raises(ValueError, match="unsupported ANALYZE clause"):
        c.sql("ANALYZE TABLE anval COMPUTE STATISTICS NOSCAN")


def test_plain_float_partition_keys_round_trip(spark, tmp_path):
    """Floats in the plain-decimal range render identically in
    Python and Java, so existing float-partitioned tables keep
    working; only exponent-range values refuse."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "fplain")
    df = spark.createDataFrame(
        [(1.5, 1), (2.5, 2)], "f double, v int"
    )
    write_snapshot_partial(df, t, 0, "f", touched_keys=[1.5, 2.5])
    got = read_snapshot(spark, t, partitions={"f": 1.5})
    assert [r["v"] for r in got.collect()] == [1]


# ------------------------------------------- metadata-only aggregates

def test_metadata_aggregate_matches_real_query(spark, tmp_path, typed_df):
    from big_data_spark.io.snapshot import (
        append_snapshot,
        metadata_aggregate,
    )

    t = str(tmp_path / "magg")
    write_snapshot(
        typed_df.repartitionByRange(4, "ts").sortWithinPartitions("ts"), t
    )
    append_snapshot(
        typed_df.limit(500).repartition(2), t
    )
    got = metadata_aggregate(spark, t)
    real = read_snapshot(spark, t)
    agg = real.agg(
        F.count(F.lit(1)),
        F.min("id"), F.max("id"),
        F.min("key"), F.max("key"),
        F.min("d"), F.max("d"),
        F.min("ts"), F.max("ts"),
    ).collect()[0]
    assert got["rows"] == agg[0] == 4500
    # id is committed bigint: the metadata answer must be a Python
    # int, matching collect() on the real query (round-12 #3).
    assert got["min"]["id"] == agg[1] and type(got["min"]["id"]) is int
    assert got["max"]["id"] == agg[2] and type(got["max"]["id"]) is int
    assert got["min"]["key"] == agg[3] and got["max"]["key"] == agg[4]
    assert got["min"]["d"] == agg[5] and got["max"]["d"] == agg[6]
    assert got["min"]["ts"] == agg[7] and got["max"]["ts"] == agg[8]


def test_metadata_aggregate_counts_partial_replace_exactly(
    spark, tmp_path
):
    """A partial leaf replace leaves its generation partially live;
    the owner walk must count only live leaves."""
    from big_data_spark.io.snapshot import (
        metadata_aggregate,
        write_snapshot_partial,
    )

    t = str(tmp_path / "maggp")
    df = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i) for i in range(20)],
        "part string, v int",
    )
    write_snapshot_partial(df, t, 0, "part", touched_keys=["a", "b"])
    write_snapshot_partial(
        spark.createDataFrame([("a", 99)], "part string, v int"),
        t, 1, "part", touched_keys=["a"],
    )
    got = metadata_aggregate(spark, t, columns=["v"])
    real = read_snapshot(spark, t)
    assert got["rows"] == real.count() == 21
    lo, hi = real.agg(F.min("v"), F.max("v")).collect()[0]
    # v is committed int: exact Python ints back (round-12 #3).
    assert got["min"]["v"] == lo and type(got["min"]["v"]) is int
    assert got["max"]["v"] == hi and type(got["max"]["v"]) is int


def test_metadata_aggregate_all_null_column(spark, tmp_path):
    from big_data_spark.io.snapshot import metadata_aggregate

    t = str(tmp_path / "maggn")
    df = spark.range(10).selectExpr(
        "id AS k", "CAST(NULL AS DOUBLE) AS v"
    )
    write_snapshot(df, t)
    got = metadata_aggregate(spark, t)
    assert got["rows"] == 10
    assert got["min"]["v"] is None and got["max"]["v"] is None
    # k comes from spark.range -> bigint: this is the probe from the
    # round-11 verdict (0, not 0.0).
    assert got["min"]["k"] == 0 and type(got["min"]["k"]) is int
    assert got["max"]["k"] == 9 and type(got["max"]["k"]) is int


def test_metadata_aggregate_refusals(spark, tmp_path, typed_df):
    from big_data_spark.io.snapshot import (
        delete_where as dw,
        metadata_aggregate,
    )

    t = str(tmp_path / "maggr")
    write_snapshot(typed_df.repartition(4), t)
    with pytest.raises(ValueError, match="not in the recorded stats"):
        metadata_aggregate(spark, t, columns=["v"])  # 5th col, cap=4
    dw(spark, t, "id % 7 = 0", mode="mor")
    with pytest.raises(ValueError, match="delete vectors"):
        metadata_aggregate(spark, t)


def test_sweep_paths_agree_on_empty_files(spark, tmp_path, monkeypatch):
    """Spark routinely writes 0-row-group part files; both sweep
    paths must record them (0 rows, no bounds) identically."""
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = str(tmp_path / "empf")
    write_snapshot(df.repartition(4), t)  # 3 empty part files
    man = snap.latest_manifest(spark, t)
    (gen_rel,) = {
        "/".join(rel.split("/")[:2]) for rel in man["entries"].values()
    }
    cols = man["stats"]["columns"]
    local, dist = _both_sweeps(
        spark, t, gen_rel, cols, sidecars._sum_columns(cols, man["schema"]),
        man["rename_log"], monkeypatch,
    )
    assert local == dist
    _, local_rows, sums, _ = local
    # at least one genuinely EMPTY part file must be recorded
    assert 0 in local_rows.values() and sum(local_rows.values()) == 1
    assert set(sums) == set(local_rows)
    # and the metadata count over them is exact
    from big_data_spark.io.snapshot import metadata_aggregate

    assert metadata_aggregate(spark, t)["rows"] == 1


def test_metadata_aggregate_exactness_refusals(spark, tmp_path):
    from big_data_spark.io.snapshot import metadata_aggregate

    # bigint beyond 2^53: doubles round silently -> refuse
    t = str(tmp_path / "bigid")
    write_snapshot(
        spark.createDataFrame(
            [(2**53 + 1,), (5,)], "k long"
        ).coalesce(1),
        t,
    )
    with pytest.raises(ValueError, match="exceeds exact double"):
        metadata_aggregate(spark, t)
    # decimal columns refuse up front
    t2 = str(tmp_path / "decs")
    write_snapshot(
        spark.createDataFrame([(1,)], "k int").selectExpr(
            "CAST(k AS DECIMAL(38,2)) AS d"
        ),
        t2,
    )
    with pytest.raises(ValueError, match="decimal-typed"):
        metadata_aggregate(spark, t2)
    # empty table still validates requested columns
    t3 = str(tmp_path / "emptyv")
    df = spark.createDataFrame([(1,)], "k int")
    write_snapshot(df, t3)
    from big_data_spark.io.snapshot import delete_where as dw

    dw(spark, t3, "k = 1")
    got = metadata_aggregate(spark, t3)
    assert got["rows"] == 0
    with pytest.raises(ValueError, match="not in the recorded stats"):
        metadata_aggregate(spark, t3, columns=["nope"])


# ------------------------------------------------ change-feed predicate

def test_read_changes_predicate_equals_post_filter(spark, tmp_path):
    """Feed predicate contract: read_changes(predicate=P) returns
    EXACTLY read_changes().filter(P), across every commit kind the
    feed distinguishes — append, COW delete (file-level diff), MOR
    delete (vector rows), row-CDF update (sidecar), rollback."""
    from big_data_spark.io.snapshot import (
        append_snapshot,
        read_changes,
        rollback_snapshot,
        update_where,
    )
    from big_data_spark.io.stats import range_predicate

    t = str(tmp_path / "feedp")
    df = spark.range(0, 400).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v",
        "format_string('g%02d', CAST(id % 7 AS INT)) AS grp",
    )
    write_snapshot(df.repartitionByRange(4, "k"), t)
    append_snapshot(
        spark.range(400, 500).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v",
            "format_string('g%02d', CAST(id % 7 AS INT)) AS grp",
        ),
        t,
    )
    delete_where(spark, t, "k % 5 = 0")                  # COW
    delete_where(spark, t, "k % 7 = 3", mode="mor")      # MOR vectors
    update_where(spark, t, "k % 9 = 2", {"v": "v + 1000.0"}, row_cdf=True)
    rollback_snapshot(spark, t, 2)

    for pred in (
        {"k": (100.0, 260.0)},
        {"grp": ("g02", "g04")},
        {"grp": ["g01", "g05"]},
    ):
        got = read_changes(spark, t, after_id=-1, predicate=pred)
        want = read_changes(spark, t, after_id=-1).filter(
            range_predicate(pred)
        )
        key = lambda r: (  # noqa: E731
            r["_commit_id"], r["_change_type"], r["k"], r["v"]
        )
        assert sorted(map(key, got.collect())) == sorted(
            map(key, want.collect())
        ), pred
        assert got.count() > 0


# -------------------------------------- metadata SUM/AVG (round 12)

def test_metadata_sum_avg_matches_real_query(spark, tmp_path):
    from big_data_spark.io.snapshot import (
        append_snapshot,
        metadata_aggregate,
    )

    df = spark.range(0, 3000).selectExpr(
        "id AS k",
        "CASE WHEN id % 7 = 0 THEN CAST(NULL AS INT) "
        "ELSE CAST(id % 100 AS INT) END AS v",
        "CAST(id AS DOUBLE) AS f",
    )
    t = str(tmp_path / "msum")
    write_snapshot(df.repartitionByRange(4, "k"), t)
    append_snapshot(df.limit(500).repartition(2), t)
    got = metadata_aggregate(spark, t)
    real = read_snapshot(spark, t).agg(
        F.sum("k"), F.avg("k"), F.count("k"),
        F.sum("v"), F.avg("v"), F.count("v"),
    ).collect()[0]
    assert got["sum"]["k"] == real[0] and type(got["sum"]["k"]) is int
    assert got["avg"]["k"] == real[1]
    assert got["nonnull"]["k"] == real[2]
    # nullable int column: SUM skips NULLs, AVG divides by COUNT(col)
    assert got["sum"]["v"] == real[3] and type(got["sum"]["v"]) is int
    assert got["avg"]["v"] == real[4]
    assert got["nonnull"]["v"] == real[5] < got["rows"]
    # double column: sums are integer-only — never recorded, never
    # returned (Spark's own double SUM is order-dependent).
    assert "f" not in got["sum"] and "f" not in got["avg"]
    # but its MIN/MAX still answer
    assert got["min"]["f"] == 0.0


def test_metadata_sum_all_null_column_is_sql_null(spark, tmp_path):
    from big_data_spark.io.snapshot import metadata_aggregate

    t = str(tmp_path / "msumnull")
    df = spark.range(10).selectExpr(
        "id AS k", "CAST(NULL AS BIGINT) AS v"
    )
    write_snapshot(df, t)
    got = metadata_aggregate(spark, t)
    assert got["sum"]["v"] is None and got["avg"]["v"] is None
    assert got["nonnull"]["v"] == 0
    assert got["sum"]["k"] == 45


def test_metadata_sum_overflow_refuses(spark, tmp_path):
    from big_data_spark.io.snapshot import metadata_aggregate

    t = str(tmp_path / "msumovf")
    # Each value is well inside 2^53 (min/max parse fine) but the
    # total hits 2^63 — where the real query's bigint SUM overflows.
    df = spark.range(2048).selectExpr(
        f"CAST({2**52} AS BIGINT) AS big", "id AS k"
    )
    write_snapshot(df.coalesce(2), t)
    got = metadata_aggregate(spark, t, columns=["k"])
    assert got["sum"]["k"] == 2048 * 2047 // 2
    with pytest.raises(ValueError, match="bigint range"):
        metadata_aggregate(spark, t, columns=["big"])


def test_metadata_sum_uncovered_omits_or_refuses(
    spark, tmp_path, monkeypatch
):
    """An integer column added by schema evolution is physically
    absent from the older files: metadata cannot answer it (their
    footers carry no MIN/MAX, so the aggregate refuses) while COUNT
    and the fully covered columns still answer. A sweep that records
    MIN/MAX but no sum for some file leaves the column out of sum/avg
    — omitted, never guessed."""
    from big_data_spark.io.snapshot import (
        analyze_table,
        append_snapshot,
        metadata_aggregate,
    )

    t = str(tmp_path / "msumcov")
    write_snapshot(spark.range(0, 100).selectExpr("id AS k").coalesce(2), t)
    append_snapshot(
        spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v"), t
    )
    analyze_table(spark, t, stats_columns=["k", "v"])
    with pytest.raises(ValueError, match="no usable footer stats for 'v'"):
        metadata_aggregate(spark, t, columns=["k", "v"])
    got = metadata_aggregate(spark, t, columns=["k"])
    assert got["rows"] == 110 and got["sum"]["k"] == sum(range(110))

    t2 = str(tmp_path / "msumcov2")
    real = sidecars._sweep_generation

    def without_v(*a, **k):
        files, rows, sums, nnn = real(*a, **k)
        for per_file in (sums, nnn):
            for cols in per_file.values():
                cols.pop("v", None)
        return files, rows, sums, nnn

    monkeypatch.setattr(sidecars, "_sweep_generation", without_v)
    write_snapshot(
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v").coalesce(2),
        t2,
    )
    monkeypatch.undo()
    append_snapshot(
        spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v"), t2
    )
    got2 = metadata_aggregate(spark, t2, columns=["k", "v"])
    assert got2["rows"] == 110
    assert got2["min"]["v"] == 0 and got2["max"]["v"] == 218
    assert got2["sum"]["k"] == sum(range(110))
    assert "v" not in got2["sum"] and "v" not in got2["avg"]


def test_metadata_aggregate_partition_columns_from_entry_keys(
    spark, tmp_path
):
    """Partition-column MIN/MAX composes from the live ENTRY KEYS
    (round-12 #10) instead of refusing; values follow the committed
    type (a zero-padded string key stays a string, an int key parses
    to int), and a dropped partition leaves the fold."""
    from big_data_spark.io.snapshot import (
        metadata_aggregate,
        write_snapshot_partial,
    )

    df = spark.createDataFrame(
        [(d, s, v) for d in (3, 11, 20) for s in ("a", "b")
         for v in range(4)],
        "d int, s string, v int",
    )
    t = str(tmp_path / "maggpart")
    write_snapshot_partial(
        df, t, 0, ["d", "s"],
        touched_keys=[(d, s) for d in (3, 11, 20) for s in ("a", "b")],
    )
    got = metadata_aggregate(spark, t, columns=["d", "s", "v"])
    assert got["min"]["d"] == 3 and got["max"]["d"] == 20
    assert type(got["min"]["d"]) is int
    assert got["min"]["s"] == "a" and got["max"]["s"] == "b"
    assert got["min"]["v"] == 0 and got["max"]["v"] == 3
    # partition cols never enter sum/avg (values live in dir names)
    assert "d" not in got["sum"] and got["sum"]["v"] == sum(
        r["v"] for r in df.collect()
    )
    # replace away d=20 entirely: the fold follows the LIVE entries
    empty = spark.createDataFrame([], "d int, s string, v int")
    write_snapshot_partial(
        empty, t, 1, ["d", "s"], touched_keys=[(20, "a"), (20, "b")]
    )
    got2 = metadata_aggregate(spark, t, columns=["d"])
    assert got2["max"]["d"] == 11
    # timestamp partition keys refuse loudly (session-rendered dirs)
    import datetime as dtm

    df_ts = spark.createDataFrame(
        [(dtm.datetime(2026, 1, 1), 1)], "ts timestamp, v int"
    )
    t2 = str(tmp_path / "maggts")
    write_snapshot_partial(
        df_ts, t2, 0, "ts", touched_keys=[dtm.datetime(2026, 1, 1)]
    )
    with pytest.raises(ValueError, match="order reliably"):
        metadata_aggregate(spark, t2, columns=["ts"])
