"""SQL DML door (big_data_spark/sqldml.py + catalog.SnapshotCatalog):
DELETE/UPDATE/MERGE statements route to the copy-on-write snapshot
primitives, views refresh after each commit, and everything outside
the documented subset raises loudly (no partial applies)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_spark.catalog import SnapshotCatalog, as_of
from big_data_spark.io import sidecars, table_writes
from big_data_spark.io.manifest import SnapshotConflict
from big_data_spark.io.snapshot import append_snapshot, read_snapshot
from big_data_spark.sqldml import execute_dml, is_dml
from tests.conftest import jobs_run


@pytest.fixture()
def cat(spark, tmp_path):
    t = str(tmp_path / "orders_t")
    rows = [
        (1, "O", 100.0, "a"),
        (2, "F", 200.0, "b"),
        (3, "O", 300.0, "c"),
        (4, "X", 400.0, "d"),
    ]
    append_snapshot(
        spark.createDataFrame(
            rows, "k int, status string, total double, who string"
        ),
        t,
        snapshot_id=0,
    )
    c = SnapshotCatalog(spark)
    c.register("orders_t", t)
    return c, t


def test_sql_delete_routes_and_refreshes(spark, cat):
    c, t = cat
    st = c.sql("DELETE FROM orders_t WHERE status = 'X'")
    assert st["statement_type"] == "DELETE" and st["deleted_rows"] == 1
    # The post-DML view reflects the commit without manual refresh.
    assert c.sql("SELECT count(*) AS n FROM orders_t").first()["n"] == 3
    # Time travel to the pre-DML version still works through SQL.
    assert c.sql("SELECT count(*) AS n FROM orders_t_v0").first()["n"] == 4


def test_sql_update_multi_set_with_expression(spark, cat):
    c, t = cat
    st = c.sql(
        "UPDATE orders_t SET total = total * 1.1, "
        "who = upper(concat(who, '!')) WHERE status = 'O'"
    )
    assert st["statement_type"] == "UPDATE" and st["updated_rows"] == 2
    got = {
        r["k"]: (round(r["total"], 2), r["who"])
        for r in read_snapshot(spark, t).collect()
    }
    assert got[1] == (110.0, "A!") and got[3] == (330.0, "C!")
    assert got[2] == (200.0, "b")  # non-matching untouched


def test_sql_merge_full_clause_set(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [
            (2, "F", 999.0, "upd"),   # matched -> UPDATE
            (4, "DEL", 0.0, "del"),   # matched + pred -> DELETE
            (9, "N", 50.0, "new"),    # not matched -> INSERT
            (8, "SKIP", 1.0, "no"),   # not matched, fails pred
        ],
        "k int, status string, total double, who string",
    ).createOrReplaceTempView("changes_src")
    st = c.sql(
        "MERGE INTO orders_t AS t USING changes_src AS s ON t.k = s.k "
        "WHEN MATCHED AND s.status = 'DEL' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.status != 'SKIP' THEN INSERT *"
    )
    assert st["statement_type"] == "MERGE"
    got = {r["k"]: r["who"] for r in read_snapshot(spark, t).collect()}
    assert got == {1: "a", 2: "upd", 3: "c", 9: "new"}


def test_sql_merge_delete_only_leaves_matches_unchanged(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [(1, "D"), (2, "KEEP")], "k int, op string"
    ).createOrReplaceTempView("del_src")
    c.sql(
        "MERGE INTO orders_t t USING del_src s ON t.k = s.k "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE"
    )
    got = {r["k"]: r["who"] for r in read_snapshot(spark, t).collect()}
    # Row 2 matched but only the DELETE clause exists: unchanged.
    assert got == {2: "b", 3: "c", 4: "d"}


def test_sql_merge_update_exprs_with_aliases(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [(2, 5.0)], "k int, delta double"
    ).createOrReplaceTempView("delta_src")
    c.sql(
        "MERGE INTO orders_t tgt USING delta_src src ON tgt.k = src.k "
        "WHEN MATCHED THEN UPDATE SET total = tgt.total + src.delta"
    )
    got = {r["k"]: r["total"] for r in read_snapshot(spark, t).collect()}
    assert got[2] == 205.0 and got[1] == 100.0


def test_unsupported_statements_raise_whole(spark, cat):
    c, t = cat
    before = read_snapshot(spark, t).count()
    for bad in (
        "DELETE FROM nowhere WHERE k = 1",
        "UPDATE orders_t SET = 5 WHERE k = 1",
        "MERGE INTO orders_t t USING orders_t s ON t.k < s.k "
        "WHEN MATCHED THEN DELETE",
        "MERGE INTO orders_t t USING orders_t s ON t.k = s.k "
        "WHEN MATCHED THEN TRUNCATE",
        "TRUNCATE TABLE orders_t",
    ):
        with pytest.raises(ValueError):
            execute_dml(spark, bad, c.tables)
    assert read_snapshot(spark, t).count() == before
    assert not is_dml("SELECT * FROM orders_t")
    # Non-DML routes to plain spark.sql through the same door.
    assert c.sql("SELECT max(k) AS m FROM orders_t").first()["m"] == 4


def test_lazy_registration_and_as_of(spark, tmp_path):
    t = str(tmp_path / "lazy_t")
    for g in range(3):
        append_snapshot(
            spark.range(g * 10, (g + 1) * 10).selectExpr("id AS k"),
            t,
            snapshot_id=g,
        )
    c = SnapshotCatalog(spark, versions="lazy")
    names = c.register("lazy_t", t)
    # No per-version views registered eagerly.
    assert [n for n in names if "_v" in n] == []
    assert c.sql("SELECT count(*) AS n FROM lazy_t").first()["n"] == 30
    # On-demand time travel materializes exactly one view.
    assert c.as_of("lazy_t", 0).count() == 10
    assert (
        spark.sql("SELECT count(*) AS n FROM lazy_t_v0").first()["n"] == 10
    )
    assert as_of(spark, t, 1).count() == 20


def test_sql_merge_swapped_aliases_route_correctly(spark, cat):
    """Round-8 advice (low): sequential alias rewriting corrupted
    statements whose aliases are the canonical names SWAPPED
    ('AS s ... AS t'): s.->t. then ALL t.->s. bound every reference
    to the source side. The single-pass rewrite must route each
    side correctly."""
    c, t = cat
    spark.createDataFrame(
        [(2, 5.0), (9, 1.0)], "k int, delta double"
    ).createOrReplaceTempView("swap_src")
    c.sql(
        "MERGE INTO orders_t s USING swap_src t ON s.k = t.k "
        "WHEN MATCHED THEN UPDATE SET total = s.total + t.delta"
    )
    got = {r["k"]: r["total"] for r in read_snapshot(spark, t).collect()}
    # s.total is the TARGET's 200.0 (not the source's delta).
    assert got[2] == 205.0 and got[1] == 100.0


def test_sql_merge_alias_inside_string_literal_survives(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [(1, 0.0)], "k int, delta double"
    ).createOrReplaceTempView("lit_src")
    c.sql(
        "MERGE INTO orders_t tgt USING lit_src src ON tgt.k = src.k "
        "WHEN MATCHED THEN UPDATE SET who = 'tgt. stays'"
    )
    got = {r["k"]: r["who"] for r in read_snapshot(spark, t).collect()}
    assert got[1] == "tgt. stays" and got[2] == "b"


def test_sql_merge_identical_aliases_refused(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [(1, 0.0)], "k int, delta double"
    ).createOrReplaceTempView("same_src")
    with pytest.raises(ValueError, match="share the alias"):
        c.sql(
            "MERGE INTO orders_t x USING same_src x ON x.k = x.k "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_insert_values_and_select(spark, cat):
    c, t = cat
    st = c.sql("INSERT INTO orders_t VALUES (5, 'O', 500.0, 'e'), (6, 'F', 600.0, 'f')")
    assert st["statement_type"] == "INSERT" and st["inserted_rows"] == 2
    got = read_snapshot(spark, t)
    assert got.count() == 6
    assert {r["k"] for r in got.collect()} == {1, 2, 3, 4, 5, 6}
    # Column-list form: unlisted columns arrive as typed NULLs,
    # values cast to the committed types (int literal -> double).
    c.sql("INSERT INTO orders_t (k, total) VALUES (7, 700)")
    row = read_snapshot(spark, t).where("k = 7").first()
    assert row["total"] == 700.0 and row["status"] is None
    # INSERT ... SELECT through Spark's own parser.
    spark.createDataFrame(
        [(8, "O", 800.0, "h")], "a int, b string, c double, d string"
    ).createOrReplaceTempView("ins_src")
    c.sql("INSERT INTO orders_t SELECT a, b, c, d FROM ins_src")
    assert read_snapshot(spark, t).count() == 8
    # The registered view refreshed (catalog round-trip).
    assert c.sql("SELECT count(*) AS n FROM orders_t").first()["n"] == 8


def test_sql_insert_keeps_generation_layout(spark, tmp_path):
    """INSERT INTO a table laid out on a column appends in that
    layout, so the column still reads back from its dirs."""
    t = str(tmp_path / "laid_out_t")
    append_snapshot(
        spark.createDataFrame([(1, 10)], "k int, d int"),
        t,
        partition_by="d",
    )
    c = SnapshotCatalog(spark)
    c.register("laid_out_t", t)
    st = c.sql("INSERT INTO laid_out_t VALUES (2, 20)")
    assert st["inserted_rows"] == 1
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == [
        (1, 10),
        (2, 20),
    ]


def test_sql_insert_errors(spark, cat):
    c, t = cat
    with pytest.raises(ValueError, match="not in"):
        c.sql("INSERT INTO orders_t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="supplies 1 column"):
        c.sql("INSERT INTO orders_t VALUES (1)")
    assert read_snapshot(spark, t).count() == 4


def test_sql_alter_rename_drop_widen(spark, cat):
    c, t = cat
    st = c.sql("ALTER TABLE orders_t RENAME COLUMN who TO owner")
    assert st["statement_type"] == "ALTER"
    assert "owner" in read_snapshot(spark, t).columns
    c.sql("ALTER TABLE orders_t DROP COLUMN owner")
    assert "owner" not in read_snapshot(spark, t).columns
    c.sql("ALTER TABLE orders_t ALTER COLUMN k TYPE bigint")
    got = read_snapshot(spark, t)
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 4
    # Registered view sees the evolved schema.
    assert "owner" not in c.sql("SELECT * FROM orders_t").columns
    with pytest.raises(ValueError, match="lossless"):
        c.sql("ALTER TABLE orders_t ALTER COLUMN status TYPE bigint")


def test_sql_merge_double_quoted_literal_survives(spark, cat):
    c, t = cat
    spark.createDataFrame(
        [(1, 0.0)], "k int, delta double"
    ).createOrReplaceTempView("dq_src")
    c.sql(
        "MERGE INTO orders_t tgt USING dq_src src ON tgt.k = src.k "
        'WHEN MATCHED THEN UPDATE SET who = "src. stays"'
    )
    got = {r["k"]: r["who"] for r in read_snapshot(spark, t).collect()}
    assert got[1] == "src. stays"


def test_sql_insert_alter_outside_subset_pass_through(spark, cat):
    """Code-review round 9: INSERT/ALTER shapes the dispatcher does
    not handle (catalog-qualified names, unregistered targets, ALTER
    VIEW) must keep flowing to plain spark.sql as before."""
    c, t = cat
    spark.createDataFrame([(1, "x")], "a int, b string").createOrReplaceTempView(
        "plain_v"
    )
    # ALTER VIEW is valid Spark SQL and not a snapshot-table ALTER.
    c.sql("ALTER VIEW plain_v AS SELECT 2 AS a, 'y' AS b")
    assert spark.table("plain_v").first()["a"] == 2
    # INSERT into an unregistered (non-snapshot) target passes
    # through; Spark itself rejects inserting into a temp view, and
    # that error (not the dispatcher's) must surface.
    import pyspark.sql.utils as _u

    with pytest.raises(Exception) as ei:
        c.sql("INSERT INTO plain_v VALUES (3, 'z')")
    assert "unsupported DML statement" not in str(ei.value)


def test_sql_insert_reports_landed_rows_once(spark, cat):
    """inserted_rows comes from the committed generation's parquet
    metadata, not a re-execution of the row source."""
    c, t = cat
    spark.createDataFrame(
        [(10, "O", 1.0, "x"), (11, "F", 2.0, "y")],
        "a int, b string, c double, d string",
    ).createOrReplaceTempView("cnt_src")
    st = c.sql("INSERT INTO orders_t SELECT a, b, c, d FROM cnt_src")
    assert st["inserted_rows"] == 2
    assert read_snapshot(spark, t).count() == 6


# ---- Round 10: SQL time travel, OPTIMIZE ZORDER, INSERT OVERWRITE ----


def test_sql_version_as_of_number_and_tag(spark, cat):
    from big_data_spark.io.snapshot import tag_snapshot

    c, t = cat
    c.sql("DELETE FROM orders_t WHERE status = 'X'")  # v1
    tag_snapshot(spark, t, "pre-delete", snapshot_id=0)
    n0 = c.sql(
        "SELECT count(*) AS n FROM orders_t VERSION AS OF 0"
    ).first()["n"]
    n_tag = c.sql(
        "SELECT count(*) AS n FROM orders_t VERSION AS OF 'pre-delete'"
    ).first()["n"]
    n_now = c.sql("SELECT count(*) AS n FROM orders_t").first()["n"]
    assert (n0, n_tag, n_now) == (4, 4, 3)
    with pytest.raises(ValueError, match="tag 'nope' not found"):
        c.sql("SELECT * FROM orders_t VERSION AS OF 'nope'")


def test_sql_timestamp_as_of(spark, cat):
    from big_data_spark.io.snapshot import read_manifest

    c, t = cat
    c.sql("DELETE FROM orders_t WHERE status = 'X'")  # v1
    ts0 = read_manifest(spark, t, 0)["committed_at_ms"]
    ts1 = read_manifest(spark, t, 1)["committed_at_ms"]
    # Epoch-millis literal.
    assert (
        c.sql(
            f"SELECT count(*) AS n FROM orders_t TIMESTAMP AS OF {ts0}"
        ).first()["n"]
        == 4
    )
    # Quoted ISO string (UTC), resolved through the manifest layer.
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(
        ts1 / 1000.0, tz=timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    assert (
        c.sql(
            f"SELECT count(*) AS n FROM orders_t TIMESTAMP AS OF '{iso}'"
        ).first()["n"]
        == 3
    )
    with pytest.raises(ValueError, match="committed at or before"):
        c.sql("SELECT * FROM orders_t TIMESTAMP AS OF 0")


def test_sql_time_travel_literal_and_join_safety(spark, cat):
    """String literals containing the keywords are never rewritten,
    and two travel clauses in one statement both resolve."""
    c, t = cat
    c.sql("DELETE FROM orders_t WHERE status = 'X'")  # v1
    row = c.sql(
        "SELECT 'orders_t VERSION AS OF 99' AS note, count(*) AS n "
        "FROM orders_t VERSION AS OF 0"
    ).first()
    assert row["note"] == "orders_t VERSION AS OF 99" and row["n"] == 4
    both = c.sql(
        "SELECT (SELECT count(*) FROM orders_t VERSION AS OF 0) AS a, "
        "(SELECT count(*) FROM orders_t VERSION AS OF 1) AS b"
    ).first()
    assert (both["a"], both["b"]) == (4, 3)


def test_sql_optimize_zorder(spark, cat):
    c, t = cat
    st = c.sql("OPTIMIZE orders_t ZORDER BY (k, total)")
    assert st["statement_type"] == "OPTIMIZE"
    assert st["zorder_by"] == ["k", "total"]
    assert st["snapshot_id"] == 1  # one atomic maintenance commit
    # Content unchanged by the maintenance rewrite.
    assert c.sql("SELECT count(*) AS n FROM orders_t").first()["n"] == 4
    got = {r["k"] for r in read_snapshot(spark, t).collect()}
    assert got == {1, 2, 3, 4}


def test_sql_insert_overwrite(spark, cat):
    c, t = cat
    st = c.sql(
        "INSERT OVERWRITE orders_t VALUES (9, 'O', 9.0, 'z')"
    )
    assert st["statement_type"] == "INSERT OVERWRITE"
    assert st["inserted_rows"] == 1
    assert c.sql("SELECT count(*) AS n FROM orders_t").first()["n"] == 1
    # Old version still time-travelable.
    assert (
        c.sql("SELECT count(*) AS n FROM orders_t VERSION AS OF 0").first()[
            "n"
        ]
        == 4
    )


def test_ctas_dml_travel_drop_roundtrip(spark, tmp_path):
    """The full SQL-only lifecycle (round-10 verdict #3): CREATE
    TABLE AS SELECT -> INSERT -> UPDATE -> time travel -> DROP TABLE,
    every step a SQL string through one catalog."""
    import os

    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "k int, grp string, amt double",
    ).createOrReplaceTempView("src_rows")
    st = c.sql("CREATE TABLE fact AS SELECT * FROM src_rows")
    assert st["statement_type"] == "CREATE TABLE" and st["rows"] == 3
    tdir = st["table_dir"]
    assert os.path.isdir(f"{tdir}/_manifests")
    assert c.sql("SELECT count(*) AS n FROM fact").collect()[0]["n"] == 3
    c.sql("INSERT INTO fact VALUES (4, 'b', 40.0)")
    st2 = c.sql("UPDATE fact SET amt = amt + 1 WHERE grp = 'a'")
    assert st2["updated_rows"] == 2
    # Time travel back to the CTAS version through the SQL spelling.
    v0 = c.sql("SELECT sum(amt) AS s FROM fact VERSION AS OF 0")
    assert v0.collect()[0]["s"] == 60.0
    now = c.sql("SELECT sum(amt) AS s FROM fact")
    assert now.collect()[0]["s"] == 102.0
    st3 = c.sql("DROP TABLE fact")
    assert st3["dropped"] is True and "fact" not in c.tables
    assert not os.path.exists(tdir)
    # Views are gone too — the name no longer resolves.
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        spark.sql("SELECT * FROM fact").collect()


def test_ctas_partitioned_by_creates_partitioned_table(spark, tmp_path):
    from big_data_spark.io.snapshot import latest_manifest

    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.createDataFrame(
        [("2026-01-01", "eu", 1), ("2026-01-01", "us", 2),
         ("2026-01-02", "eu", 3)],
        "ds string, region string, v int",
    ).createOrReplaceTempView("src_part")
    st = c.sql(
        "CREATE TABLE pfact PARTITIONED BY (ds, region) "
        "AS SELECT * FROM src_part"
    )
    assert st["partitioned_by"] == ["ds", "region"] and st["rows"] == 3
    man = latest_manifest(spark, c.tables["pfact"])
    assert man["partition_col"] == ["ds", "region"]
    assert sorted(man["entries"]) == [
        "ds=2026-01-01/region=eu",
        "ds=2026-01-01/region=us",
        "ds=2026-01-02/region=eu",
    ]
    # The created table takes partial writes (the partitioned
    # contract survives CTAS).
    st2 = c.sql("DELETE FROM pfact WHERE v = 2")
    assert st2["deleted_rows"] == 1
    assert c.sql("SELECT count(*) AS n FROM pfact").collect()[0]["n"] == 2


def test_ctas_and_drop_guards(spark, tmp_path):
    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.range(3).createOrReplaceTempView("src_g")
    c.sql("CREATE TABLE g1 AS SELECT id FROM src_g")
    # Re-creating a registered name is refused.
    with pytest.raises(ValueError, match="already registered"):
        c.sql("CREATE TABLE g1 AS SELECT id FROM src_g")
    # A non-empty target location is refused (CTAS never adopts).
    victim = tmp_path / "precious"
    victim.mkdir()
    (victim / "data.txt").write_text("keep me")
    with pytest.raises(ValueError, match="not empty"):
        c.sql(
            f"CREATE TABLE g2 LOCATION '{victim}' AS SELECT id FROM src_g"
        )
    assert (victim / "data.txt").read_text() == "keep me"
    # DROP refuses a registration that is not a snapshot table.
    c.tables["fake"] = str(victim)
    with pytest.raises(ValueError, match="refusing the recursive delete"):
        c.sql("DROP TABLE fake")
    assert (victim / "data.txt").exists()
    # No base_dir and no LOCATION: NOT claimed — a plain Spark-catalog
    # CTAS must keep working through spark.sql (round-11 review).
    from big_data_spark.sqldml import route_statement

    assert (
        route_statement(
            spark, "CREATE TABLE nowhere AS SELECT id FROM src_g", {}
        )
        is None
    )
    # DROP TABLE of names outside the catalog passes through; inside
    # the catalog it routes regardless of keyword whitespace.
    assert route_statement(spark, "DROP TABLE some_view", {}) is None
    c3 = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake3"))
    c3.sql("CREATE TABLE g3 AS SELECT id FROM src_g")
    st = c3.sql("DROP\n  TABLE g3")
    assert st["dropped"] is True


def test_describe_detail_and_tag_views(spark, tmp_path):
    """DESCRIBE DETAIL returns the one-row manifest summary; tagged
    versions register as `name_tag_<tag>` views."""
    from big_data_spark.io.snapshot import (
        tag_snapshot,
        write_snapshot,
        write_snapshot_partial,
    )

    t = str(tmp_path / "detail_t")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "part string, v int"
    )
    write_snapshot_partial(df, t, 0, "part", touched_keys=["a", "b"])
    tag_snapshot(spark, t, "train-v1", snapshot_id=0)
    write_snapshot_partial(
        spark.createDataFrame([("a", 9)], "part string, v int"),
        t,
        1,
        "part",
        touched_keys=["a"],
    )
    c = SnapshotCatalog(spark)
    c.register("detail_t", t)
    d = c.sql("DESCRIBE DETAIL detail_t").collect()[0]
    assert d["snapshot_id"] == 1
    assert d["partition_columns"] == ["part"]
    assert d["n_entries"] == 2 and d["n_generations"] == 2
    assert d["n_data_files"] >= 2 and d["total_bytes"] > 0
    assert d["n_tags"] == 1 and d["n_columns"] == 2
    assert d["stats_covered_generations"] == 2
    assert d["stats_columns"] == ["v"]
    # The pinned version reads through the tag-named view (folded
    # chars gain a raw-tag hash so distinct tags never collide).
    from big_data_spark.catalog import _tag_view_name

    vname = _tag_view_name("detail_t", "train-v1")
    got = spark.sql(f"SELECT sum(v) AS s FROM {vname}").collect()[0]["s"]
    assert got == 6  # v0 content, not the rewritten partition
    assert (
        spark.sql("SELECT sum(v) AS s FROM detail_t").collect()[0]["s"]
        == 12
    )
    # DROP removes the tag views with the rest.
    c.sql("DROP TABLE detail_t")
    with pytest.raises(Exception):
        spark.sql(f"SELECT * FROM {vname}").collect()


def test_drop_spares_sibling_tables_views(spark, tmp_path):
    """DROP TABLE orders must not drop the main view of another
    registered table that merely LOOKS like a version view
    (round-11 review)."""
    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.range(3).createOrReplaceTempView("src_s")
    c.sql("CREATE TABLE orders9 AS SELECT id FROM src_s")
    c.sql("CREATE TABLE orders9_v2 AS SELECT id FROM src_s")
    c.sql("DROP TABLE orders9")
    assert "orders9_v2" in c.tables
    assert spark.sql("SELECT count(*) AS n FROM orders9_v2").collect()[
        0
    ]["n"] == 3


def test_failed_ctas_cleans_its_target(spark, tmp_path):
    """A CTAS whose write fails (null partition key) removes its own
    residue so the corrected retry is not blocked by the 'never
    adopts' guard (round-11 review pass 2)."""
    import os

    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.createDataFrame(
        [("x", 1), (None, 2)], "p string, v int"
    ).createOrReplaceTempView("src_nullp")
    with pytest.raises(Exception, match="null partition keys"):
        c.sql(
            "CREATE TABLE nt PARTITIONED BY (p) AS SELECT * FROM src_nullp"
        )
    assert not os.path.exists(str(tmp_path / "lake" / "nt"))
    # Corrected retry succeeds at the same location.
    spark.sql("SELECT * FROM src_nullp WHERE p IS NOT NULL") \
        .createOrReplaceTempView("src_okp")
    st = c.sql("CREATE TABLE nt PARTITIONED BY (p) AS SELECT * FROM src_okp")
    assert st["rows"] == 1


def test_tag_views_case_and_fold_safe(spark, tmp_path):
    """Tags differing only by case (temp views are case-insensitive)
    or only by a folded character ('v-1' vs 'v.1') register as
    DISTINCT, valid views (tag_snapshot already restricts tags to
    ASCII [A-Za-z0-9._-], so Unicode never reaches the fold)."""
    from big_data_spark.catalog import _tag_view_name
    from big_data_spark.io.snapshot import tag_snapshot, write_snapshot

    t = str(tmp_path / "casetag")
    write_snapshot(spark.range(3).selectExpr("id AS k"), t, snapshot_id=0)
    write_snapshot(spark.range(5).selectExpr("id AS k"), t, snapshot_id=1)
    tag_snapshot(spark, t, "V1", snapshot_id=0)
    tag_snapshot(spark, t, "v1", snapshot_id=1)
    tag_snapshot(spark, t, "v-1", snapshot_id=0)
    tag_snapshot(spark, t, "v.1", snapshot_id=1)
    c = SnapshotCatalog(spark)
    c.register("casetag", t)
    names = {
        _tag_view_name("casetag", x) for x in ("V1", "v1", "v-1", "v.1")
    }
    assert len({n.lower() for n in names}) == 4  # case-insens. distinct
    upper = _tag_view_name("casetag", "V1")
    lower = _tag_view_name("casetag", "v1")
    assert spark.sql(f"SELECT count(*) AS n FROM {upper}").collect()[0][
        "n"
    ] == 3
    assert spark.sql(f"SELECT count(*) AS n FROM {lower}").collect()[0][
        "n"
    ] == 5


def test_losing_concurrent_ctas_spares_the_winners_table(
    spark, tmp_path, monkeypatch
):
    """A CTAS losing the commit race must NOT delete the location —
    it now holds the WINNER's committed table (round-11 review pass
    3: the failure-cleanup handler deleted on any exception)."""
    import os

    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.range(5).selectExpr("id AS k").createOrReplaceTempView("src_w")

    real_commit = table_writes.commit_manifest
    raced = {"done": False}

    def winner_lands_first(spark_, table_dir, man, **kw):
        if not raced["done"]:
            raced["done"] = True
            # The concurrent winner commits the SAME id first.
            real_commit(
                spark_,
                table_dir,
                {**man, "entries": {"": "_data/s=999"}},
                stats=None,
            )
        return real_commit(spark_, table_dir, man, **kw)

    monkeypatch.setattr(
        table_writes, "commit_manifest", winner_lands_first
    )
    with pytest.raises(SnapshotConflict):
        c.sql("CREATE TABLE raced AS SELECT k FROM src_w")
    monkeypatch.undo()
    # The winner's manifest survives the loser's failure.
    tdir = str(tmp_path / "lake" / "raced")
    assert os.path.exists(f"{tdir}/_manifests/manifest-000000000000.json")


def test_drop_views_case_insensitive_and_tagless_siblings(
    spark, tmp_path
):
    """DROP of a mixed-case table removes ITS views; a sibling table
    named like a tag view keeps all of its sub-views (round-11 review
    pass 3)."""
    c = SnapshotCatalog(spark, base_dir=str(tmp_path / "lake"))
    spark.range(2).selectExpr("id AS k").createOrReplaceTempView("src_c")
    c.sql("CREATE TABLE Mixed AS SELECT k FROM src_c")
    c.sql("CREATE TABLE orders10 AS SELECT k FROM src_c")
    c.sql("CREATE TABLE orders10_tag_gold AS SELECT k FROM src_c")
    c.sql("DROP TABLE Mixed")
    # Spark lowercases temp-view names; the dropped table's views are
    # gone despite the case difference.
    with pytest.raises(Exception):
        spark.sql("SELECT * FROM mixed").collect()
    c.sql("DROP TABLE orders10")
    # The sibling whose NAME looks like a tag view keeps its main AND
    # sub-views.
    assert spark.sql(
        "SELECT count(*) AS n FROM orders10_tag_gold"
    ).collect()[0]["n"] == 2
    assert spark.sql(
        "SELECT count(*) AS n FROM orders10_tag_gold_history"
    ).collect()[0]["n"] >= 1


def test_show_partitions_lists_live_leaves(spark, tmp_path):
    """SHOW PARTITIONS t: one row per live partition leaf, typed
    values + file counts from the manifest — including multi-column
    partitioning, where Spark's own SHOW PARTITIONS can't answer at
    all (the tables register as temp views)."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "showp_t")
    df = spark.createDataFrame(
        [("2026-01-01", "eu", 1), ("2026-01-01", "us", 2),
         ("2026-01-02", "eu", 3)],
        "day string, region string, v int",
    )
    write_snapshot_partial(
        df, t, 0, ["day", "region"],
        touched_keys=[("2026-01-01", "eu"), ("2026-01-01", "us"),
                      ("2026-01-02", "eu")],
    )
    c = SnapshotCatalog(spark)
    c.register("showp_t", t)
    rows = c.sql("SHOW PARTITIONS showp_t").collect()
    assert [(r["day"], r["region"]) for r in rows] == [
        ("2026-01-01", "eu"), ("2026-01-01", "us"), ("2026-01-02", "eu"),
    ]
    assert all(r["n_files"] >= 1 and r["total_bytes"] > 0 for r in rows)
    # replacing one leaf keeps the listing current
    write_snapshot_partial(
        spark.createDataFrame([("2026-01-02", "eu", 9)],
                              "day string, region string, v int"),
        t, 1, ["day", "region"], touched_keys=[("2026-01-02", "eu")],
    )
    c.refresh("showp_t")
    rows2 = c.sql("SHOW PARTITIONS showp_t").collect()
    assert len(rows2) == 3


def test_show_partitions_refuses_unpartitioned(spark, tmp_path):
    from big_data_spark.io.snapshot import write_snapshot

    t = str(tmp_path / "showp_flat")
    write_snapshot(spark.range(5).selectExpr("id AS k"), t)
    c = SnapshotCatalog(spark)
    c.register("showp_flat", t)
    with pytest.raises(ValueError, match="not.*partitioned"):
        c.sql("SHOW PARTITIONS showp_flat")


def test_show_partitions_unregistered_passes_through(spark):
    """An unregistered name keeps Spark's own behavior (its error,
    its output) — the claim is for registered snapshot tables only."""
    c = SnapshotCatalog(spark)
    spark.range(3).createOrReplaceTempView("showp_view")
    with pytest.raises(Exception):
        c.sql("SHOW PARTITIONS showp_view")


# -------------------------------------- persistent catalog (round 12)

def test_persistent_catalog_survives_sessions(spark, tmp_path):
    """Round-12 directive #2 done-criterion: CTAS in one
    catalog/session, SELECT + DROP in a FRESH one — the warehouse
    registry (one binding file per table under base_dir/_catalog/,
    round 13) carries the binding."""
    import os

    base = str(tmp_path / "wh")
    cat1 = SnapshotCatalog(spark, base_dir=base)
    st = cat1.sql(
        "CREATE TABLE pt AS SELECT id AS k, id * 2 AS v FROM range(100)"
    )
    assert st["statement_type"] == "CREATE TABLE" and st["rows"] == 100
    assert os.path.exists(f"{base}/_catalog/pt.json")

    s2 = spark.newSession()
    cat2 = SnapshotCatalog(s2, base_dir=base)
    assert cat2.tables["pt"] == f"{base}/pt"
    got = cat2.sql("SELECT count(*) AS n FROM pt").collect()[0]["n"]
    assert got == 100
    st2 = cat2.sql("DROP TABLE pt")
    assert st2["dropped"] is True

    cat3 = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert "pt" not in cat3.tables
    assert not os.path.isdir(f"{base}/pt")


def test_register_is_session_only_unless_persisted(spark, tmp_path):
    import os

    base = str(tmp_path / "wh2")
    t = str(tmp_path / "ext")
    append_snapshot(
        spark.range(5).selectExpr("id AS k", "id * 1.0 AS v"), t
    )
    cat = SnapshotCatalog(spark, base_dir=base)
    cat.register("adhoc", t)  # session-only by default
    fresh = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert "adhoc" not in fresh.tables
    cat.register("pinned", t, persist=True)
    fresh2 = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert fresh2.tables["pinned"] == t
    assert (
        fresh2.sql("SELECT count(*) AS n FROM pinned").collect()[0]["n"]
        == 5
    )
    # persist without a base_dir refuses loudly
    nocat = SnapshotCatalog(spark)
    with pytest.raises(ValueError, match="base_dir"):
        nocat.register("x", t, persist=True)
    assert os.path.exists(f"{base}/_catalog/pinned.json")


def test_persistent_catalog_tolerates_vanished_dir(spark, tmp_path):
    """A registry entry whose dir was removed out-of-band still loads
    (binding kept, no views) and DROP releases it instead of wedging
    the registry forever."""
    import shutil

    base = str(tmp_path / "wh3")
    cat = SnapshotCatalog(spark, base_dir=base)
    cat.sql("CREATE TABLE ghost AS SELECT id FROM range(3)")
    shutil.rmtree(f"{base}/ghost")
    cat2 = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert "ghost" in cat2.tables  # binding survives, loudly broken
    st = cat2.sql("DROP TABLE ghost")
    assert st["dropped"] is False  # nothing to delete; binding freed
    cat3 = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert "ghost" not in cat3.tables


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_concurrent_ctas_both_bindings_survive(spark, tmp_path, seed):
    """Round-12 verdict directive #1 done-criterion: two catalogs on
    ONE warehouse CTAS different names CONCURRENTLY — both bindings
    survive a fresh SnapshotCatalog(base_dir=) load. Per-table
    binding files make the writes disjoint; the old whole-file layout
    lost whichever save landed first."""
    import threading

    base = str(tmp_path / f"whc{seed}")
    names = (f"ca{seed}", f"cb{seed}")
    gate = threading.Barrier(2)
    errs: list[Exception] = []

    def ctas(name: str) -> None:
        try:
            c = SnapshotCatalog(spark.newSession(), base_dir=base)
            gate.wait(timeout=60)
            c.sql(
                f"CREATE TABLE {name} AS "
                f"SELECT id + {seed} AS k FROM range(50)"
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [
        threading.Thread(target=ctas, args=(n,)) for n in names
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errs, errs
    fresh = SnapshotCatalog(spark.newSession(), base_dir=base)
    for n in names:
        assert fresh.tables[n] == f"{base}/{n}"
        assert (
            fresh.sql(f"SELECT count(*) AS n FROM {n}").collect()[0]["n"]
            == 50
        )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_drop_racing_ctas_loses_neither(spark, tmp_path, seed):
    """DROP TABLE of one name racing a CTAS of ANOTHER name: the drop
    releases exactly its own binding and the concurrent CTAS's
    binding survives (the old layout let the dropper's whole-file
    save erase the CTAS)."""
    import threading

    base = str(tmp_path / f"whd{seed}")
    setup = SnapshotCatalog(spark.newSession(), base_dir=base)
    setup.sql(f"CREATE TABLE dead{seed} AS SELECT id FROM range(10)")

    gate = threading.Barrier(2)
    errs: list[Exception] = []

    def run(stmt: str) -> None:
        try:
            c = SnapshotCatalog(spark.newSession(), base_dir=base)
            gate.wait(timeout=60)
            c.sql(stmt)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [
        threading.Thread(target=run, args=(f"DROP TABLE dead{seed}",)),
        threading.Thread(
            target=run,
            args=(
                f"CREATE TABLE live{seed} AS SELECT id FROM range(20)",
            ),
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errs, errs
    fresh = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert f"dead{seed}" not in fresh.tables
    assert fresh.tables[f"live{seed}"] == f"{base}/live{seed}"
    assert (
        fresh.sql(f"SELECT count(*) AS n FROM live{seed}").collect()[0][
            "n"
        ]
        == 20
    )


def test_many_table_warehouse_bulk_load(spark, tmp_path):
    """Past 32 binding files the registry loads in ONE distributed
    text scan (a 1000-table warehouse on an object store must not
    pay 1000 serial round trips) and the bindings come back exactly."""
    import os

    base = str(tmp_path / "whbulk")
    cat = SnapshotCatalog(spark, versions="lazy", base_dir=base)
    names = [f"bt{i:02d}" for i in range(36)]
    for i, n in enumerate(names):
        t = str(tmp_path / f"bulk_{n}")
        append_snapshot(
            spark.range(i + 1).selectExpr("id AS k"), t
        )
        cat.register(n, t, persist=True)
    assert len(os.listdir(f"{base}/_catalog")) >= 36
    fresh = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert set(fresh.tables) == set(names)
    assert (
        fresh.sql("SELECT count(*) AS n FROM bt35").collect()[0]["n"]
        == 36
    )


def test_ctas_refuses_reserved_catalog_name(spark, tmp_path):
    base = str(tmp_path / "whr")
    cat = SnapshotCatalog(spark, base_dir=base)
    with pytest.raises(ValueError, match="reserved"):
        cat.sql("CREATE TABLE _catalog AS SELECT id FROM range(3)")


def test_show_tables_and_alter_repartition(spark, tmp_path):
    base = str(tmp_path / "wh4")
    cat = SnapshotCatalog(spark, versions="lazy", base_dir=base)
    cat.sql(
        "CREATE TABLE rt PARTITIONED BY (ds) AS "
        "SELECT CAST(id % 3 AS STRING) AS ds, id AS k, id * 2 AS v "
        "FROM range(90)"
    )
    t2 = str(tmp_path / "ext4")
    append_snapshot(spark.range(4).selectExpr("id AS k"), t2)
    cat.register("adhoc", t2)
    rows = {
        (r["table_name"], r["persisted"])
        for r in cat.sql("SHOW SNAPSHOT TABLES").collect()
    }
    assert rows == {("rt", True), ("adhoc", False)}
    # widen the spec through SQL: one atomic maintenance rewrite
    st = cat.sql("ALTER TABLE rt REPARTITION BY (ds, k)")
    assert st["statement_type"] == "REPARTITION"
    assert st["partition_col"] == ["ds", "k"]
    assert (
        cat.sql("SELECT count(*) AS n FROM rt").collect()[0]["n"] == 90
    )
    st2 = cat.sql("ALTER TABLE rt REPARTITION BY NONE")
    assert st2["partition_col"] is None and st2["n_entries"] == 1
    assert (
        cat.sql("SELECT sum(v) AS s FROM rt").collect()[0]["s"]
        == sum(i * 2 for i in range(90))
    )
    # column-evolution ALTERs still route to evolve_schema unharmed
    cat.sql("ALTER TABLE rt RENAME COLUMN v TO val")
    assert (
        cat.sql("SELECT sum(val) AS s FROM rt").collect()[0]["s"]
        == sum(i * 2 for i in range(90))
    )


def test_optimize_partition_scoped(spark, tmp_path):
    """OPTIMIZE t PARTITION (ds = 'x') [ZORDER BY (...)] — the SQL
    spelling of the partition-scoped rewrite: only the selected
    partition's entry changes; the rest carry by reference."""
    from big_data_spark.io.snapshot import (
        latest_manifest,
        write_snapshot_partial,
    )

    base = str(tmp_path / "wh5")
    cat = SnapshotCatalog(spark, versions="lazy", base_dir=base)
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(100)],
        "k long, ds string, v double",
    )
    tdir = f"{base}/ot"
    write_snapshot_partial(df, tdir, 0, "ds", ["x", "y"])
    write_snapshot_partial(
        df.filter("ds = 'x'").repartition(6), tdir, 1, "ds", ["x"]
    )
    cat.register("ot", tdir)
    man = latest_manifest(spark, tdir)
    st = cat.sql("OPTIMIZE ot PARTITION (ds = 'x') ZORDER BY (k, v)")
    assert st["statement_type"] == "OPTIMIZE"
    assert st["partitions"] == {"ds": "x"}
    man2 = latest_manifest(spark, tdir)
    assert man2["entries"]["y"] == man["entries"]["y"]  # carried
    assert man2["entries"]["x"] != man["entries"]["x"]  # rewritten
    got = cat.sql("SELECT sum(v) AS s FROM ot").collect()[0]["s"]
    assert got == sum(float(i) for i in range(100))
    with pytest.raises(ValueError, match="cannot parse"):
        cat.sql("OPTIMIZE ot PARTITION (ds = x)")  # bare identifier


def test_count_star_metadata_fast_path(spark, tmp_path):
    """A bare SELECT COUNT(*) over a registered snapshot table
    answers from metadata (zero jobs) with the SAME result and column
    name as the real query; refusal cases (MOR masks) silently fall
    through to spark.sql."""
    import big_data_spark.io.stats as stats_mod

    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "cnt")
    append_snapshot(
        spark.range(123).selectExpr("id AS k", "id * 2 AS v"), t
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("cnt", t)
    real = spark.sql("SELECT COUNT(*) FROM cnt")
    got = cat.sql("SELECT COUNT(*) FROM cnt")
    assert got.columns == real.columns == ["count(1)"]
    assert got.collect()[0][0] == real.collect()[0][0] == 123
    assert cat.sql(
        "select count( * ) as n from cnt"
    ).collect()[0]["n"] == 123
    # zero scan work: the fast path builds a local one-row DataFrame
    assert got.inputFiles() == []
    # anything beyond the bare shape passes through untouched
    assert (
        cat.sql("SELECT COUNT(*) FROM cnt WHERE k < 10").collect()[0][0]
        == 10
    )
    # MOR masks refuse metadata -> the real query answers, exactly
    delete_where(spark, t, "k % 2 = 0", mode="mor")
    cat.refresh("cnt")
    assert cat.sql("SELECT COUNT(*) FROM cnt").collect()[0][0] == 61


def _sig(df):
    """(name, type, nullable) per field — field METADATA is excluded
    on purpose (Spark tags auto-aliased aggregates with
    __autoGeneratedAlias; invisible to results and to the gate)."""
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def test_metadata_aggregate_fast_path_equivalence(spark, tmp_path):
    """Round-12 directive #2 done-criterion, part 1: every bare
    COUNT(*)/MIN/MAX/SUM/AVG list over a registered snapshot table
    answers from metadata with a LITERAL plan (zero input files) and
    is value- and schema-identical to the passthrough query — before
    and after DML."""
    t = str(tmp_path / "magg")
    append_snapshot(
        spark.sql(
            "SELECT id AS k, CAST(id * 2 AS INT) AS vi, "
            "id * 1.5E0 AS vd, "
            "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,"
            "CAST(id AS INT),0,0,0) AS ts, "
            "CASE WHEN id % 7 = 0 THEN NULL ELSE "
            "concat('s', lpad(CAST(id AS STRING), 3, '0')) END AS s "
            "FROM range(100)"
        ),
        t,
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("magg", t)
    shapes = [
        "SELECT COUNT(*), MIN(ts), MAX(ts) FROM magg",
        "SELECT MIN(k) AS lo, MAX(k) AS hi, SUM(k) AS sk, "
        "AVG(k) AS ak, COUNT(*) AS n FROM magg",
        "SELECT MIN(vd), MAX(vd) FROM magg",
        "SELECT SUM(vi) FROM magg",
        "select min(vi) as m, count( * ) from magg;",
    ]

    def check_all():
        for q in shapes:
            fast = cat.sql(q)
            real = spark.sql(q)
            assert fast.inputFiles() == [], q  # literal plan
            assert _sig(fast) == _sig(real), q
            with jobs_run(spark) as counted:
                got = list(fast.collect()[0])
            assert got == list(real.collect()[0]), q
            # Both builders answer in one task: the first shape's
            # timestamps decline the JVM literals and take the
            # one-slice createDataFrame.
            assert counted["tasks"] <= 1, (q, counted)

    check_all()
    # post-DML: the refresh re-pins the view and the fast path keeps
    # answering the NEW state exactly
    cat.sql("DELETE FROM magg WHERE k >= 90")
    cat.sql("UPDATE magg SET vi = vi + 1 WHERE k < 5")
    check_all()
    assert (
        cat.sql("SELECT COUNT(*) AS n FROM magg").collect()[0]["n"]
        == 90
    )


def test_metadata_aggregate_fast_path_fallthroughs(spark, tmp_path):
    """Part 2: every refusal falls through to a REAL query — MOR
    masks, a decimal column, SUM/AVG over a non-integer column, a
    stats-uncovered column, and any shape outside the bare list —
    with the passthrough's exact answer."""
    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "mfall")
    append_snapshot(
        spark.sql(
            "SELECT id AS k, CAST(id AS DECIMAL(10,2)) AS dec, "
            "id * 1.0E0 AS vd FROM range(50)"
        ),
        t,
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("mfall", t)
    # fast path live for the integer column
    fast = cat.sql("SELECT MIN(k), MAX(k) FROM mfall")
    assert fast.inputFiles() == []
    # decimal MIN/MAX: refused upstream -> scan plan, right answer
    d = cat.sql("SELECT MIN(dec) AS m FROM mfall")
    assert d.inputFiles() != []
    assert str(d.collect()[0]["m"]) == "0.00"
    # SUM/AVG of a double: metadata never covers it -> scan plan
    s = cat.sql("SELECT SUM(vd) AS s FROM mfall")
    assert s.inputFiles() != [] and s.collect()[0]["s"] == 1225.0
    # mixed list where ONE item refuses: whole statement falls through
    mixed = cat.sql("SELECT MIN(k) AS a, SUM(vd) AS b FROM mfall")
    assert mixed.inputFiles() != []
    assert list(mixed.collect()[0]) == [0, 1225.0]
    # WHERE / GROUP BY / expressions: never claimed
    w = cat.sql("SELECT COUNT(*) AS n FROM mfall WHERE k < 10")
    assert w.inputFiles() != [] and w.collect()[0]["n"] == 10
    # MOR masks: metadata refuses, real query answers
    delete_where(spark, t, "k % 2 = 0", mode="mor")
    cat.refresh("mfall")
    m = cat.sql("SELECT COUNT(*) AS n, MIN(k) AS lo FROM mfall")
    assert m.inputFiles() != []
    assert list(m.collect()[0]) == [25, 1]


def test_metadata_fast_path_time_travel(spark, tmp_path):
    """Round-13 optional #9: both time-travel spellings — the
    `t_vN` view name and `t VERSION AS OF n` — answer bare aggregate
    lists from the PINNED version's manifest with a literal plan;
    a literal table whose NAME ends in _vN still wins over the
    interpretation, and a nonexistent version falls through."""
    t = str(tmp_path / "tt")
    append_snapshot(spark.range(10).selectExpr("id AS k"), t)  # v0
    append_snapshot(
        spark.range(100, 105).selectExpr("id AS k"), t
    )  # v1
    cat = SnapshotCatalog(spark)  # eager: t_v0/t_v1 views exist
    cat.register("tt", t)
    for q, want in [
        ("SELECT COUNT(*) AS n, MAX(k) AS hi FROM tt_v0", [10, 9]),
        ("SELECT COUNT(*) AS n, MAX(k) AS hi FROM tt_v1", [15, 104]),
        (
            "SELECT COUNT(*) AS n, MAX(k) AS hi FROM tt "
            "VERSION AS OF 0",
            [10, 9],
        ),
        ("SELECT COUNT(*) AS n FROM tt", [15]),
    ]:
        df = cat.sql(q)
        assert df.inputFiles() == [], q  # literal plan
        assert list(df.collect()[0]) == want, q
    # matches the real view query exactly
    assert (
        cat.sql("SELECT COUNT(*) FROM tt_v0").collect()[0][0]
        == spark.sql("SELECT COUNT(*) FROM tt_v0").collect()[0][0]
    )
    # tag and timestamp spellings pin through the SAME resolution as
    # the passthrough and answer metadata-only too
    from big_data_spark.io.snapshot import read_manifest, tag_snapshot

    tag_snapshot(spark, t, "gold", snapshot_id=0)
    g = cat.sql("SELECT COUNT(*) AS n, MAX(k) AS hi FROM tt VERSION AS OF 'gold'")
    assert g.inputFiles() == [] and list(g.collect()[0]) == [10, 9]
    ts0 = read_manifest(spark, t, 0)["committed_at_ms"]
    ts = cat.sql(f"SELECT COUNT(*) AS n FROM tt TIMESTAMP AS OF {ts0}")
    assert ts.inputFiles() == [] and ts.collect()[0]["n"] == 10
    # a missing tag declines the fast path and raises the canonical
    # passthrough error
    with pytest.raises(ValueError, match="not found"):
        cat.sql("SELECT COUNT(*) FROM tt VERSION AS OF 'nope'")
    # a REAL registered table literally named with a _vN suffix wins
    t2 = str(tmp_path / "tt_v9")
    append_snapshot(spark.range(3).selectExpr("id AS k"), t2)
    cat.register("tt_v9", t2)
    assert (
        cat.sql("SELECT COUNT(*) AS n FROM tt_v9").collect()[0]["n"]
        == 3
    )
    # nonexistent version: metadata refuses, passthrough decides
    # (here: no such view -> AnalysisException, same as before)
    with pytest.raises(Exception):
        cat.sql("SELECT COUNT(*) FROM tt_v7").collect()


def test_describe_detail_exposes_sidecar_file_count(spark, tmp_path):
    from big_data_spark.io.snapshot import consolidate_stats

    t = str(tmp_path / "dd13")
    for i in range(5):
        append_snapshot(
            spark.range(i * 4, (i + 1) * 4).selectExpr("id AS k"), t
        )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("dd13", t)
    d = cat.sql("DESCRIBE DETAIL dd13").collect()[0]
    assert d["stats_sidecar_files"] == 5
    assert d["stats_consolidated_shards"] == 0  # all loose per-gen
    consolidate_stats(spark, t, max_sidecars=2)
    cat.refresh("dd13")
    d2 = cat.sql("DESCRIBE DETAIL dd13").collect()[0]
    assert d2["stats_sidecar_files"] == 1
    assert d2["stats_consolidated_shards"] == 1  # the one tail shard
    assert d2["stats_covered_generations"] == 5
    # sums recorded at every commit (post-round-12 writes): the
    # SUM/AVG refusal axis reads full coverage here
    assert d2["sums_covered_generations"] == 5


def test_count_star_fast_path_declines_on_stale_view(spark, tmp_path):
    """An external writer advancing the table WITHOUT cat.refresh()
    must not desynchronize COUNT(*) from the pinned view: the fast
    path declines (snapshot-id mismatch) and the passthrough count
    equals exactly what SELECT * through the stale view returns."""
    t = str(tmp_path / "stale")
    append_snapshot(spark.range(10).selectExpr("id AS k"), t)
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("stale", t)
    assert cat.sql("SELECT COUNT(*) FROM stale").collect()[0][0] == 10
    append_snapshot(spark.range(5).selectExpr("id + 100 AS k"), t)
    # no refresh: the pinned view still shows 10 rows — and so must
    # the count (metadata would say 15; the fast path must decline).
    n = cat.sql("SELECT COUNT(*) FROM stale").collect()[0][0]
    rows = cat.sql("SELECT * FROM stale").count()
    assert n == rows == 10
    cat.refresh("stale")
    assert cat.sql("SELECT COUNT(*) FROM stale").collect()[0][0] == 15
    # bare SHOW TABLES still belongs to spark.sql (temp views listing)
    plain = cat.sql("SHOW TABLES")
    assert "tableName" in plain.columns


def test_time_travel_sum_precheck_skips_sidecar_fold(
    spark, tmp_path
):
    """Round-14 directive #6: a pinned-version SUM/AVG over a
    non-integer column declines from the PINNED manifest's schema
    alone — zero sidecar reads — instead of paying the full stats
    fold before falling through; an integer column still answers
    scan-free at the pinned version."""

    t = str(tmp_path / "ttsum")
    for i in range(3):
        append_snapshot(
            spark.sql(
                f"SELECT id AS k, CAST(id AS DECIMAL(10,2)) AS dec "
                f"FROM range({i * 10}, {(i + 1) * 10})"
            ),
            t,
        )
    cat = SnapshotCatalog(spark)
    cat.register("ttsum", t)
    sidecars._SIDECAR_CACHE.clear()
    base = sidecars._SIDECAR_FS_READS
    d = cat.sql("SELECT SUM(dec) AS s FROM ttsum VERSION AS OF 1")
    assert sidecars._SIDECAR_FS_READS == base  # declined pre-fold
    assert d.inputFiles() != []
    assert str(d.collect()[0]["s"]) == "190.00"
    # integer SUM at a pinned version still answers metadata-only
    g = cat.sql("SELECT SUM(k) AS s FROM ttsum VERSION AS OF 1")
    assert g.inputFiles() == [] and g.collect()[0]["s"] == 190


def test_sum_overflow_declines_to_passthrough(spark, tmp_path):
    """ADVICE r13: a table whose exact SUM exceeds bigint must fall
    through to the real query (which keeps Spark's canonical
    overflow semantics) — catalog.sql must not crash building a
    literal row."""
    big = 2**62
    t = str(tmp_path / "ovf")
    append_snapshot(
        spark.createDataFrame(
            [(big,), (big,), (big,)], "k bigint"
        ),
        t,
    )
    cat = SnapshotCatalog(spark)
    cat.register("ovf", t)
    df = cat.sql("SELECT SUM(k) AS s FROM ovf")
    assert df.inputFiles() != []  # declined: passthrough plan
    # Same behavior as querying the registered view directly —
    # whatever Spark's SUM does on overflow, both paths agree.
    try:
        got = df.collect()
    except Exception as exc:  # noqa: BLE001 — ANSI overflow raises
        got = type(exc).__name__
    try:
        want = spark.sql("SELECT SUM(k) AS s FROM ovf").collect()
    except Exception as exc:  # noqa: BLE001
        want = type(exc).__name__
    assert got == want
    # COUNT/MIN/MAX alone still answer scan-free (the overflow only
    # poisons SUM).
    n = cat.sql("SELECT COUNT(*) AS n FROM ovf")
    assert n.inputFiles() == [] and n.collect()[0]["n"] == 3


def test_leading_dot_register_refused(spark, tmp_path):
    """ADVICE r13: '.foo' can never round-trip (Spark rejects the
    view name; a '.foo.json' binding would be filtered as a temp
    file) — register refuses it loudly, persisted or not."""
    t = str(tmp_path / "dot")
    append_snapshot(spark.range(3).selectExpr("id AS k"), t)
    base = str(tmp_path / "dotwh")
    cat = SnapshotCatalog(spark, base_dir=base)
    with pytest.raises(ValueError, match="cannot start with"):
        cat.register(".foo", t, persist=True)
    with pytest.raises(ValueError, match="cannot start with"):
        cat.register(".foo", t)
    assert ".foo" not in cat.tables


def test_partition_predicate_metadata_aggregates(spark, tmp_path):
    """Round-14 directive #2: WHERE over partition columns answers
    scan-free from the matching live entries + stats, value- and
    schema-identical to the passthrough — eq, IN, repeated-conjunct
    intersection, quoted-int canonicalization ('05' = the 5 dir,
    exactly as SQL coercion sees it), and the empty match."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "ppred")
    df = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS INT) AS p, "
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS s "
        "FROM range(60)"
    )
    write_snapshot_partial(
        df, t, 0, "p", touched_keys=[0, 1, 2],
        stats_columns=["k", "s"],
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("ppred", t)
    for q in [
        "SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi, "
        "SUM(k) AS sk FROM ppred WHERE p = 1",
        "SELECT COUNT(*) AS n FROM ppred WHERE p IN (0, 2)",
        "SELECT COUNT(*) AS n, MIN(p) AS mp, MAX(s) AS ms "
        "FROM ppred WHERE p = 2",
        "SELECT COUNT(*) AS n FROM ppred WHERE p = 1 AND p = 2",
        "SELECT COUNT(*) AS n FROM ppred WHERE p = 9",
        "SELECT COUNT(*) AS n FROM ppred WHERE p = '05'",
    ]:
        fast = cat.sql(q)
        assert fast.inputFiles() == [], q
        real = spark.sql(q)
        assert fast.schema == real.schema, q
        assert [list(r) for r in fast.collect()] == [
            list(r) for r in real.collect()
        ], q


def test_partition_predicate_fallthrough_matrix(spark, tmp_path):
    """The partition fast path must DECLINE — with the passthrough's
    exact answer — on: a non-partition column, a mixed clause
    (partition AND non-partition), an out-of-shape predicate, a
    float-looking literal on an int key, an unpartitioned table,
    and MOR delete vectors."""
    from big_data_spark.io.snapshot import (
        delete_where,
        write_snapshot_partial,
    )

    t = str(tmp_path / "pfall")
    df = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS INT) AS p, "
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS s "
        "FROM range(60)"
    )
    write_snapshot_partial(
        df, t, 0, "p", touched_keys=[0, 1, 2],
        stats_columns=["k", "s"],
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("pfall", t)
    for q, want in [
        # non-partition column: metadata cannot scope the fold
        ("SELECT COUNT(*) AS n FROM pfall WHERE s = 'even'", [[30]]),
        # mixed clause: ONE unanswerable conjunct unclaims the lot
        (
            "SELECT COUNT(*) AS n FROM pfall "
            "WHERE p = 1 AND s = 'even'",
            [[10]],
        ),
        # out-of-shape predicate (range)
        ("SELECT COUNT(*) AS n FROM pfall WHERE p < 2", [[40]]),
        # float-looking literal on an int key: SQL coerces 1.0 = 1,
        # the dir string would miss — decline, real query answers
        ("SELECT COUNT(*) AS n FROM pfall WHERE p = 1.0", [[20]]),
    ]:
        d = cat.sql(q)
        assert d.inputFiles() != [], q
        assert [list(r) for r in d.collect()] == want, q
    # quoted float on an int key: the fast path declines (int('1.0')
    # fails) and the passthrough keeps Spark's CANONICAL ANSI
    # behavior — the string->bigint cast error, not a silent 0.
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        cat.sql(
            "SELECT COUNT(*) AS n FROM pfall WHERE p = '1.0'"
        ).collect()
    # unpartitioned table: WHERE always falls through
    t2 = str(tmp_path / "pfall_unpart")
    append_snapshot(spark.range(10).selectExpr("id AS k"), t2)
    cat.register("pfall_u", t2)
    u = cat.sql("SELECT COUNT(*) AS n FROM pfall_u WHERE k = 3")
    assert u.inputFiles() != [] and u.collect()[0]["n"] == 1
    # MOR masks: metadata_aggregate refuses, real query answers
    delete_where(spark, t, "k % 2 = 0", mode="mor")
    cat.refresh("pfall")
    m = cat.sql("SELECT COUNT(*) AS n FROM pfall WHERE p = 1")
    assert m.inputFiles() != [] and m.collect()[0]["n"] == 10


def test_partition_literal_shapes_match_spark_casts(spark, tmp_path):
    """Review r14: Python's int()/fromisoformat accept forms Spark's
    ANSI casts reject (digit underscores, compact ISO dates) — those
    literals must DECLINE so the passthrough keeps Spark's canonical
    error, never a scan-free answer the real query would not give."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "plits")
    df = spark.sql(
        "SELECT id AS k, CAST(1000 + id % 2 AS INT) AS p FROM range(20)"
    )
    write_snapshot_partial(
        df, t, 0, "p", touched_keys=[1000, 1001],
        stats_columns=["k"],
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("plits", t)
    # sanity: plain integer literal answers scan-free
    ok = cat.sql("SELECT COUNT(*) AS n FROM plits WHERE p = 1000")
    assert ok.inputFiles() == [] and ok.collect()[0]["n"] == 10
    # underscored int literal: int('1_000') == 1000 in Python, but
    # Spark's string->int cast rejects it — the fast path must
    # decline (never answer 10 scan-free) so the passthrough keeps
    # Spark's canonical ANSI cast error.
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        cat.sql(
            "SELECT COUNT(*) AS n FROM plits WHERE p = '1_000'"
        ).collect()


def test_partition_predicate_reads_literals_as_spark_does(spark, tmp_path):
    """Backslash escapes in a metadata-answered WHERE mean what Spark's
    lexer says: the scan-free COUNT(*) equals spark.sql on the same
    text, also when the table was made by CREATE TABLE ... PARTITIONED
    BY."""
    base = str(tmp_path / "wh_esc")
    cat = SnapshotCatalog(spark, versions="lazy", base_dir=base)
    vals = ["a\\b", "a\\b", "a\\\\b", "a\b", "a\b", "a\b", "ab"]
    spark.createDataFrame(
        list(enumerate(vals)), "k bigint, p string"
    ).createOrReplaceTempView("esc_src")
    cat.sql("CREATE TABLE pt3 PARTITIONED BY (p) AS SELECT * FROM esc_src")
    for cond, n in [(r"p = 'a\\b'", 2), (r"p = 'a\b'", 3)]:
        q = f"SELECT COUNT(*) AS n FROM pt3 WHERE {cond}"
        fast = cat.sql(q)
        assert fast.inputFiles() == [], q
        assert fast.collect()[0]["n"] == spark.sql(q).collect()[0]["n"] == n


def test_partition_groupby_metadata_rollup(spark, tmp_path):
    """Round 14: GROUP BY over partition columns answers scan-free —
    one literal row per live partition group — value- and schema-
    identical to the passthrough, across single/multi column groups,
    WHERE + GROUP BY composition, aliased and omitted group columns,
    and the empty match (zero rows, right schema)."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "gbroll")
    df = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS INT) AS p, "
        "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS s "
        "FROM range(60)"
    )
    write_snapshot_partial(
        df, t, 0, ["p", "s"],
        touched_keys=[(a, b) for a in (0, 1, 2) for b in ("e", "o")],
        stats_columns=["k"],
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("gbroll", t)
    for q in [
        "SELECT p, COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi, "
        "SUM(k) AS sk FROM gbroll GROUP BY p",
        "SELECT p, s, COUNT(*) AS n FROM gbroll GROUP BY p, s",
        "SELECT s, COUNT(*) AS n FROM gbroll WHERE p = 1 GROUP BY s",
        "SELECT COUNT(*) AS n FROM gbroll GROUP BY p",
        "SELECT p AS grp, AVG(k) AS a FROM gbroll GROUP BY p",
        "SELECT s, COUNT(*) AS n FROM gbroll WHERE p = 9 GROUP BY s",
    ]:
        fast = cat.sql(q)
        assert fast.inputFiles() == [], q
        real = spark.sql(q)
        assert fast.schema == real.schema, q
        assert sorted(tuple(r) for r in fast.collect()) == sorted(
            tuple(r) for r in real.collect()
        ), q


def test_partition_groupby_fallthrough_matrix(spark, tmp_path):
    """GROUP BY declines — with the passthrough's exact answer — on:
    a non-partition group column, a bare select column outside the
    group, HAVING/expressions (never parsed), an unpartitioned
    table, and MOR masks; a bare column with NO group never claims."""
    from big_data_spark.io.snapshot import (
        delete_where,
        write_snapshot_partial,
    )

    t = str(tmp_path / "gbfall")
    df = spark.sql(
        "SELECT id AS k, CAST(id % 3 AS INT) AS p FROM range(30)"
    )
    write_snapshot_partial(
        df, t, 0, "p", touched_keys=[0, 1, 2], stats_columns=["k"]
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("gbfall", t)
    for q, rows in [
        # non-partition group column: a real aggregation
        ("SELECT k, COUNT(*) AS n FROM gbfall GROUP BY k", 30),
        # bare select col outside the group list: Spark would error;
        # the fast path must not claim (passthrough raises) — use a
        # legal-but-unclaimable twin instead: expression in group
        ("SELECT COUNT(*) AS n FROM gbfall GROUP BY p % 2", 2),
        # HAVING clause: outside the bare shape
        (
            "SELECT p, COUNT(*) AS n FROM gbfall GROUP BY p "
            "HAVING COUNT(*) > 5",
            3,
        ),
    ]:
        d = cat.sql(q)
        assert d.inputFiles() != [], q
        assert d.count() == rows, q
    # bare column without GROUP BY: parser unclaims outright
    b = cat.sql("SELECT p FROM gbfall")
    assert b.inputFiles() != [] and b.count() == 30
    # unpartitioned table: always the real plan
    t2 = str(tmp_path / "gbfall_unpart")
    append_snapshot(spark.range(8).selectExpr("id AS k"), t2)
    cat.register("gbfall_u", t2)
    u = cat.sql("SELECT k, COUNT(*) AS n FROM gbfall_u GROUP BY k")
    assert u.inputFiles() != [] and u.count() == 8
    # MOR masks: per-group fold refuses, real query answers
    delete_where(spark, t, "k % 2 = 0", mode="mor")
    cat.refresh("gbfall")
    m = cat.sql("SELECT p, COUNT(*) AS n FROM gbfall GROUP BY p")
    assert m.inputFiles() != []
    assert sorted(tuple(r) for r in m.collect()) == [
        (0, 5), (1, 5), (2, 5),
    ]


def test_partition_groupby_time_travel(spark, tmp_path):
    """GROUP BY rollups pin versions like the scalar fast path: the
    pinned manifest's entries and stats answer, scan-free."""
    from big_data_spark.io.snapshot import write_snapshot_partial

    t = str(tmp_path / "gbtt")
    df0 = spark.sql(
        "SELECT id AS k, CAST(id % 2 AS INT) AS p FROM range(20)"
    )
    write_snapshot_partial(
        df0, t, 0, "p", touched_keys=[0, 1], stats_columns=["k"]
    )
    # v1 replaces partition 1 with a bigger batch
    df1 = spark.sql(
        "SELECT id AS k, CAST(1 AS INT) AS p FROM range(100, 130)"
    )
    write_snapshot_partial(
        df1, t, 1, "p", touched_keys=[1], stats_columns=["k"]
    )
    cat = SnapshotCatalog(spark)
    cat.register("gbtt", t)
    g0 = cat.sql(
        "SELECT p, COUNT(*) AS n FROM gbtt VERSION AS OF 0 GROUP BY p"
    )
    assert g0.inputFiles() == []
    assert sorted(tuple(r) for r in g0.collect()) == [(0, 10), (1, 10)]
    g1 = cat.sql("SELECT p, COUNT(*) AS n FROM gbtt GROUP BY p")
    assert g1.inputFiles() == []
    assert sorted(tuple(r) for r in g1.collect()) == [(0, 10), (1, 30)]


def test_lazy_post_dml_defers_aux_views_until_referenced(spark, tmp_path):
    """Lazy-mode catalogs defer the O(total versions) `_history` /
    `_changes` rebuild after a DML: the head view is fresh at once,
    and the aux views refresh exactly when a catalog.sql statement
    references them (round-14 driver-cost optimization). Values must
    match a full refresh bit-for-bit."""
    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import write_snapshot

    t = str(tmp_path / "lazyaux")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ),
        t,
        snapshot_id=0,
    )
    c = SnapshotCatalog(spark, versions="lazy")
    c.register("lzx", t)
    st = c.sql("DELETE FROM lzx WHERE k = 2")
    assert st["deleted_rows"] == 1
    # Head view reflects the commit immediately; aux views are
    # marked stale, not rebuilt.
    assert c.sql("SELECT count(*) AS n FROM lzx").first()["n"] == 1
    assert "lzx" in c._stale_aux
    # Referencing the change feed through the catalog door rebuilds
    # it first: the view equals the directly-built feed (COW delete
    # semantics and all), and the DELETE's commit is in it.
    from big_data_spark.io.snapshot import read_changes

    ch = c.sql(
        "SELECT k, _change_type, _commit_id FROM lzx_changes ORDER BY 3, 2, 1"
    ).collect()
    want = sorted(
        (
            (r["k"], r["_change_type"], r["_commit_id"])
            for r in read_changes(spark, t, after_id=-1)
            .select("k", "_change_type", "_commit_id")
            .collect()
        ),
        key=lambda x: (x[2], x[1], x[0]),
    )
    assert want and [tuple(r) for r in ch] == want
    assert any(
        r["_commit_id"] == 1 and r["_change_type"] == "delete" and r["k"] == 2
        for r in ch
    )
    assert "lzx" not in c._stale_aux
    hist = c.sql(
        "SELECT snapshot_id FROM lzx_history ORDER BY 1"
    ).collect()
    assert [r["snapshot_id"] for r in hist] == [0, 1]
    # An explicit refresh also clears the deferral.
    c.sql("DELETE FROM lzx WHERE k = 1")
    assert "lzx" in c._stale_aux
    c.refresh("lzx")
    assert "lzx" not in c._stale_aux
    assert (
        spark.sql("SELECT max(_commit_id) AS m FROM lzx_changes")
        .first()["m"] == 2
    )
