"""Manifest-embedded per-file column stats (round-11 directive #2):
commits record per-file min/max for the table's leading numeric
columns; pruned reads on a stats-bearing table are METADATA-ONLY
(zero footer opens, zero file listings), identical in result to the
footer-sweep path, which survives as the fallback for generations
committed without stats. Covered generations carry as pure metadata —
only new generations are swept, once, at commit time."""

from __future__ import annotations

import big_data_spark.io.snapshot as snap
from big_data_spark.io import layout, manifest, sidecars
import big_data_spark.io.stats as stats_mod
from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    evolve_schema,
    latest_manifest,
    read_entries,
    read_snapshot,
    rollback_snapshot,
    write_snapshot,
    write_snapshot_partial,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "id * 2 AS v", "cast(id as string) AS s"
    )


def _no_footer_sweep(monkeypatch):
    """Any footer sweep under the patch is a test failure."""

    def boom(*a, **k):  # pragma: no cover - the assertion itself
        raise AssertionError("footer sweep ran on a stats-bearing table")

    monkeypatch.setattr(stats_mod, "prune_files_multi", boom)


def test_commit_records_default_numeric_stats(spark, tmp_path):
    t = str(tmp_path / "rec")
    write_snapshot(_mk(spark, 0, 100).repartition(4), t)
    man = latest_manifest(spark, t)
    st = man["stats"]
    # round 11 typed skipping: string columns are stat-worthy too.
    assert st["columns"] == ["k", "v", "s"]
    assert man["format_version"] == snap.FORMAT_VERSION
    # round 12: the manifest carries only SIDECAR PATHS — the per-file
    # dicts live in one immutable JSON per generation.
    assert "gens" not in st and "rows" not in st
    (gen,) = st["sidecars"]
    gen_files, gen_rows = snap.load_generation_stats(spark, t, man, gen)
    assert len(gen_files) >= 1
    mins = [float(pc["k"][0]) for pc in gen_files.values()]
    maxs = [float(pc["k"][1]) for pc in gen_files.values()]
    assert min(mins) == 0.0 and max(maxs) == 99.0
    assert sum(gen_rows.values()) == 100


def test_pruned_read_is_metadata_only_and_exact(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "meta")
    # Clustered layout so files are genuinely prunable on k.
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k")
    write_snapshot(df, t)
    man = latest_manifest(spark, t)
    # Footer-path decision FIRST (stats stripped), for the
    # equivalence check.
    footer_df = read_entries(
        spark,
        t,
        man["entries"],
        predicate={"k": (100.0, 220.0)},
        schema_fields=man["schema"],
        stats=None,
        partition_cols=manifest.dir_cols(man),
    )
    footer_files = set(footer_df.inputFiles())
    footer_rows = {r["k"] for r in footer_df.collect()}
    # Stats path: zero footer opens allowed from here on.
    _no_footer_sweep(monkeypatch)
    pruned = read_snapshot(spark, t, predicate={"k": (100.0, 220.0)})
    assert {r["k"] for r in pruned.collect()} == set(range(100, 221))
    assert {r["k"] for r in pruned.collect()} == footer_rows
    assert set(pruned.inputFiles()) == footer_files
    # And it genuinely pruned: fewer files than the full table.
    full = read_snapshot(spark, t)
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_carry_sweeps_only_new_generations(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "carry")
    append_snapshot(_mk(spark, 0, 50), t, snapshot_id=0)
    man0 = latest_manifest(spark, t)
    swept: list[str] = []
    real = sidecars._sweep_generation

    def counting(spark_, td, gen_rel, *a, **kw):
        swept.append(gen_rel)
        return real(spark_, td, gen_rel, *a, **kw)

    monkeypatch.setattr(sidecars, "_sweep_generation", counting)
    append_snapshot(_mk(spark, 50, 80), t, snapshot_id=1)
    man1 = latest_manifest(spark, t)
    assert swept == ["_data/s=1"]  # the carried generation never re-swept
    # The carry is the sidecar PATH itself — O(1) metadata, the same
    # immutable file, not a re-serialized copy (round-12 #1).
    assert (
        man1["stats"]["sidecars"]["s=0"]
        == man0["stats"]["sidecars"]["s=0"]
    )
    assert set(man1["stats"]["sidecars"]) == {"s=0", "s=1"}


def test_append_lists_new_generation_once(spark, tmp_path, monkeypatch):
    """One sweep per new generation: footer bounds, row counts and the
    bigint column's exact sums all come from ONE listing of its dir."""
    t = str(tmp_path / "once")
    append_snapshot(_mk(spark, 0, 50), t, snapshot_id=0)
    listed: list[str] = []
    real = sidecars.data_files

    def counting(spark_, dir_path):
        listed.append(dir_path)
        return real(spark_, dir_path)

    monkeypatch.setattr(sidecars, "data_files", counting)
    append_snapshot(_mk(spark, 50, 80), t, snapshot_id=1)
    assert [p for p in listed if p.endswith("_data/s=1")] == [
        f"{t}/_data/s=1"
    ]
    man = latest_manifest(spark, t)
    doc = sidecars._load_gen_stats(spark, t, man["stats"], "s=1")
    assert sum(int(pc["k"]) for pc in doc["sums"].values()) == sum(
        range(50, 80)
    )


def test_stats_follow_schema_evolution(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "evo")
    write_snapshot(_mk(spark, 0, 100).repartitionByRange(4, "k"), t)
    evolve_schema(spark, t, renames={"k": "key"}, drops=["v"])
    man = latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["key", "s"]
    _no_footer_sweep(monkeypatch)
    got = read_snapshot(spark, t, predicate={"key": (10.0, 20.0)})
    assert {r["key"] for r in got.collect()} == set(range(10, 21))
    assert len(got.inputFiles()) < 4


def test_dml_hints_use_manifest_stats(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "dml")
    write_snapshot(_mk(spark, 0, 1000).repartitionByRange(8, "k"), t)
    _no_footer_sweep(monkeypatch)
    st = delete_where(spark, t, "k >= 10 AND k < 20")
    assert st["deleted_rows"] == 10
    assert read_snapshot(spark, t).count() == 990
    st2 = delete_where(spark, t, "k >= 500 AND k < 510", mode="mor")
    assert st2["deleted_rows"] == 10


def test_rollback_carries_target_stats_metadata_only(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "rb")
    append_snapshot(_mk(spark, 0, 50), t, snapshot_id=0)
    man0 = latest_manifest(spark, t)
    delete_where(spark, t, "k < 10")
    swept: list = []
    monkeypatch.setattr(
        sidecars,
        "_sweep_generation",
        lambda *a, **k: swept.append(a) or {},
    )
    rollback_snapshot(spark, t, 0)
    assert swept == []  # metadata-only: the target's stats carried
    assert latest_manifest(spark, t)["stats"] == man0["stats"]


def test_partitioned_table_excludes_partition_cols(spark, tmp_path):
    t = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(d, r, v) for d in (1, 2) for r in ("eu", "us") for v in range(5)],
        "d int, region string, v int",
    )
    write_snapshot_partial(
        df, t, 0, ["d", "region"],
        touched_keys=[(1, "eu"), (1, "us"), (2, "eu"), (2, "us")],
    )
    man = latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["v"]  # d is a partition column
    gen_files, _ = snap.load_generation_stats(spark, t, man, "s=0")
    for per_col in gen_files.values():
        assert set(per_col) == {"v"}


def test_predicate_outside_stats_columns_falls_back_to_footers(
    spark, tmp_path, monkeypatch
):
    """A hinted column outside the recorded stats set must still
    prune through the footer sweep — routing covered generations
    through the metadata would keep every file for that column (a
    regression vs the pre-stats path; round-11 review)."""
    t = str(tmp_path / "extra_col")
    df = spark.range(0, 1000).selectExpr(
        "id AS a", "id AS b", "id AS c", "id AS d",
        "id AS e",  # 5th numeric: outside the 4-column default set
    )
    write_snapshot(df.repartitionByRange(8, "e"), t)
    man = latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["a", "b", "c", "d"]
    swept: list = []
    real = stats_mod.prune_files_multi

    def spy(spark_, paths, *a, **k):
        swept.extend(paths)
        return real(spark_, paths, *a, **k)

    monkeypatch.setattr(stats_mod, "prune_files_multi", spy)
    got = read_snapshot(spark, t, predicate={"e": (100.0, 150.0)})
    assert {r["e"] for r in got.collect()} == set(range(100, 151))
    assert swept, "footer sweep must run for an uncovered column"
    assert len(got.inputFiles()) < 8  # and it genuinely pruned


def test_statless_backfill_resolves_renamed_columns(
    spark, tmp_path, monkeypatch
):
    """A generation committed without stats prunes exactly through
    the footer sweep; backfilling its stats AFTER a rename must
    resolve the old physical name through the evolution log — a
    None-recorded column would be permanently unprunable (round-11
    review)."""
    t = str(tmp_path / "statless_ren")
    monkeypatch.setattr(manifest, "_auto_commit_stats", lambda *a, **k: None)
    append_snapshot(
        spark.range(0, 100)
        .selectExpr("id AS amount", "id AS other")
        .repartitionByRange(4, "amount"),
        t,
        snapshot_id=0,
    )
    monkeypatch.undo()
    evolve_schema(spark, t, renames={"amount": "price"})
    assert latest_manifest(spark, t)["stats"] is None  # still stat-less
    got0 = read_snapshot(spark, t, predicate={"price": (10.0, 20.0)})
    assert {r["price"] for r in got0.collect()} == set(range(10, 21))
    # Next data commit backfills BOTH generations under current names.
    append_snapshot(
        spark.range(100, 150)
        .selectExpr("id AS price", "id AS other")
        .repartitionByRange(2, "price"),
        t,
        snapshot_id=2,
    )
    man = latest_manifest(spark, t)
    assert man["stats"]["columns"] == ["price", "other"]
    s0, _ = snap.load_generation_stats(spark, t, man, "s=0")
    assert all(pc["price"] is not None for pc in s0.values()), (
        "pre-rename generation must record stats under the new name"
    )
    _no_footer_sweep(monkeypatch)
    got = read_snapshot(spark, t, predicate={"price": (10.0, 20.0)})
    assert {r["price"] for r in got.collect()} == set(range(10, 21))


# ----------------------------------------- sidecar layout (round 12)

def _manifest_bytes(t: str, sid: int) -> int:
    import os

    return os.path.getsize(f"{t}/_manifests/manifest-{sid:012d}.json")


def test_manifest_size_is_o_generations_not_o_files(spark, tmp_path):
    """Round-12 directive #1 done-criterion: commit many generations
    and the manifest byte size grows O(#generations) — a few dozen
    bytes of sidecar path per generation — while the per-file stats
    (which grow with the data) stay out of it, and pruning results
    stay identical to the footer path."""
    t = str(tmp_path / "flat")
    n_gens = 40
    for i in range(n_gens):
        append_snapshot(
            _mk(spark, i * 100, (i + 1) * 100).coalesce(2),
            t,
            snapshot_id=i,
        )
    first = _manifest_bytes(t, 1)
    last = _manifest_bytes(t, n_gens - 1)
    # Each generation adds one entry mapping (~40 B) plus one sidecar
    # path (~55 B) — per-FILE stats (3 columns x 2 files x value
    # strings + row counts, ~300 B/generation here and unbounded with
    # file count) stay out. 150 B/generation bounds the O(#gens) cost.
    assert last - first < 150 * n_gens, (
        f"manifest grew {first} -> {last} bytes over {n_gens} "
        "generations — more than sidecar-path growth"
    )
    man = latest_manifest(spark, t)
    assert set(sidecars._stats_covered(man["stats"])) == {
        f"s={i}" for i in range(n_gens)
    }
    # Pruning through the sidecars equals the footer-path decision.
    pred = {"k": (1510.0, 1620.0)}
    footer = read_entries(
        spark, t, man["entries"], predicate=pred,
        schema_fields=man["schema"], stats=None,
        partition_cols=manifest.dir_cols(man),
    )
    pruned = read_snapshot(spark, t, predicate=pred)
    assert {r["k"] for r in pruned.collect()} == {
        r["k"] for r in footer.collect()
    } == set(range(1510, 1621))
    assert set(pruned.inputFiles()) == set(footer.inputFiles())
    # And genuinely pruned: 2 generations' worth of files, not 40.
    assert len(pruned.inputFiles()) <= 4


def test_rename_after_sweep_replays_sidecar_names(
    spark, tmp_path, monkeypatch
):
    """evolve_schema on a sidecar table rewrites ZERO stats bytes:
    the sidecars carry by path and readers replay the rename-log
    events committed after each sidecar's names_at stamp."""
    from big_data_spark.io.snapshot import metadata_aggregate

    t = str(tmp_path / "ren")
    write_snapshot(_mk(spark, 0, 300).repartitionByRange(4, "k"), t)
    man0 = latest_manifest(spark, t)
    evolve_schema(spark, t, renames={"k": "kk"}, drops=["v"])
    man1 = latest_manifest(spark, t)
    # Same sidecar files, byte for byte — only the columns remapped.
    assert man1["stats"]["sidecars"] == man0["stats"]["sidecars"]
    assert man1["stats"]["columns"] == ["kk", "s"]
    _no_footer_sweep(monkeypatch)
    got = read_snapshot(spark, t, predicate={"kk": (10.0, 20.0)})
    assert {r["kk"] for r in got.collect()} == set(range(10, 21))
    assert len(got.inputFiles()) < 4
    agg = metadata_aggregate(spark, t, columns=["kk"])
    assert agg["min"]["kk"] == 0 and agg["max"]["kk"] == 299
    # A NEW column re-using the dropped name: newer sidecars carry a
    # higher names_at, so the old rename events never touch them.
    append_snapshot(
        spark.range(300, 350).selectExpr(
            "id AS kk", "cast(id as string) AS s"
        ),
        t,
    )
    got2 = read_snapshot(spark, t, predicate={"kk": (295.0, 305.0)})
    assert {r["kk"] for r in got2.collect()} == set(range(295, 306))


def test_vacuum_reclaims_orphan_sidecars(spark, tmp_path):
    import os

    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "vac")
    for i in range(5):
        append_snapshot(_mk(spark, i * 10, (i + 1) * 10), t, snapshot_id=i)
    sdir = f"{t}/_manifests/stats"
    all_before = set(os.listdir(sdir))
    # Plant a stale orphan (crash residue) and a fresh one (in-flight
    # committer): only the stale one may go.
    stale = f"{sdir}/s=9-deadbeef.json"
    open(stale, "w").write("{}")
    os.utime(stale, (1, 1))
    fresh = f"{sdir}/s=8-cafebabe.json"
    open(fresh, "w").write("{}")
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert "s=9-deadbeef.json" in res["removed_stat_sidecars"]
    assert "s=8-cafebabe.json" not in res["removed_stat_sidecars"]
    after = set(os.listdir(sdir))
    # Sidecars referenced by the KEPT manifests all survive (older
    # generations stay live via carried entries).
    man = latest_manifest(spark, t)
    for rel in man["stats"]["sidecars"].values():
        assert rel.rsplit("/", 1)[-1] in after
    assert "s=9-deadbeef.json" not in after
    # Pruned reads still exact after vacuum.
    got = read_snapshot(spark, t, predicate={"k": (12.0, 27.0)})
    assert {r["k"] for r in got.collect()} == set(range(12, 28))
    # Every pre-existing (referenced) sidecar survived untouched.
    assert all_before <= after


def test_metadata_aggregate_bulk_prefetches_many_generations(
    spark, tmp_path, monkeypatch
):
    """Past the bulk threshold, metadata aggregates fetch all
    uncached sidecars in ONE distributed text scan instead of a
    serial driver loop — the _read_manifests trade applied to the
    stats layer (a 10k-generation table would otherwise pay 10k
    object-store round trips per aggregate)."""
    from big_data_spark.io.snapshot import metadata_aggregate

    t = str(tmp_path / "bulk")
    n = layout._BULK_MANIFEST_THRESHOLD + 3
    for i in range(n):
        append_snapshot(_mk(spark, i * 10, (i + 1) * 10), t, snapshot_id=i)
    sidecars._SIDECAR_CACHE.clear()
    serial_reads: list = []
    real = sidecars._read_sidecar

    def counting(spark_, td, rel):
        serial_reads.append(rel)
        return real(spark_, td, rel)

    monkeypatch.setattr(sidecars, "_read_sidecar", counting)
    got = metadata_aggregate(spark, t)
    assert got["rows"] == n * 10
    assert got["min"]["k"] == 0 and got["max"]["k"] == n * 10 - 1
    assert got["sum"]["k"] == (n * 10 - 1) * (n * 10) // 2
    assert serial_reads == [], (
        f"bulk prefetch must cover every sidecar; serial reads: "
        f"{serial_reads[:3]}"
    )
    # The bulk read PRIMED the cache: a repeat aggregate needs no
    # distributed scan at all (review finding — it used to re-pay
    # the text job on every call).
    man = latest_manifest(spark, t)
    gens = set(man["stats"]["sidecars"])
    assert (
        sidecars._prefetch_sidecars(spark, t, man["stats"], gens) == {}
    )
    assert metadata_aggregate(spark, t)["rows"] == n * 10
