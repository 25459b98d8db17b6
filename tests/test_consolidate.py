"""Stats-sidecar consolidation (round-13 directive #6): an
append-heavy table accumulates one stats sidecar file per commit;
past the process cache cap every metadata aggregate re-pays a bulk
scan of them all. ``consolidate_stats`` (and ``analyze_table``, which
runs it automatically) folds the live files into ONE consolidated
JSON — after it, a fresh process answers aggregates with a single
sidecar read regardless of generation count, and every other
behavior (values, time travel, rename replay, later appends, DML)
is unchanged."""

from __future__ import annotations

import pytest

import big_data_spark.io.snapshot as snap
from big_data_spark.io import aggregates, sidecars
from big_data_spark.io.snapshot import (
    analyze_table,
    append_snapshot,
    consolidate_stats,
    delete_where,
    latest_manifest,
    metadata_aggregate,
    read_snapshot,
)


def _mk_generations(spark, t, n, rows_per=5):
    for i in range(n):
        append_snapshot(
            spark.range(i * rows_per, (i + 1) * rows_per).selectExpr(
                "id AS k", "CAST(id AS INT) AS v"
            ),
            t,
        )


def _distinct_live_sidecars(spark, t):
    man = latest_manifest(spark, t)
    side = (man.get("stats") or {}).get("sidecars") or {}
    return set(side.values())


def test_consolidate_folds_files_and_preserves_aggregates(
    spark, tmp_path
):
    t = str(tmp_path / "con1")
    _mk_generations(spark, t, 12)
    before = metadata_aggregate(spark, t, columns=["k", "v"])
    assert len(_distinct_live_sidecars(spark, t)) == 12
    st = consolidate_stats(spark, t, max_sidecars=8)
    assert st["merged_sidecars"] == 12
    rels = _distinct_live_sidecars(spark, t)
    assert len(rels) == 1 and "consolidated-" in next(iter(rels))
    after = metadata_aggregate(spark, t, columns=["k", "v"])
    assert after["snapshot_id"] == before["snapshot_id"] + 1
    for key in ("rows", "min", "max", "sum", "avg", "nonnull"):
        assert after[key] == before[key], key
    # content untouched, commit is maintenance (feed-silent)
    assert read_snapshot(spark, t).count() == 60
    man = latest_manifest(spark, t)
    assert man["maintenance"] is True
    # idempotent: a second call is a no-op (1 file <= threshold)
    st2 = consolidate_stats(spark, t, max_sidecars=8)
    assert st2["merged_sidecars"] == 0
    assert st2["snapshot_id"] == st["snapshot_id"]


def test_fresh_process_pays_one_sidecar_read(spark, tmp_path):
    """The directive's probe shape at test scale: consolidate, clear
    the process cache (a fresh process), re-aggregate — exactly ONE
    sidecar file read serves every generation."""
    t = str(tmp_path / "con2")
    _mk_generations(spark, t, 10)
    consolidate_stats(spark, t, max_sidecars=4)
    sidecars._SIDECAR_CACHE.clear()
    base = sidecars._SIDECAR_FS_READS
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 50 and agg["min"]["k"] == 0
    assert sidecars._SIDECAR_FS_READS - base == 1
    # repeat aggregates are pure cache hits
    metadata_aggregate(spark, t, columns=["k"])
    assert sidecars._SIDECAR_FS_READS - base == 1


def test_below_threshold_is_noop(spark, tmp_path):
    t = str(tmp_path / "con3")
    _mk_generations(spark, t, 3)
    st = consolidate_stats(spark, t)  # default threshold 32
    assert st["merged_sidecars"] == 0
    assert len(_distinct_live_sidecars(spark, t)) == 3


def test_analyze_consolidates_automatically(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(aggregates, "_CONSOLIDATE_MAX_SIDECARS", 6)
    t = str(tmp_path / "con4")
    _mk_generations(spark, t, 9)
    # fully covered table: ANALYZE's no-op branch now consolidates
    st = analyze_table(spark, t)
    assert st["merged_sidecars"] == 9
    assert len(_distinct_live_sidecars(spark, t)) == 1
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 45


def test_appends_and_dml_after_consolidation(spark, tmp_path):
    t = str(tmp_path / "con5")
    _mk_generations(spark, t, 10)
    consolidate_stats(spark, t, max_sidecars=4)
    # later appends carry the consolidated reference and add their own
    append_snapshot(
        spark.range(1000, 1010).selectExpr(
            "id AS k", "CAST(id AS INT) AS v"
        ),
        t,
    )
    rels = _distinct_live_sidecars(spark, t)
    assert len(rels) == 2  # one consolidated + the new generation's
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 60 and agg["max"]["k"] == 1009
    # COW delete rewrites affected generations; aggregate stays exact
    delete_where(spark, t, "k >= 1000")
    agg2 = metadata_aggregate(spark, t, columns=["k"])
    assert agg2["rows"] == 50 and agg2["max"]["k"] == 49
    # time travel to the pre-consolidation version still prunes and
    # counts under its own per-generation sidecars
    v_pre = read_snapshot(spark, t, as_of=9)
    assert v_pre.count() == 50


def test_torn_consolidated_reference_refuses_loudly(spark, tmp_path):
    """A generation referenced by the stats block whose doc vanished
    from the consolidated file (partial replication, restored backup)
    must make metadata_aggregate REFUSE — never silently exclude the
    generation's rows from the fold — and analyze_table must repair."""
    import json

    t = str(tmp_path / "con7")
    _mk_generations(spark, t, 6)
    consolidate_stats(spark, t, max_sidecars=2)
    man = latest_manifest(spark, t)
    rel = next(iter(man["stats"]["sidecars"].values()))
    path = f"{t}/{rel}"
    doc = json.loads(open(path).read())
    victim = sorted(doc["gens"])[0]
    del doc["gens"][victim]
    crc = f"{t}/{rel.rsplit('/', 1)[0]}/.{rel.rsplit('/', 1)[1]}.crc"
    import os

    if os.path.exists(crc):
        os.remove(crc)
    with open(path, "w") as fh:
        fh.write(json.dumps(doc, sort_keys=True))
    sidecars._SIDECAR_CACHE.clear()
    with pytest.raises(ValueError, match="docs are missing"):
        metadata_aggregate(spark, t, columns=["k"])
    # ANALYZE re-sweeps the torn generation and the aggregate answers
    st = analyze_table(spark, t)
    assert st["analyzed_generations"] >= 1
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 30


def test_vacuum_lifecycle_with_consolidation(spark, tmp_path):
    """Retention interplay: after consolidation the old per-gen
    sidecars stay on disk while the pre-consolidation manifests are
    retained (time travel reads them), and a vacuum that expires
    those manifests reclaims exactly them — the consolidated file and
    the aggregate survive."""
    import os

    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "con8")
    _mk_generations(spark, t, 8)
    consolidate_stats(spark, t, max_sidecars=4)
    sdir = f"{t}/_manifests/stats"

    def side_files():
        return {
            n for n in os.listdir(sdir)
            if n.endswith(".json") and not n.startswith(".")
        }

    before = side_files()
    assert len(before) == 9  # 8 per-gen + 1 consolidated
    # pre-consolidation version still aggregates from ITS sidecars
    pre = metadata_aggregate(spark, t, columns=["k"], as_of=5)
    assert pre["rows"] == 30
    # one more commit so BOTH retained manifests post-date the
    # consolidation (keep_last >= 2 keeps the predecessor, and the
    # pre-consolidation manifest rightly pins every per-gen sidecar)
    append_snapshot(
        spark.range(1000, 1005).selectExpr(
            "id AS k", "CAST(id AS INT) AS v"
        ),
        t,
    )
    st = vacuum_snapshots(spark, t, keep_last=2, staging_ttl_hours=0.0)
    assert st["expired_manifests"]
    assert len(st["removed_stat_sidecars"]) == 8  # the old per-gen set
    after = side_files()
    assert len(after) == 2  # consolidated + the new generation's own
    assert any("consolidated-" in n for n in after)
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 45 and agg["max"]["k"] == 1004
    assert read_snapshot(spark, t).count() == 45


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_consolidation_racing_appender_never_tears(
    spark, tmp_path, seed
):
    """consolidate_stats racing a concurrent appender: the
    consolidation either commits or loses the id race loudly
    (SnapshotConflict — retry succeeds); every append that returned
    success is in the final table; the final stats block answers the
    final content exactly. Never a torn stats reference."""
    import threading

    from big_data_spark.io.snapshot import (
        SnapshotConflict,
        append_with_retry,
    )

    t = str(tmp_path / f"conr{seed}")
    _mk_generations(spark, t, 6)
    gate = threading.Barrier(2)
    errors: list = []
    conflicts = [0]

    def consolidator():
        try:
            gate.wait(timeout=60)
            for _ in range(8):
                try:
                    consolidate_stats(spark, t, max_sidecars=2)
                    return
                except SnapshotConflict:
                    conflicts[0] += 1
        except Exception as exc:  # noqa: BLE001
            errors.append(("consolidator", exc))

    appended: list[int] = []

    def appender():
        try:
            gate.wait(timeout=60)
            import random as _r

            rng = _r.Random(seed)
            for j in range(4):
                base = 10_000 * (j + 1)
                n = rng.randint(2, 6)
                append_with_retry(
                    spark.range(base, base + n).selectExpr(
                        "id AS k", "CAST(id AS INT) AS v"
                    ),
                    t,
                    attempts=30,
                )
                appended.extend(range(base, base + n))
        except Exception as exc:  # noqa: BLE001
            errors.append(("appender", exc))

    threads = [
        threading.Thread(target=consolidator),
        threading.Thread(target=appender),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=180)
    assert not errors, errors
    want = set(range(30)) | set(appended)
    got = {r["k"] for r in read_snapshot(spark, t).collect()}
    assert got == want, (
        f"seed={seed} conflicts={conflicts[0]}: "
        f"(+{sorted(got - want)[:5]} -{sorted(want - got)[:5]})"
    )
    sidecars._SIDECAR_CACHE.clear()
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == len(want) and agg["max"]["k"] == max(want)


def test_rename_replay_survives_consolidation(spark, tmp_path):
    from big_data_spark.io.snapshot import evolve_schema

    t = str(tmp_path / "con6")
    _mk_generations(spark, t, 8)
    consolidate_stats(spark, t, max_sidecars=4)
    evolve_schema(spark, t, renames={"k": "key"})
    agg = metadata_aggregate(spark, t, columns=["key"])
    assert agg["min"]["key"] == 0 and agg["max"]["key"] == 39
    with pytest.raises(ValueError, match="not in the recorded stats"):
        metadata_aggregate(spark, t, columns=["k"])


# ---------------------------------------------------------------
# Round-14 directive #1: size-capped shards + incremental tail-only
# folding — the single consolidated JSON was itself the next
# monolithic-metadata problem at 10^5-10^6 files.


def test_consolidation_writes_capped_shards(spark, tmp_path):
    t = str(tmp_path / "shard1")
    _mk_generations(spark, t, 25)
    st = consolidate_stats(spark, t, max_sidecars=4, shard_gens=10)
    assert st["merged_sidecars"] == 25
    rels = _distinct_live_sidecars(spark, t)
    # ceil(25/10) = 3 shards: two sealed fulls + one tail.
    assert len(rels) == 3
    fulls = {r for r in rels if "consolidated-f10-" in r}
    tails = rels - fulls
    assert len(fulls) == 2 and len(tails) == 1
    assert "consolidated-t5-" in next(iter(tails))
    agg = metadata_aggregate(spark, t, columns=["k", "v"])
    assert agg["rows"] == 125
    assert agg["min"]["k"] == 0 and agg["max"]["k"] == 124
    assert agg["sum"]["v"] == sum(range(125))
    # Immediate repeat: only the tail is refoldable (1 <= 4) — no-op.
    st2 = consolidate_stats(spark, t, max_sidecars=4, shard_gens=10)
    assert st2["merged_sidecars"] == 0


def test_repeat_consolidation_rewrites_only_the_tail(spark, tmp_path):
    t = str(tmp_path / "shard2")
    _mk_generations(spark, t, 25)
    consolidate_stats(spark, t, max_sidecars=4, shard_gens=10)
    sealed = {
        r
        for r in _distinct_live_sidecars(spark, t)
        if "consolidated-f" in r
    }
    # 5 more loose per-gen files: tail(5 gens) + 5 loose = 6 > 4.
    for i in range(25, 30):
        append_snapshot(
            spark.range(i * 5, (i + 1) * 5).selectExpr(
                "id AS k", "CAST(id AS INT) AS v"
            ),
            t,
        )
    st = consolidate_stats(spark, t, max_sidecars=4, shard_gens=10)
    assert st["merged_sidecars"] == 6  # tail shard + 5 loose only
    rels = _distinct_live_sidecars(spark, t)
    # Sealed fulls carried BY REFERENCE — byte-identical rels.
    assert sealed <= rels
    # Refolded 10 gens cut one new full + nothing left over.
    assert len(rels) == 3 and len(rels - sealed) == 1
    assert "consolidated-f10-" in next(iter(rels - sealed))
    sidecars._SIDECAR_CACHE.clear()
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 150 and agg["max"]["k"] == 149


def test_fresh_process_reads_at_most_shard_count_files(
    spark, tmp_path
):
    t = str(tmp_path / "shard3")
    _mk_generations(spark, t, 25)
    consolidate_stats(spark, t, max_sidecars=4, shard_gens=10)
    sidecars._SIDECAR_CACHE.clear()
    base = sidecars._SIDECAR_FS_READS
    agg = metadata_aggregate(spark, t, columns=["k"])
    # 3 shards <= bulk threshold: the serial cached loop reads each
    # shard file exactly once.
    assert sidecars._SIDECAR_FS_READS - base <= 3
    assert agg["rows"] == 125


def test_byte_cap_cuts_oversized_shards(spark, tmp_path):
    t = str(tmp_path / "shard4")
    _mk_generations(spark, t, 6)
    # Every per-gen doc exceeds a 10-byte cap: one gen per shard.
    consolidate_stats(
        spark, t, max_sidecars=2, shard_gens=100, shard_bytes=10
    )
    rels = _distinct_live_sidecars(spark, t)
    assert len(rels) == 6
    assert sum("consolidated-f1-" in r for r in rels) == 5
    assert sum("consolidated-t1-" in r for r in rels) == 1
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 30 and agg["max"]["k"] == 29


def test_mostly_dead_full_shard_gets_compacted(spark, tmp_path):
    """A full shard whose live generations drop below half its
    written count (mass rewrite/delete) loses its seal and folds
    into the next pass instead of bloating every future read."""
    t = str(tmp_path / "shard5")
    _mk_generations(spark, t, 20)
    consolidate_stats(spark, t, max_sidecars=2, shard_gens=10)
    rels0 = _distinct_live_sidecars(spark, t)
    assert len(rels0) == 2  # f10 + t10... both cut at the gen cap
    # COW-delete most rows: generations whose every row dies go
    # fully dead; enough deletion unseals a full shard.
    delete_where(spark, t, "k < 80")
    # Loose rewrite gens + unsealed shards pile up; force a pass.
    for i in range(20, 26):
        append_snapshot(
            spark.range(i * 5, (i + 1) * 5).selectExpr(
                "id AS k", "CAST(id AS INT) AS v"
            ),
            t,
        )
    st = consolidate_stats(spark, t, max_sidecars=2, shard_gens=10)
    assert st["merged_sidecars"] >= 2
    sidecars._SIDECAR_CACHE.clear()
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == 20 + 30 and agg["min"]["k"] == 80


def test_prefetch_attributes_docs_to_the_rel_actually_read(
    spark, tmp_path
):
    """ADVICE r13 (medium): the bulk sidecar prefetch must credit
    each doc to the file it was READ from. A stale consolidated
    shard still carrying gen G's pre-backfill doc must never shadow
    G's fresher per-gen sidecar (row order in the bulk read is
    arbitrary), and must never be cached under the per-gen rel."""
    import json
    import os

    t = str(tmp_path / "attr")
    side: dict[str, str] = {}
    fresh_rel = None
    for i in range(34):
        g = f"s={i}"
        f_rel = f"_data/{g}/part-0.parquet"
        rel = sidecars._write_stats_sidecar(
            spark,
            t,
            g,
            files={f_rel: {"k": ["0", "9"]}},
            rows={f_rel: 10},
            names_at=0,
            sums={},
            nonnull={},
        )
        side[g] = rel
        if i == 0:
            fresh_rel = rel
    # Stale consolidated shard: carries s=0 with WRONG rows plus two
    # gens of its own.
    stale = {
        "gen": "s=0",
        "files": {"_data/s=0/part-0.parquet": {"k": ["0", "9"]}},
        "rows": {"_data/s=0/part-0.parquet": 999},
        "names_at": 0,
        "sums": {},
        "nonnull": {},
    }
    own = {}
    for j in (100, 101):
        g = f"s={j}"
        f_rel = f"_data/{g}/part-0.parquet"
        own[g] = {
            "gen": g,
            "files": {f_rel: {"k": ["0", "9"]}},
            "rows": {f_rel: 7},
            "names_at": 0,
            "sums": {},
            "nonnull": {},
        }
    con_rel = "_manifests/stats/consolidated-deadbeef.json"
    os.makedirs(f"{t}/_manifests/stats", exist_ok=True)
    with open(f"{t}/{con_rel}", "w") as fh:
        json.dump({"gens": {"s=0": stale, **own}}, fh)
    for g in own:
        side[g] = con_rel
    sidecars._SIDECAR_CACHE.clear()
    out = sidecars._prefetch_sidecars(
        spark, t, {"sidecars": side}, sorted(side)
    )
    # 36 distinct uncached files > threshold: the bulk path ran.
    assert out["s=0"]["rows"] == {"_data/s=0/part-0.parquet": 10}
    assert out["s=100"]["rows"] == {
        "_data/s=100/part-0.parquet": 7
    }
    # Cache attribution: the per-gen rel holds the FRESH doc, the
    # consolidated rel holds the raw consolidated doc.
    assert sidecars._SIDECAR_CACHE[(t, fresh_rel)]["rows"] == {
        "_data/s=0/part-0.parquet": 10
    }
    assert "gens" in sidecars._SIDECAR_CACHE[(t, con_rel)]
