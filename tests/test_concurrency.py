"""Multi-writer safety of the snapshot layer: a committer working
from a STALE manifest must surface SnapshotConflict (retryable), and
must never silently drop — or destroy the data of — a commit that
landed in its read->commit window (round-7 ADVICE high: lost-update
race in _rewrite_where / compact_snapshot / binpack_snapshot)."""

from __future__ import annotations

import pytest

import big_data_spark.io.snapshot as snap
from big_data_spark.io import dml, manifest, table_writes
from big_data_spark.io.manifest import successor
from big_data_spark.io.snapshot import (
    SnapshotConflict,
    append_snapshot,
    read_manifest,
    read_snapshot,
)


def _two_commits(spark, t):
    """Snapshot 0, then an 'interloper' snapshot 1; returns the STALE
    manifest (v0) a slow writer would still be holding."""
    append_snapshot(
        spark.range(0, 100).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=0,
    )
    man0 = read_manifest(spark, t, 0)
    append_snapshot(
        spark.range(100, 200).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=1,
    )
    return man0


def test_delete_where_stale_manifest_conflicts(spark, tmp_path, monkeypatch):
    """DELETE computed over a stale manifest collides on the id the
    interloper took (next_id = stale manifest id + 1) instead of
    carrying forward only the stale entries — and the interloper's
    generation data survives untouched (the fail-fast claim check runs
    before anything is written)."""
    t = str(tmp_path / "race_del")
    man0 = _two_commits(spark, t)
    monkeypatch.setattr(dml, "latest_manifest", lambda *a, **k: man0)
    with pytest.raises(SnapshotConflict):
        snap.delete_where(spark, t, "k >= 0")
    monkeypatch.undo()
    # Both commits intact: nothing lost, nothing deleted.
    assert read_snapshot(spark, t).count() == 200
    assert read_manifest(spark, t, 1)["entries"]


def _gen_bytes(t, sid):
    import glob
    import os

    out = {}
    for p in sorted(glob.glob(f"{t}/_data/s={sid}/**", recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as fh:
                out[os.path.relpath(p, t)] = fh.read()
    return out


@pytest.mark.parametrize("writer", ["append_snapshot", "write_snapshot"])
def test_explicit_id_over_committed_snapshot_refuses(
    spark, tmp_path, writer
):
    """An explicit-id write without replace over an already-committed
    snapshot must refuse BEFORE touching that snapshot's generation:
    the committed rows and the _data/s=<id> files stay byte-identical
    (a delete-then-write publish used to overwrite them with the
    refused batch and then raise)."""
    t = str(tmp_path / "collide")
    _two_commits(spark, t)
    sid = 1 if writer == "append_snapshot" else 0
    before_rows = sorted(
        tuple(r) for r in read_snapshot(spark, t, as_of=sid).collect()
    )
    before_files = _gen_bytes(t, sid)
    assert before_files
    batch = spark.range(500, 503).selectExpr(
        "id AS k", "cast(id as string) AS v"
    )
    with pytest.raises(SnapshotConflict):
        getattr(snap, writer)(batch, t, snapshot_id=sid)
    assert sorted(
        tuple(r) for r in read_snapshot(spark, t, as_of=sid).collect()
    ) == before_rows
    assert _gen_bytes(t, sid) == before_files
    assert read_snapshot(spark, t).where("k >= 500").count() == 0


def test_compact_snapshot_stale_manifest_conflicts(
    spark, tmp_path, monkeypatch
):
    from big_data_spark.io.compact import compact_snapshot

    t = str(tmp_path / "race_compact")
    man0 = _two_commits(spark, t)
    # compact_snapshot resolves latest_manifest from io/manifest.py.
    monkeypatch.setattr(manifest, "latest_manifest", lambda *a, **k: man0)
    with pytest.raises(SnapshotConflict):
        compact_snapshot(spark, t)
    monkeypatch.undo()
    assert read_snapshot(spark, t).count() == 200


def test_binpack_snapshot_stale_manifest_conflicts(
    spark, tmp_path, monkeypatch
):
    from big_data_spark.io.compact import binpack_snapshot

    t = str(tmp_path / "race_binpack")
    man0 = _two_commits(spark, t)
    # Give the stale manifest two small generations so the fold
    # actually proceeds to the id claim.
    append_snapshot(
        spark.range(200, 300).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=2,
    )
    man1 = read_manifest(spark, t, 1)
    monkeypatch.setattr(manifest, "latest_manifest", lambda *a, **k: man1)
    with pytest.raises(SnapshotConflict):
        binpack_snapshot(spark, t, small_bytes=1 << 30)
    monkeypatch.undo()
    assert read_snapshot(spark, t).count() == 300


def test_compact_reads_as_of_its_own_manifest(spark, tmp_path):
    """compact_snapshot folds exactly the version its manifest names:
    inventory, data and next_id all come from ONE manifest, so the
    committed fold equals that version's content."""
    from big_data_spark.io.compact import compact_snapshot

    t = str(tmp_path / "compact_pin")
    _two_commits(spark, t)
    st = compact_snapshot(spark, t)
    assert st["snapshot_id"] == 2
    assert read_snapshot(spark, t, as_of=2).count() == 200


def test_append_with_retry_two_writer_interleave(
    spark, tmp_path, monkeypatch
):
    """Two appenders race one table: the loser's commit collides,
    rebases onto the winner's manifest, and BOTH generations land
    with correct lineage — data written once each, retry costs a
    rename."""
    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "retry_race")
    append_snapshot(
        spark.range(0, 50).selectExpr("id AS k"), t, snapshot_id=0
    )
    orig = table_writes.commit_manifest
    state = {"fired": False}

    def hook(spark_, table_dir, man, **kw):
        # First commit attempt: a METADATA committer (fold_deletes'
        # inert clear, an evolve commit) lands the SAME id first.
        if not state["fired"]:
            state["fired"] = True
            man0 = read_manifest(spark, t, 0)
            orig(
                spark,
                table_dir,
                successor(
                    man0,
                    man["snapshot_id"],
                    dict(man0["entries"]),
                    maintenance=True,
                ),
            )
        return orig(spark_, table_dir, man, **kw)

    monkeypatch.setattr(table_writes, "commit_manifest", hook)
    sid = append_with_retry(
        spark.range(100, 150).selectExpr("id AS k"), t
    )
    monkeypatch.undo()
    assert sid == 2  # rebased past the interloper's 1
    got = read_snapshot(spark, t)
    assert got.count() == 100  # 50 + 50: nothing lost
    man2 = read_manifest(spark, t, 2)
    # Lineage: the final manifest carries the base generation AND
    # the retried append (renamed into s=2 after losing s=1's
    # manifest race and renaming back).
    assert set(man2["entries"].values()) == {
        "_data/s=0",
        "_data/s=2",
    }
    import glob
    import os

    # No staging residue, and no half-claimed s=1 data dir.
    assert glob.glob(f"{t}/_staging/*") == []
    assert not os.path.exists(f"{t}/_data/s=1")


def test_append_with_retry_two_real_writers_in_threads(spark, tmp_path):
    """Two genuinely concurrent append_with_retry writers: both land,
    each exactly once, whatever the interleaving."""
    import threading

    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "retry_threads")
    append_snapshot(
        spark.range(0, 10).selectExpr("id AS k"), t, snapshot_id=0
    )
    results, errors = {}, []

    def writer(tag, lo, hi):
        try:
            results[tag] = append_with_retry(
                spark.range(lo, hi).selectExpr("id AS k"),
                t,
                attempts=10,
            )
        except Exception as exc:  # noqa: BLE001 — surface in assert
            errors.append((tag, exc))

    threads = [
        threading.Thread(target=writer, args=("a", 100, 150)),
        threading.Thread(target=writer, args=("b", 200, 280)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(results.values()) == [1, 2]
    got = read_snapshot(spark, t)
    assert got.count() == 10 + 50 + 80
    assert got.where("k >= 100 AND k < 150").count() == 50
    assert got.where("k >= 200 AND k < 280").count() == 80


def test_append_with_retry_exhausts_on_orphan_dir(spark, tmp_path):
    """A crash orphan squatting on the next id blocks the dir claim;
    the helper raises after its budget with the dir named. No caller
    holds a token for the staged batch, so the helper removes it."""
    import glob
    import os

    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "retry_orphan")
    append_snapshot(
        spark.range(0, 10).selectExpr("id AS k"), t, snapshot_id=0
    )
    os.makedirs(f"{t}/_data/s=1")
    with open(f"{t}/_data/s=1/part-orphan.parquet", "w") as f:
        f.write("x")
    with pytest.raises(SnapshotConflict, match="s=1"):
        append_with_retry(
            spark.range(10, 20).selectExpr("id AS k"), t, attempts=2
        )
    assert glob.glob(f"{t}/_staging/*") == []
    assert read_snapshot(spark, t).count() == 10


def test_refused_or_exhausted_retry_append_leaves_no_staging(
    spark, tmp_path
):
    """append_with_retry stages its batch under a uuid no caller ever
    sees: a refused append (a laid-out batch onto a plain table) and
    a single-attempt append blocked by an orphan generation both
    delete their staged dir before raising."""
    import glob
    import os

    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "retry_staging")
    append_snapshot(
        spark.range(0, 10).selectExpr("id AS k", "id % 2 AS v"), t,
        snapshot_id=0,
    )
    batch = spark.range(10, 20).selectExpr("id AS k", "id % 2 AS v")
    with pytest.raises(ValueError, match="mixed-layout"):
        append_with_retry(batch, t, partition_by="v")
    assert glob.glob(f"{t}/_staging/*") == []
    os.makedirs(f"{t}/_data/s=1")
    with open(f"{t}/_data/s=1/part-orphan.parquet", "w") as f:
        f.write("x")
    with pytest.raises(SnapshotConflict, match="s=1"):
        append_with_retry(batch, t, attempts=1)
    assert glob.glob(f"{t}/_staging/*") == []
    assert read_snapshot(spark, t).count() == 10


def test_vacuum_reclaims_stale_staging_only(spark, tmp_path):
    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "staging_vac")
    _two_commits(spark, t)
    import os

    os.makedirs(f"{t}/_staging/deadbeef")
    rep = vacuum_snapshots(spark, t, keep_last=2)
    assert rep["removed_staging"] == []  # fresh: protected by TTL
    rep = vacuum_snapshots(spark, t, keep_last=2, staging_ttl_hours=0)
    assert rep["removed_staging"] == ["deadbeef"]


def _claimed_dir(spark, t, sid, rows=1):
    """Simulate a retry-appender that CLAIMED _data/s=<sid> (staged
    rename done) but has not committed its manifest yet."""
    from big_data_spark.io.snapshot import generation_dir

    spark.range(rows).selectExpr(
        "id + 9000 AS k", "'claimed' AS v"
    ).write.parquet(generation_dir(t, sid))


def test_dml_respects_appender_dir_claim(spark, tmp_path):
    """Round-8 ADVICE medium: _rewrite_where used delete-then-write
    (clear_generation) on _data/s=<next_id>, destroying a concurrent
    retry-appender's claimed-but-uncommitted data; if the appender
    then won the manifest race, its committed entry pointed at the
    DML's survivor rows. The DML must CONFLICT and leave the claimed
    dir byte-identical."""
    import glob
    import os

    t = str(tmp_path / "claim_dml")
    append_snapshot(
        spark.range(100).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=0,
    )
    _claimed_dir(spark, t, 1)
    files_before = sorted(
        (p, os.path.getsize(p))
        for p in glob.glob(f"{t}/_data/s=1/*.parquet")
    )
    with pytest.raises(SnapshotConflict, match="held by another writer"):
        snap.delete_where(spark, t, "k < 50")
    assert (
        sorted(
            (p, os.path.getsize(p))
            for p in glob.glob(f"{t}/_data/s=1/*.parquet")
        )
        == files_before
    ), "the appender's claimed data must survive byte-identical"
    # Table unchanged; the appender can still commit its manifest.
    assert read_snapshot(spark, t).count() == 100


def test_fold_and_binpack_respect_dir_claim(spark, tmp_path):
    from big_data_spark.io.compact import binpack_snapshot

    t = str(tmp_path / "claim_fold")
    for g in range(2):
        append_snapshot(
            spark.range(g * 10, (g + 1) * 10).selectExpr(
                "id AS k", "cast(id as string) AS v"
            ),
            t,
            snapshot_id=g,
        )
    snap.delete_where(spark, t, "k = 3", mode="mor")  # -> snapshot 2
    _claimed_dir(spark, t, 3)
    with pytest.raises(SnapshotConflict, match="held by another writer"):
        snap.fold_deletes(spark, t)
    with pytest.raises(SnapshotConflict, match="held by another writer"):
        binpack_snapshot(spark, t, small_bytes=1 << 30)
    assert read_snapshot(spark, t).count() == 19


def test_mor_vector_dir_claim(spark, tmp_path):
    """Two MOR writers racing at the same next_id must not interleave
    on _deletes/d=<id>: the second claimant conflicts instead of
    silently replacing the first's positions."""
    t = str(tmp_path / "claim_mor")
    append_snapshot(
        spark.range(100).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=0,
    )
    # First writer's vector dir already claimed (uncommitted).
    spark.createDataFrame(
        [("x", 0)], "file_path string, row_index long"
    ).write.parquet(f"{t}/_deletes/d=1")
    with pytest.raises(SnapshotConflict, match="held by another writer"):
        snap.delete_where(spark, t, "k < 5", mode="mor")
    assert read_snapshot(spark, t).count() == 100


def test_dml_loser_leaves_no_orphan_generation(spark, tmp_path, monkeypatch):
    """When the DML claims its dir but loses the MANIFEST race, it
    must release the claim (and remove its staged generation) so the
    id isn't wedged for every later committer."""
    import glob

    from big_data_spark.io.snapshot import hadoop_fs

    t = str(tmp_path / "loser")
    append_snapshot(
        spark.range(100).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=0,
    )
    real_commit = table_writes.commit_manifest
    state = {"raced": False}

    def race_then_commit(spark_, table_dir, man, **kw):
        if not state["raced"]:
            state["raced"] = True
            # Interloper (e.g. evolve_schema, metadata-only) takes the
            # id first — carrying the PREDECESSOR's entries, never a
            # dir it doesn't hold.
            prev = read_manifest(spark_, table_dir, man["snapshot_id"] - 1)
            real_commit(
                spark_,
                table_dir,
                {**man, "entries": dict(prev["entries"])},
                **kw,
            )
        return real_commit(spark_, table_dir, man, **kw)

    monkeypatch.setattr(table_writes, "commit_manifest", race_then_commit)
    with pytest.raises(SnapshotConflict):
        snap.delete_where(spark, t, "k < 50")
    monkeypatch.undo()
    fs, p = hadoop_fs(spark, f"{t}/_data/s=1")
    assert not fs.exists(p), "losing DML must unclaim its generation"
    assert glob.glob(f"{t}/_staging/*") == []
    # A retry now lands cleanly at the next id.
    st = snap.delete_where(spark, t, "k < 50")
    assert st["deleted_rows"] == 50
    assert read_snapshot(spark, t).count() == 50


def test_vacuum_reclaims_stale_claim_orphans(spark, tmp_path):
    """A crashed claimant's above-newest generation/vector dir blocks
    every future committer (next_id keeps resolving to it); vacuum
    reclaims it once it is older than the staging TTL, while a FRESH
    claim (live writer) is left alone."""
    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "stale_claims")
    for g in range(2):
        append_snapshot(
            spark.range(10).selectExpr("id AS k"), t, snapshot_id=g
        )
    _claimed_dir(spark, t, 2)
    spark.createDataFrame(
        [("x", 0)], "file_path string, row_index long"
    ).write.parquet(f"{t}/_deletes/d=2")
    # Fresh claims survive a default-TTL vacuum.
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert res["removed_generations"] == []
    assert res["removed_delete_vectors"] == []
    # Past the TTL they are crash residue and get reclaimed.
    res = vacuum_snapshots(spark, t, keep_last=2, staging_ttl_hours=0.0)
    assert res["removed_generations"] == ["s=2"]
    assert res["removed_delete_vectors"] == ["d=2"]
    # The id is usable again.
    st = snap.delete_where(spark, t, "k < 5")
    assert st["snapshot_id"] == 2


def test_merge_snapshot_respects_dir_claim_and_reads_as_of(
    spark, tmp_path
):
    """Code-review round 9: SQL MERGE routes through merge_snapshot,
    which used the delete-then-write publish — it must conflict on a
    claimed generation dir instead of overwriting it, and derive its
    id from the manifest it read."""
    from big_data_spark.operators.merge import merge_snapshot

    t = str(tmp_path / "claim_merge")
    append_snapshot(
        spark.range(10).selectExpr("id AS k", "cast(id as string) AS v"),
        t,
        snapshot_id=0,
    )
    _claimed_dir(spark, t, 1)
    src = spark.createDataFrame([(1, "upd")], "k long, v string")
    with pytest.raises(SnapshotConflict, match="held by another writer"):
        merge_snapshot(spark, t, src, ["k"])
    assert read_snapshot(spark, t).count() == 10


def test_vacuum_spares_inflight_direct_write(spark, tmp_path):
    """The staging TTL must never reclaim a staged dir whose df.write
    job is still running (its _temporary subdir exists) — every
    writer stages first, and a write's window is the job duration,
    not seconds."""
    import os

    from big_data_spark.io.snapshot import vacuum_snapshots

    t = str(tmp_path / "inflight")
    for g in range(2):
        append_snapshot(
            spark.range(5).selectExpr("id AS k"), t, snapshot_id=g
        )
    # Simulate a long write in progress: the staged dir exists with
    # only Spark's _temporary work area inside.
    os.makedirs(f"{t}/_staging/cafe0001/_temporary/0")
    res = vacuum_snapshots(spark, t, keep_last=2, staging_ttl_hours=0.0)
    assert res["removed_staging"] == []
    assert os.path.isdir(f"{t}/_staging/cafe0001/_temporary")


def test_mixed_writers_stress(spark, tmp_path):
    """Appenders, a DML writer and a maintenance folder all racing
    one table under the round-9 claim protocol: every append lands
    exactly once, the DELETE lands exactly once, maintenance never
    loses or duplicates a row — whatever the interleaving (losers
    surface SnapshotConflict and retry, never corrupt)."""
    import threading

    from big_data_spark.io.compact import binpack_snapshot
    from big_data_spark.io.snapshot import append_with_retry

    t = str(tmp_path / "mixed")
    append_snapshot(
        spark.range(0, 100).selectExpr("id AS k"), t, snapshot_id=0
    )
    errors: list = []
    done = threading.Event()

    def appender(lo):
        try:
            for b in range(4):
                append_with_retry(
                    spark.range(
                        lo + b * 100, lo + b * 100 + 50
                    ).selectExpr("id AS k"),
                    t,
                    attempts=20,
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(("append", exc))

    def deleter():
        try:
            while True:
                try:
                    st = snap.delete_where(spark, t, "k >= 0 AND k < 50")
                    assert st["deleted_rows"] in (0, 50)
                    if st["deleted_rows"] == 50:
                        return
                except SnapshotConflict:
                    continue
        except Exception as exc:  # noqa: BLE001
            errors.append(("delete", exc))

    def folder():
        try:
            while not done.is_set():
                try:
                    binpack_snapshot(spark, t, small_bytes=1 << 30)
                except SnapshotConflict:
                    continue
        except Exception as exc:  # noqa: BLE001
            errors.append(("fold", exc))

    threads = [
        threading.Thread(target=appender, args=(1000,)),
        threading.Thread(target=appender, args=(10000,)),
        threading.Thread(target=deleter),
        threading.Thread(target=folder),
    ]
    for th in threads:
        th.start()
    for th in threads[:3]:
        th.join()
    done.set()
    threads[3].join()
    assert not errors, errors
    got = read_snapshot(spark, t)
    # 50 surviving base rows + 2 appenders x 4 batches x 50 rows.
    assert got.count() == 50 + 2 * 4 * 50
    assert got.where("k < 50").count() == 0
    assert got.where("k >= 50 AND k < 100").count() == 50
    for lo in (1000, 10000):
        for b in range(4):
            assert (
                got.where(
                    f"k >= {lo + b * 100} AND k < {lo + b * 100 + 50}"
                ).count()
                == 50
            ), f"append batch {lo}+{b} lost or duplicated"


def test_dml_attempts_rebase_retries(spark, tmp_path, monkeypatch):
    """delete_where(attempts=N) rebase-retries on SnapshotConflict —
    each attempt recomputes from the fresh manifest, so the retry
    succeeds against the interloper's state."""
    t = str(tmp_path / "dml_retry")
    append_snapshot(
        spark.range(100).selectExpr("id AS k"), t, snapshot_id=0
    )
    real = dml._rewrite_where
    state = {"n": 0}

    def flaky(*a, **kw):
        state["n"] += 1
        if state["n"] == 1:
            # Interloper lands between the read and the commit.
            append_snapshot(
                spark.range(100, 110).selectExpr("id AS k"), t
            )
            raise SnapshotConflict("simulated race")
        return real(*a, **kw)

    monkeypatch.setattr(dml, "_rewrite_where", flaky)
    st = snap.delete_where(spark, t, "k < 10", attempts=3)
    monkeypatch.undo()
    assert st["deleted_rows"] == 10 and state["n"] == 2
    assert read_snapshot(spark, t).count() == 100
    # attempts=1 (default) surfaces the conflict unchanged.
    state["n"] = 0
    monkeypatch.setattr(dml, "_rewrite_where", flaky)
    with pytest.raises(SnapshotConflict):
        snap.delete_where(spark, t, "k >= 200")
    monkeypatch.undo()
