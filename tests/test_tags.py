"""Snapshot tags + timestamp time travel (round 9): named pins a
reader can resolve, vacuum retention that keeps tagged versions
alive past keep_last, and as_of_ts resolution from the manifests'
commit timestamps."""

from __future__ import annotations

import json
import threading

import pytest

from big_data_spark.io import layout, table_writes
from big_data_spark.io.snapshot import (
    SnapshotConflict,
    append_snapshot,
    delete_tag,
    list_tags,
    read_manifest,
    read_snapshot,
    resolve_as_of_ts,
    snapshot_ids,
    table_history,
    tag_snapshot,
    vacuum_snapshots,
    write_snapshot,
)


def _build(spark, t, gens=5):
    for g in range(gens):
        append_snapshot(
            spark.range(g * 10, (g + 1) * 10).selectExpr("id AS k"),
            t,
            snapshot_id=g,
        )


def test_tag_read_and_listing(spark, tmp_path):
    t = str(tmp_path / "tags")
    _build(spark, t)
    assert tag_snapshot(spark, t, "eval-v1", snapshot_id=2) == 2
    assert tag_snapshot(spark, t, "latest-release") == 4  # defaults newest
    assert list_tags(spark, t) == {"eval-v1": 2, "latest-release": 4}
    assert read_snapshot(spark, t, tag="eval-v1").count() == 30
    assert read_snapshot(spark, t, tag="latest-release").count() == 50
    with pytest.raises(ValueError, match="not found"):
        read_snapshot(spark, t, tag="nope")
    with pytest.raises(SnapshotConflict, match="already exists"):
        tag_snapshot(spark, t, "eval-v1", snapshot_id=3)
    assert tag_snapshot(spark, t, "eval-v1", snapshot_id=3, replace=True) == 3
    with pytest.raises(ValueError, match="must be"):
        tag_snapshot(spark, t, "../escape")
    with pytest.raises(ValueError, match="not found"):
        tag_snapshot(spark, t, "ok", snapshot_id=99)


def test_tagged_snapshot_survives_vacuum(spark, tmp_path):
    t = str(tmp_path / "pinned")
    _build(spark, t)
    tag_snapshot(spark, t, "frozen", snapshot_id=1)
    res = vacuum_snapshots(spark, t, keep_last=2)
    # 0 and 2 expire; 1 is pinned, 3-4 kept by the window.
    assert res["expired_manifests"] == [0, 2]
    assert read_snapshot(spark, t, tag="frozen").count() == 20
    # Generation s=0 stays live because tagged manifest 1 references
    # it (append lineage: manifest 1 carries b0 + b1).
    assert "s=0" not in res["removed_generations"]
    # Releasing the tag releases the data to the next vacuum.
    delete_tag(spark, t, "frozen")
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert 1 in res["expired_manifests"]
    with pytest.raises(Exception):
        read_snapshot(spark, t, as_of=1).count()


def test_as_of_ts_resolution(spark, tmp_path):
    t = str(tmp_path / "ts")
    _build(spark, t, gens=3)
    hist = {
        r["snapshot_id"]: r["committed_at_ms"]
        for r in table_history(spark, t).collect()
    }
    assert all(hist[i] is not None for i in range(3))
    assert hist[0] <= hist[1] <= hist[2]
    assert resolve_as_of_ts(spark, t, hist[1]) == 1
    assert resolve_as_of_ts(spark, t, hist[2] + 10_000) == 2
    assert read_snapshot(spark, t, as_of_ts=hist[1]).count() == 20
    with pytest.raises(ValueError, match="at or before"):
        resolve_as_of_ts(spark, t, hist[0] - 10_000)
    with pytest.raises(ValueError, match="at most ONE"):
        read_snapshot(spark, t, as_of=1, tag="x")


def test_rollback_snapshot_restores_content_and_schema(spark, tmp_path):
    from big_data_spark.io.snapshot import (
        delete_where,
        evolve_schema,
        read_changes,
        rollback_snapshot,
    )

    t = str(tmp_path / "rb")
    _build(spark, t, gens=2)  # ids 0,1: 20 rows of k
    evolve_schema(spark, t, renames={"k": "key"})  # id 2
    delete_where(spark, t, "key < 5")  # id 3
    assert read_snapshot(spark, t).count() == 15
    sid = rollback_snapshot(spark, t, 1)
    assert sid == 4
    got = read_snapshot(spark, t)
    assert got.columns == ["k"] and got.count() == 20
    # History intact: the undone versions stay time-travelable.
    assert read_snapshot(spark, t, as_of=3).count() == 15
    # The feed reports the rollback: the DELETE's survivors
    # generation drops (delete) and the restored generations return
    # (insert) — replay semantics hold.
    feed = read_changes(spark, t, after_id=3)
    kinds = {r["_change_type"] for r in feed.collect()}
    assert kinds == {"insert", "delete"}
    # No-op rollback commits nothing.
    assert rollback_snapshot(spark, t, 4) == 4
    # Rolling back to an expired version fails loudly.
    with pytest.raises(Exception):
        rollback_snapshot(spark, t, 99)


def test_sql_maintenance_statements(spark, tmp_path):
    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import delete_where

    t = str(tmp_path / "maint")
    _build(spark, t, gens=4)
    c = SnapshotCatalog(spark, versions="lazy")
    c.register("mt", t)
    hist = c.sql("DESCRIBE HISTORY mt")
    assert hist.count() == 4
    assert "committed_at_ms" in hist.columns
    st = c.sql("OPTIMIZE mt")
    assert st["statement_type"] == "OPTIMIZE"
    st = c.sql("VACUUM mt RETAIN 3 SNAPSHOTS")
    assert st["statement_type"] == "VACUUM"
    assert read_snapshot(spark, t).count() == 40
    pre_delete = max(
        r["snapshot_id"]
        for r in c.sql("DESCRIBE HISTORY mt").collect()
    )
    c.sql("DELETE FROM mt WHERE k < 10")
    assert c.sql("SELECT count(*) AS n FROM mt").first()["n"] == 30
    before = c.sql("DESCRIBE HISTORY mt").count()
    st = c.sql(f"RESTORE TABLE mt TO VERSION AS OF {pre_delete}")
    assert st["statement_type"] == "RESTORE"
    assert c.sql("SELECT count(*) AS n FROM mt").first()["n"] == 40
    assert c.sql("DESCRIBE HISTORY mt").count() == before + 1
    # Unregistered targets pass through to spark.sql errors, not
    # dispatcher errors.
    with pytest.raises(Exception) as ei:
        c.sql("DESCRIBE HISTORY nosuch")
    assert "unsupported DML" not in str(ei.value)


def test_rollback_of_mor_delete_reports_reinserts(spark, tmp_path):
    """Code-review round 9: a rollback that UNDOES a merge-on-read
    delete removes vectors without touching entries — the feed must
    report the un-masked rows as inserts (replaying the feed onto the
    pre-rollback version must reproduce the restored one)."""
    from big_data_spark.io.snapshot import delete_where, read_changes, rollback_snapshot

    t = str(tmp_path / "rbmor")
    _build(spark, t, gens=2)  # ids 0,1: k in [0, 20)
    st = delete_where(spark, t, "k >= 15", mode="mor")  # id 2, 5 rows
    assert st["deleted_rows"] == 5
    sid = rollback_snapshot(spark, t, 1)  # id 3: masks drop
    assert read_snapshot(spark, t).count() == 20
    feed = read_changes(spark, t, after_id=2, until_id=sid)
    rows = feed.collect()
    assert all(r["_change_type"] == "insert" for r in rows)
    assert sorted(r["k"] for r in rows) == [15, 16, 17, 18, 19]


def test_rollback_across_evolution_feed_keeps_values(spark, tmp_path):
    """Code-review round 9: the feed must present DELETE-kind rows in
    the schema they were last visible under — a rollback regressing a
    rename must not NULL-pad the removed generation's rows."""
    from big_data_spark.io.snapshot import (
        delete_where,
        evolve_schema,
        read_changes,
        rollback_snapshot,
    )

    t = str(tmp_path / "rbevo")
    _build(spark, t, gens=1)  # id 0: k in [0, 10)
    evolve_schema(spark, t, renames={"k": "key"})  # id 1
    delete_where(spark, t, "key < 3")  # id 2: rewrites into s=2 (col 'key')
    sid = rollback_snapshot(spark, t, 0)  # id 3: schema back to 'k'
    assert read_snapshot(spark, t).columns == ["k"]
    feed = read_changes(spark, t, after_id=2, until_id=sid)
    dels = feed.where("_change_type = 'delete'").collect()
    ins = feed.where("_change_type = 'insert'").collect()
    # Deleted rows (the s=2 survivors, 7 rows) carry their VALUES in
    # the pre-rollback schema ('key'), not typed NULLs.
    assert sorted(r["key"] for r in dels) == list(range(3, 10))
    assert all(r["key"] is not None for r in dels)
    # Re-inserted rows are the restored generation in schema 'k'.
    assert sorted(r["k"] for r in ins) == list(range(10))


def test_committed_at_ms_strictly_monotone(spark, tmp_path):
    from big_data_spark.io.snapshot import read_manifest

    t = str(tmp_path / "mono")
    _build(spark, t, gens=4)
    ts = [
        read_manifest(spark, t, i)["committed_at_ms"] for i in range(4)
    ]
    assert ts == sorted(ts) and len(set(ts)) == 4, ts


def test_restore_unregistered_passes_through(spark, tmp_path):
    from big_data_spark.catalog import SnapshotCatalog

    c = SnapshotCatalog(spark)
    with pytest.raises(Exception) as ei:
        c.sql("RESTORE TABLE nosuch TO VERSION AS OF 1")
    assert "unknown snapshot table" not in str(ei.value)


def test_rollback_across_fold_emits_no_phantom_deletes(spark, tmp_path):
    """Code-review round 9: rollback restoring a pre-fold vector over
    entries the fold replaced must not emit vector-side rows against
    the NEW entries — rows invisible on one side of the commit would
    otherwise appear as phantom deletes and break feed replay."""
    from big_data_spark.io.snapshot import (
        delete_where,
        fold_deletes,
        read_changes,
        rollback_snapshot,
    )

    t = str(tmp_path / "rbfold")
    _build(spark, t, gens=2)  # ids 0,1: k in [0, 20)
    delete_where(spark, t, "k = 7", mode="mor")  # id 2: vector masks 1 row
    fold_deletes(spark, t)  # id 3 (maintenance): rewrites, clears masks
    sid = rollback_snapshot(spark, t, 2)  # id 4: pre-fold entries + vector
    assert read_snapshot(spark, t).count() == 19
    feed = read_changes(spark, t, after_id=3, until_id=sid)
    dels = feed.where("_change_type = 'delete'").collect()
    ins = feed.where("_change_type = 'insert'").collect()
    # Content unchanged (fold was maintenance): the rollback swaps
    # the folded generation (9 physical rows: 0..9 minus the
    # materialized 7) for the restored masked one (same 9 visible
    # rows); the untouched generation s=1 carries on both sides.
    # Crucially NO extra vector-side delete of the already-masked
    # row against the new entries.
    assert len(dels) == 9 and len(ins) == 9
    assert sorted(r["k"] for r in dels) == sorted(r["k"] for r in ins)
    assert 7 not in {r["k"] for r in ins}


def test_vacuum_retain_hours_keeps_recent_versions(spark, tmp_path):
    """Wall-clock retention (round 11, Delta's spelling): versions
    committed inside the trailing window survive vacuum even past the
    keep_last commit-count floor; RETAIN 0 HOURS restores pure
    commit-count behavior."""
    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import (
        append_snapshot,
        snapshot_ids,
        vacuum_snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "ret")
    write_snapshot(spark.range(3).selectExpr("id AS k"), t)
    for _ in range(4):
        append_snapshot(spark.range(2).selectExpr("id AS k"), t)
    assert snapshot_ids(spark, t) == [0, 1, 2, 3, 4]
    # everything was committed seconds ago: a 1-hour window keeps all
    st = vacuum_snapshots(spark, t, keep_last=2, retain_hours=1.0)
    assert snapshot_ids(spark, t) == [0, 1, 2, 3, 4]
    assert st.get("expired_manifests", st.get("expired", 0)) in (0, [])
    # SQL spelling
    c = SnapshotCatalog(spark)
    c.register("ret_t", t)
    c.sql("VACUUM ret_t RETAIN 1 HOURS")
    assert snapshot_ids(spark, t) == [0, 1, 2, 3, 4]
    # a zero-hour window falls back to commit-count retention
    vacuum_snapshots(spark, t, keep_last=2, retain_hours=0.0)
    assert snapshot_ids(spark, t) == [3, 4]


def test_tag_replace_retries_lost_mover_race(spark, tmp_path, monkeypatch):
    """On an FS WITHOUT an atomic overwrite-rename (the non-local
    fallback — local FS takes a java.nio ATOMIC_MOVE path),
    two replace=True movers race: the loser's rename fails because
    the winner's file landed after its delete. The loser retries once
    (last-completed-wins for an explicit MOVE) instead of raising the
    misleading first-writer 'pass replace=True' conflict."""
    t = str(tmp_path / "tag_race")
    for g in range(3):
        append_snapshot(
            spark.range(10).selectExpr("id AS k"), t, snapshot_id=g
        )
    tag_snapshot(spark, t, "rel", snapshot_id=0)

    class _FakeUri:
        def getScheme(self):
            return "mockdfs"  # forces the delete-then-rename fallback

    class _RacedFS:
        """First delete of the tag file is swallowed — as if a racing
        mover re-created the destination in the same instant."""

        def __init__(self, fs):
            self._fs = fs
            self.swallowed = False

        def getUri(self):
            return _FakeUri()

        def delete(self, path, recursive=False):
            if (
                not self.swallowed
                and path.getName() == "rel.json"
            ):
                self.swallowed = True
                return True
            return self._fs.delete(path, recursive)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_hadoop_fs = layout.hadoop_fs
    raced: dict = {}

    def wrapped(spark_, path):
        fs, p = real_hadoop_fs(spark_, path)
        if "tag_race" in path:
            proxy = raced.setdefault("fs", _RacedFS(fs))
            return proxy, p
        return fs, p

    monkeypatch.setattr(layout, "hadoop_fs", wrapped)
    assert tag_snapshot(spark, t, "rel", snapshot_id=2, replace=True) == 2
    assert raced["fs"].swallowed  # the race actually happened
    monkeypatch.undo()
    assert list_tags(spark, t)["rel"] == 2


def test_vacuum_rescues_pin_landing_after_kill_list(
    spark, tmp_path, monkeypatch
):
    """A tag pinned BETWEEN vacuum's first tag read and its deletes
    is rescued by the post-kill-list re-read: the pinned manifest and
    its generation survive."""
    t = str(tmp_path / "late_pin")
    for g in range(5):
        append_snapshot(
            spark.range(g * 10, (g + 1) * 10).selectExpr("id AS k"),
            t,
            snapshot_id=g,
        )
    tag_snapshot(spark, t, "late", snapshot_id=1)
    real_list = table_writes.list_tags
    calls = {"n": 0}

    def late_pin_list(spark_, table_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            return {}  # the pin hasn't landed yet at the first read
        return real_list(spark_, table_dir)

    monkeypatch.setattr(table_writes, "list_tags", late_pin_list)
    res = vacuum_snapshots(spark, t, keep_last=2)
    assert calls["n"] >= 2
    assert 1 not in res["expired_manifests"]
    assert 1 in snapshot_ids(spark, t)
    monkeypatch.undo()
    assert read_snapshot(spark, t, tag="late").count() == 20


def test_tag_replace_never_exposes_missing_tag_on_local_fs(
    spark, tmp_path
):
    """replace=True is one atomic overwrite-rename on local FS: a
    reader polling the tag while a mover loops replace-tags must
    never observe not-found, and the pin must stay readable (crc
    sidecar consistent) after every move."""
    t = str(tmp_path / "tagswap")
    write_snapshot(spark.range(3).selectExpr("id AS k"), t, snapshot_id=0)
    write_snapshot(spark.range(4).selectExpr("id AS k"), t, snapshot_id=1)
    tag_snapshot(spark, t, "release", snapshot_id=0)

    stop = threading.Event()
    errors: list[str] = []

    def mover():
        flip = 0
        while not stop.is_set():
            try:
                tag_snapshot(
                    spark, t, "release", snapshot_id=flip % 2, replace=True
                )
            except Exception as exc:  # pragma: no cover - fail loudly
                errors.append(f"mover: {exc}")
                return
            flip += 1

    th = threading.Thread(target=mover)
    th.start()
    try:
        path = f"{t}/_tags/release.json"
        for _ in range(200):
            # Raw filesystem probe: the window the delete-then-rename
            # path exposed was the file being absent between ops.
            with open(path, "rb") as fh:
                body = json.loads(fh.read())
            assert body["tag"] == "release"
            assert body["snapshot_id"] in (0, 1)
    except FileNotFoundError:
        errors.append("reader: tag file vanished mid-replace")
    finally:
        stop.set()
        th.join()
    assert errors == []
    # The pin still reads through the checksummed Hadoop FS (no stale
    # .crc sidecar) and resolves a real snapshot.
    sid = list_tags(spark, t)["release"]
    assert read_snapshot(spark, t, tag="release").count() in (3, 4)
    assert sid in (0, 1)
