"""Round-10 advice regressions: vacuum's stale-claim TTL vs renamed
(long-staged) WAP batches, tag replace lost-race retry, the streaming
WAP gate's single-computation guarantee, parameterized ALTER types
reaching the evolution gate, replace-commit timestamp carry, and the
vacuum-side late-pin rescue."""

from __future__ import annotations

import os
import time

import pytest

import big_data_spark.io.snapshot as snap
from big_data_spark.io import layout, table_writes
from big_data_spark.io.snapshot import (
    append_snapshot,
    list_tags,
    publish_staged,
    read_manifest,
    read_snapshot,
    resolve_as_of_ts,
    snapshot_ids,
    stage_snapshot,
    tag_snapshot,
    vacuum_snapshots,
)


def test_long_staged_wap_claim_survives_concurrent_vacuum(
    spark, tmp_path, monkeypatch
):
    """A WAP batch staged LONGER AGO than vacuum's staging TTL (heavy
    audits are blessed) is renamed into _data/s=<id> at publish;
    rename preserves mtime, so without the claim-time stamp a vacuum
    racing the claim->commit window saw a 'stale' above-newest dir
    and deleted the just-claimed data (round-10 advice, medium)."""
    t = str(tmp_path / "stale_claim")
    append_snapshot(
        spark.range(100).selectExpr("id AS k"), t, snapshot_id=0
    )
    token = stage_snapshot(spark.range(100, 150).selectExpr("id AS k"), t)
    # The audit took two days (mtime of the staged dir is ancient).
    old = time.time() - 2 * 24 * 3600
    os.utime(f"{t}/_staging/{token}", (old, old))

    real_commit = table_writes.commit_manifest
    ran = {"vacuum": None}

    def commit_with_racing_vacuum(*args, **kwargs):
        # A vacuum lands exactly inside the claim->commit window.
        if ran["vacuum"] is None:
            ran["vacuum"] = vacuum_snapshots(
                spark, t, keep_last=2, staging_ttl_hours=24.0
            )
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(
        table_writes, "commit_manifest", commit_with_racing_vacuum
    )
    sid = publish_staged(spark, t, token)
    assert sid == 1
    # The claimed generation survived the racing vacuum (the claim
    # stamped its own time) and the published table is intact.
    assert ran["vacuum"]["removed_generations"] == []
    assert read_snapshot(spark, t).count() == 150


def test_tag_replace_retries_lost_mover_race(spark, tmp_path, monkeypatch):
    """On an FS WITHOUT an atomic overwrite-rename (the non-local
    fallback — round 11 gave local FS a java.nio ATOMIC_MOVE path),
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


def test_streaming_wap_gate_audits_the_committed_bytes(
    spark, tmp_path, monkeypatch
):
    """The dq audit and the append are two actions; the sink must
    run both over DISK-STAGED bytes (not a persist, whose evicted
    blocks recompute from lineage with fresh non-determinism — the
    round-10 advice upgrade), so a non-deterministic transform cannot
    pass the audit yet commit different rows."""
    import big_data_spark.operators.dq as dq
    from big_data_spark.operators.dq import not_null
    from big_data_spark.streaming.snapshot_sink import snapshot_sink

    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id AS k").coalesce(1).write.parquet(src)
    real_assert = dq.assert_suite
    seen = {"staged": None}

    def recording_assert(df, checks):
        # The audited frame must be a SCAN of the staged bytes — its
        # input files live under _staging/, not the stream source.
        seen["staged"] = all(
            "/_staging/" in f for f in df.inputFiles()
        ) and len(df.inputFiles()) > 0
        return real_assert(df, checks)

    monkeypatch.setattr(dq, "assert_suite", recording_assert)
    stream = spark.readStream.schema("k long").parquet(src)
    snapshot_sink(
        stream,
        str(tmp_path / "tbl"),
        str(tmp_path / "cp"),
        checks=[not_null("k")],
    )
    assert seen["staged"] is True
    assert read_snapshot(spark, str(tmp_path / "tbl")).count() == 20


def test_alter_parameterized_type_reaches_evolution_gate(spark, tmp_path):
    """'ALTER COLUMN c TYPE decimal(18,2)' (with or without the inner
    space) must reach evolve_schema's loud not-a-lossless-widening
    error, never fall through to plain spark.sql."""
    from big_data_spark.catalog import SnapshotCatalog

    t = str(tmp_path / "alter_t")
    append_snapshot(
        spark.range(10).selectExpr(
            "cast(id as int) AS k", "cast(id as double) AS v"
        ),
        t,
        snapshot_id=0,
    )
    cat = SnapshotCatalog(spark)
    cat.register("alter_t", t)
    for spelling in ("decimal(18,2)", "decimal(18, 2)"):
        with pytest.raises(ValueError, match="lossless widening"):
            cat.sql(
                f"ALTER TABLE alter_t ALTER COLUMN k TYPE {spelling}"
            )
    st = cat.sql("ALTER TABLE alter_t ALTER COLUMN k TYPE bigint")
    assert st["statement_type"] == "ALTER"
    assert dict(read_snapshot(spark, t).dtypes)["k"] == "bigint"


def test_replace_recommit_carries_original_timestamp(spark, tmp_path):
    """A crash-replayed write of an already-committed id keeps the
    ORIGINAL committed_at_ms: re-stamping with the wall clock would
    put manifest N's timestamp above its successor's and make
    as_of_ts time travel resolve the wrong version."""
    t = str(tmp_path / "replay_ts")
    df = spark.range(10).selectExpr("id AS k")
    append_snapshot(df, t, snapshot_id=0)
    ts0 = read_manifest(spark, t, 0)["committed_at_ms"]
    append_snapshot(spark.range(5).selectExpr("id AS k"), t, snapshot_id=1)
    ts1 = read_manifest(spark, t, 1)["committed_at_ms"]
    # The replay of batch 0 (deterministic, same inputs).
    append_snapshot(df, t, snapshot_id=0, replace=True)
    assert read_manifest(spark, t, 0)["committed_at_ms"] == ts0
    assert read_manifest(spark, t, 1)["committed_at_ms"] == ts1
    assert resolve_as_of_ts(spark, t, ts0) == 0
    assert resolve_as_of_ts(spark, t, ts1) == 1


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
