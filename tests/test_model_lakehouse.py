"""Model-based randomized lakehouse test: a seeded random walk over
the snapshot table's whole write surface — appends, COW/MOR deletes,
updates (with and without row-level CDF), fold_deletes, bin-pack,
rollback, tags — checked after EVERY commit against an in-memory
model, then a full change-feed replay from a mid-walk checkpoint
must reproduce the final model. Interleavings nobody hand-writes
(MOR delete -> row-CDF update -> rollback -> binpack -> feed) are
exactly where table formats rot."""

from __future__ import annotations

import random

import pytest

from big_data_spark.io.compact import binpack_snapshot
from big_data_spark.io.snapshot import (
    append_snapshot,
    delete_where,
    fold_deletes,
    read_changes,
    read_snapshot,
    rollback_snapshot,
    snapshot_ids,
    tag_snapshot,
    update_where,
    vacuum_snapshots,
)

N_STEPS = 22


def _rows(df):
    return {(r["k"], r["v"]) for r in df.collect()}


def _run_walk(spark, tmp_path, seed):
    rng = random.Random(seed)
    t = str(tmp_path / f"model_{seed}")
    model: dict[int, float] = {}
    next_key = 0
    history: dict[int, frozenset] = {}

    def snap_model():
        sid = snapshot_ids(spark, t)[-1]
        history[sid] = frozenset(model.items())
        return sid

    def do_append():
        nonlocal next_key
        m = rng.randint(3, 12)
        batch = [(next_key + i, float(next_key + i)) for i in range(m)]
        next_key += m
        append_snapshot(
            spark.createDataFrame(batch, "k long, v double"), t
        )
        model.update(dict(batch))

    def do_delete():
        p, r = rng.choice([(3, 0), (4, 1), (5, 2), (7, 3)])
        mode = rng.choice(["cow", "mor"])
        row_cdf = mode == "cow" and rng.random() < 0.5
        st = delete_where(
            spark, t, f"k % {p} = {r}", mode=mode, row_cdf=row_cdf
        )
        doomed = [k for k in model if k % p == r]
        assert st["deleted_rows"] == len(doomed), (st, p, r)
        for k in doomed:
            del model[k]

    def do_update():
        p, r = rng.choice([(3, 1), (4, 2), (5, 0)])
        row_cdf = rng.random() < 0.5
        st = update_where(
            spark, t, f"k % {p} = {r}", {"v": "v + 1000.0"},
            row_cdf=row_cdf,
        )
        hit = [k for k in model if k % p == r]
        assert st["updated_rows"] == len(hit), (st, p, r)
        for k in hit:
            model[k] = model[k] + 1000.0

    def do_fold():
        fold_deletes(spark, t)  # content no-op

    def do_binpack():
        binpack_snapshot(spark, t)  # content no-op (maintenance)

    def do_wap():
        # Stage -> audit (read the staged bytes) -> publish append:
        # the unpartitioned WAP surface in the same walk as DML,
        # maintenance and rollback (round-11 directive #6a).
        nonlocal next_key
        from big_data_spark.io.snapshot import (
            publish_staged,
            read_staged,
            stage_snapshot,
        )

        m = rng.randint(2, 6)
        batch = [(next_key + i, float(next_key + i)) for i in range(m)]
        next_key += m
        token = stage_snapshot(
            spark.createDataFrame(batch, "k long, v double"), t
        )
        assert read_staged(spark, t, token).count() == m  # the audit
        publish_staged(spark, t, token, mode="append")
        model.update(dict(batch))

    def do_rollback():
        target = rng.choice(sorted(history))
        rollback_snapshot(spark, t, target)
        model.clear()
        model.update(dict(history[target]))

    # Bootstrap, then checkpoint early so the feed replay covers most
    # of the walk.
    do_append()
    checkpoint_id = snap_model()
    checkpoint_rows = set(history[checkpoint_id])
    tag_snapshot(spark, t, "walk-checkpoint", snapshot_id=checkpoint_id)

    ops = [do_append, do_delete, do_update, do_fold, do_binpack,
           do_rollback, do_wap]
    weights = [4, 3, 3, 1, 1, 1, 2]
    for step in range(N_STEPS):
        op = rng.choices(ops, weights)[0]
        op()
        sid = snap_model()
        got = _rows(read_snapshot(spark, t))
        assert got == set(model.items()), (
            f"seed={seed} step={step} op={op.__name__} sid={sid}: "
            f"table diverged from model "
            f"(+{got - set(model.items())} -{set(model.items()) - got})"
        )

    # Feed replay from the checkpoint reproduces the final model,
    # across every kind of commit the walk produced (tag pins the
    # checkpoint, so this survives any retention policy).
    state = set(checkpoint_rows)
    feed = read_changes(spark, t, after_id=checkpoint_id).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("delete", "update_preimage")
        }
        state |= {
            (r["k"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("insert", "update_postimage")
        }
    assert state == set(model.items()), f"seed={seed}: feed replay diverged"
    # Retention under pins: vacuum keeps the tagged checkpoint alive.
    vacuum_snapshots(spark, t, keep_last=2)
    assert checkpoint_id in snapshot_ids(spark, t)
    assert _rows(
        read_snapshot(spark, t, tag="walk-checkpoint")
    ) == set(checkpoint_rows)


@pytest.mark.parametrize("seed", [7, 23])
def test_random_walk_matches_model(spark, tmp_path, seed):
    _run_walk(spark, tmp_path, seed)


# Hive-escaped on purpose: the walk round-trips an escaping partition
# key through every write path.
PARTS = ("p0", "p1", "p 2:x")
N_PART_STEPS = 16


def _rows3(df):
    return {(r["k"], r["part"], r["v"]) for r in df.collect()}


def _run_partitioned_walk(spark, tmp_path, seed):
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        publish_staged,
        stage_snapshot,
        write_snapshot_partial,
    )

    rng = random.Random(seed)
    t = str(tmp_path / f"pmodel_{seed}")
    model: dict[int, tuple[str, float]] = {}
    next_key = 0
    history: dict[int, frozenset] = {}

    def next_sid():
        return snapshot_ids(spark, t)[-1] + 1

    def snap_model():
        sid = snapshot_ids(spark, t)[-1]
        history[sid] = frozenset(
            (k, p, v) for k, (p, v) in model.items()
        )
        return sid

    def fresh_batch(part, m):
        nonlocal next_key
        batch = [
            (next_key + i, part, float(next_key + i)) for i in range(m)
        ]
        next_key += m
        return batch

    def do_partial_replace():
        part = rng.choice(PARTS)
        batch = fresh_batch(part, rng.randint(2, 8))
        write_snapshot_partial(
            spark.createDataFrame(batch, "k long, part string, v double"),
            t,
            next_sid(),
            "part",
            [part],
        )
        for k in [k for k, (p, _) in model.items() if p == part]:
            del model[k]
        model.update({k: (p, v) for k, p, v in batch})

    def do_wap_append():
        # Staged publish in append mode = replace exactly the touched
        # partitions, audited bytes published verbatim.
        part = rng.choice(PARTS)
        batch = fresh_batch(part, rng.randint(2, 6))
        token = stage_snapshot(
            spark.createDataFrame(batch, "k long, part string, v double"),
            t,
        )
        publish_staged(spark, t, token)
        for k in [k for k, (p, _) in model.items() if p == part]:
            del model[k]
        model.update({k: (p, v) for k, p, v in batch})

    def do_delete():
        p, r = rng.choice([(3, 0), (4, 1), (5, 2)])
        mode = rng.choice(["cow", "mor"])
        st = delete_where(spark, t, f"k % {p} = {r}", mode=mode)
        doomed = [k for k in model if k % p == r]
        assert st["deleted_rows"] == len(doomed), (st, p, r)
        for k in doomed:
            del model[k]

    def do_update():
        p, r = rng.choice([(3, 1), (4, 2)])
        row_cdf = rng.random() < 0.5
        st = update_where(
            spark, t, f"k % {p} = {r}", {"v": "v + 1000.0"},
            row_cdf=row_cdf,
        )
        hit = [k for k in model if k % p == r]
        assert st["updated_rows"] == len(hit), (st, p, r)
        for k in hit:
            part, v = model[k]
            model[k] = (part, v + 1000.0)

    def do_fold():
        fold_deletes(spark, t)

    def do_compact():
        compact_snapshot(spark, t)  # partitioned maintenance branch

    def do_respec():
        # Partition-spec evolution MID-WALK (round-12 directive #4):
        # flatten to unpartitioned, then re-partition on 'part' —
        # two content-neutral maintenance rewrites interleaved with
        # DML/WAP/rollback; every later op must keep working against
        # the re-laid-out table and the feed must stay silent for
        # both commits (read_changes replay below proves it).
        from big_data_spark.io.snapshot import (
            metadata_aggregate,
            repartition_table,
        )

        repartition_table(spark, t, None)
        repartition_table(spark, t, "part")
        # Metadata-aggregate cross-check right after the spec change
        # (round-12 directive #7): the rewrite materialized any MOR
        # vectors and re-derived stats for the new layout, so the
        # fold must answer — and agree with the model exactly.
        agg = metadata_aggregate(spark, t, columns=["k"])
        assert agg["rows"] == len(model)
        if model:
            assert agg["min"]["k"] == min(model)
            assert agg["max"]["k"] == max(model)
            assert agg["sum"]["k"] == sum(model)

    def do_rollback():
        target = rng.choice(sorted(history))
        rollback_snapshot(spark, t, target)
        model.clear()
        model.update(
            {k: (p, v) for k, p, v in history[target]}
        )

    boot = [r for part in PARTS for r in fresh_batch(part, 4)]
    write_snapshot_partial(
        spark.createDataFrame(boot, "k long, part string, v double"),
        t,
        0,
        "part",
        list(PARTS),
    )
    model.update({k: (p, v) for k, p, v in boot})
    checkpoint_id = snap_model()
    checkpoint_rows = set(history[checkpoint_id])
    tag_snapshot(spark, t, "pwalk-checkpoint", snapshot_id=checkpoint_id)

    ops = [do_partial_replace, do_wap_append, do_delete, do_update,
           do_fold, do_compact, do_rollback, do_respec]
    weights = [3, 3, 3, 3, 1, 1, 1, 1]
    for step in range(N_PART_STEPS):
        op = rng.choices(ops, weights)[0]
        op()
        sid = snap_model()
        got = _rows3(read_snapshot(spark, t))
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert got == want, (
            f"seed={seed} step={step} op={op.__name__} sid={sid}: "
            f"table diverged (+{got - want} -{want - got})"
        )
    # Feed replay from the pinned checkpoint reproduces the final
    # model across partial writes, WAP publishes, DML and rollbacks.
    state = set(checkpoint_rows)
    feed = read_changes(spark, t, after_id=checkpoint_id).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["part"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("delete", "update_preimage")
        }
        state |= {
            (r["k"], r["part"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("insert", "update_postimage")
        }
    assert state == {
        (k, p, v) for k, (p, v) in model.items()
    }, f"seed={seed}: partitioned feed replay diverged"


@pytest.mark.parametrize("seed", [11, 42])
def test_partitioned_random_walk_matches_model(spark, tmp_path, seed):
    _run_partitioned_walk(spark, tmp_path, seed)


# ---- Two-column partitioned walk (round-11 directive #1): the same
# op mix over a (part, sub) layout, with escaping values in BOTH
# dimensions, manifest keys as escaped suffixes, and per-leaf
# reconcile through partial writes, WAP, DML, fold, compact,
# rollback and the feed replay. ----

SUBS = ("s0", "s=1")  # '=' must hive-escape in the second level too
MPARTS = [(p, s) for p in PARTS for s in SUBS]


def _rows4(df):
    return {
        (r["k"], r["part"], r["sub"], r["v"]) for r in df.collect()
    }


def _run_multicol_walk(spark, tmp_path, seed):
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import (
        publish_staged,
        stage_snapshot,
        write_snapshot_partial,
    )

    rng = random.Random(seed)
    t = str(tmp_path / f"mcmodel_{seed}")
    schema = "k long, part string, sub string, v double"
    model: dict[int, tuple[str, str, float]] = {}
    next_key = 0
    history: dict[int, frozenset] = {}

    def next_sid():
        return snapshot_ids(spark, t)[-1] + 1

    def snap_model():
        sid = snapshot_ids(spark, t)[-1]
        history[sid] = frozenset(
            (k, p, s, v) for k, (p, s, v) in model.items()
        )
        return sid

    def fresh_batch(leaf, m):
        nonlocal next_key
        p, s = leaf
        batch = [
            (next_key + i, p, s, float(next_key + i)) for i in range(m)
        ]
        next_key += m
        return batch

    def apply_leaf_replace(leaf, batch):
        for k in [
            k for k, (p, s, _) in model.items() if (p, s) == leaf
        ]:
            del model[k]
        model.update({k: (p, s, v) for k, p, s, v in batch})

    def do_partial_replace():
        leaf = rng.choice(MPARTS)
        batch = fresh_batch(leaf, rng.randint(2, 8))
        write_snapshot_partial(
            spark.createDataFrame(batch, schema),
            t,
            next_sid(),
            ["part", "sub"],
            [leaf],
        )
        apply_leaf_replace(leaf, batch)

    def do_wap_append():
        leaf = rng.choice(MPARTS)
        batch = fresh_batch(leaf, rng.randint(2, 6))
        token = stage_snapshot(
            spark.createDataFrame(batch, schema), t
        )
        publish_staged(spark, t, token)
        apply_leaf_replace(leaf, batch)

    def do_delete():
        p_, r_ = rng.choice([(3, 0), (4, 1), (5, 2)])
        mode = rng.choice(["cow", "mor"])
        st = delete_where(spark, t, f"k % {p_} = {r_}", mode=mode)
        doomed = [k for k in model if k % p_ == r_]
        assert st["deleted_rows"] == len(doomed), (st, p_, r_)
        for k in doomed:
            del model[k]

    def do_update():
        p_, r_ = rng.choice([(3, 1), (4, 2)])
        row_cdf = rng.random() < 0.5
        st = update_where(
            spark, t, f"k % {p_} = {r_}", {"v": "v + 1000.0"},
            row_cdf=row_cdf,
        )
        hit = [k for k in model if k % p_ == r_]
        assert st["updated_rows"] == len(hit), (st, p_, r_)
        for k in hit:
            part, sub, v = model[k]
            model[k] = (part, sub, v + 1000.0)

    def do_fold():
        fold_deletes(spark, t)

    def do_compact():
        compact_snapshot(spark, t)

    def do_rollback():
        target = rng.choice(sorted(history))
        rollback_snapshot(spark, t, target)
        model.clear()
        model.update(
            {k: (p, s, v) for k, p, s, v in history[target]}
        )

    def do_respec_multi():
        # Spec change through DIFFERENT column lists (round-12
        # directive #7): two-column -> coarser one-column ->
        # unpartitioned -> back, each an atomic content-neutral
        # rewrite; a metadata-aggregate cross-check after each hop
        # proves the re-derived stats answer exactly (the rewrite
        # also materialized any MOR vectors).
        from big_data_spark.io.snapshot import (
            metadata_aggregate,
            repartition_table,
        )

        for spec in (["part"], None, ["part", "sub"]):
            repartition_table(spark, t, spec)
            got = _rows4(read_snapshot(spark, t))
            want = {(k, p, s, v) for k, (p, s, v) in model.items()}
            assert got == want, f"respec to {spec!r} diverged"
            agg = metadata_aggregate(spark, t, columns=["k"])
            assert agg["rows"] == len(model)
            if model:
                assert agg["min"]["k"] == min(model)
                assert agg["max"]["k"] == max(model)
                assert agg["sum"]["k"] == sum(model)

    boot = [r for leaf in MPARTS for r in fresh_batch(leaf, 3)]
    write_snapshot_partial(
        spark.createDataFrame(boot, schema),
        t,
        0,
        ["part", "sub"],
        list(MPARTS),
    )
    model.update({k: (p, s, v) for k, p, s, v in boot})
    checkpoint_id = snap_model()
    checkpoint_rows = set(history[checkpoint_id])
    tag_snapshot(spark, t, "mcwalk-checkpoint", snapshot_id=checkpoint_id)

    def do_consolidate():
        # Round-14 directive #7: consolidate→respec→rollback
        # interleavings — the cross-feature orderings the dedicated
        # races in test_consolidate.py cannot produce.
        from big_data_spark.io.snapshot import consolidate_stats

        consolidate_stats(spark, t, max_sidecars=2, shard_gens=4)

    ops = [do_partial_replace, do_wap_append, do_delete, do_update,
           do_fold, do_compact, do_rollback, do_respec_multi,
           do_consolidate]
    weights = [3, 3, 3, 3, 1, 1, 1, 1, 2]
    for step in range(N_PART_STEPS):
        op = rng.choices(ops, weights)[0]
        op()
        sid = snap_model()
        got = _rows4(read_snapshot(spark, t))
        want = {(k, p, s, v) for k, (p, s, v) in model.items()}
        assert got == want, (
            f"seed={seed} step={step} op={op.__name__} sid={sid}: "
            f"table diverged (+{got - want} -{want - got})"
        )
    # Manifest-level partition pruning agrees with the model at the
    # end state, on each dimension and on the pair.
    p0 = read_snapshot(spark, t, partitions={"part": PARTS[0]})
    assert _rows4(p0) == {
        (k, p, s, v)
        for k, (p, s, v) in model.items()
        if p == PARTS[0]
    }
    leaf = read_snapshot(
        spark, t, partitions={"part": PARTS[2], "sub": SUBS[1]}
    )
    assert _rows4(leaf) == {
        (k, p, s, v)
        for k, (p, s, v) in model.items()
        if (p, s) == (PARTS[2], SUBS[1])
    }
    # Feed replay from the pinned checkpoint reproduces the final
    # model across partial writes, WAP publishes, DML and rollbacks.
    state = set(checkpoint_rows)
    feed = read_changes(spark, t, after_id=checkpoint_id).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["part"], r["sub"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("delete", "update_preimage")
        }
        state |= {
            (r["k"], r["part"], r["sub"], r["v"])
            for r in feed
            if r["_commit_id"] == sid
            and r["_change_type"] in ("insert", "update_postimage")
        }
    assert state == {
        (k, p, s, v) for k, (p, s, v) in model.items()
    }, f"seed={seed}: multicol feed replay diverged"


@pytest.mark.parametrize("seed", [5, 37, 58])
def test_multicol_random_walk_matches_model(spark, tmp_path, seed):
    _run_multicol_walk(spark, tmp_path, seed)


# ---- Evolution walk: renames/widen/DML/rollback interleaved ----

N_EVO_STEPS = 14


def _run_evolution_walk(spark, tmp_path, seed):
    from big_data_spark.io.snapshot import evolve_schema

    rng = random.Random(seed)
    t = str(tmp_path / f"emodel_{seed}")
    model: dict[int, float] = {}
    next_key = 0
    vname = "v"          # the value column's CURRENT logical name
    vgen = 0
    ktype = "int"        # widened to bigint once, mid-walk
    history: dict[int, tuple] = {}

    def snap_model():
        sid = snapshot_ids(spark, t)[-1]
        history[sid] = (vname, ktype, frozenset(model.items()))
        return sid

    def do_append():
        nonlocal next_key
        m = rng.randint(3, 8)
        batch = [(next_key + i, float(next_key + i)) for i in range(m)]
        next_key += m
        append_snapshot(
            spark.createDataFrame(
                batch, f"k {ktype}, {vname} double"
            ),
            t,
        )
        model.update(dict(batch))

    def do_rename():
        nonlocal vname, vgen
        vgen += 1
        new = f"v_{vgen}"
        evolve_schema(spark, t, renames={vname: new})
        vname = new

    def do_widen():
        nonlocal ktype
        if ktype != "int":
            return do_append()
        evolve_schema(spark, t, widens={"k": "bigint"})
        ktype = "bigint"

    def do_update():
        p, r = rng.choice([(3, 1), (4, 2)])
        st = update_where(
            spark, t, f"k % {p} = {r}", {vname: f"{vname} + 1000.0"},
            row_cdf=rng.random() < 0.5,
        )
        hit = [k for k in model if k % p == r]
        assert st["updated_rows"] == len(hit)
        for k in hit:
            model[k] = model[k] + 1000.0

    def do_delete():
        p, r = rng.choice([(3, 0), (5, 2)])
        mode = rng.choice(["cow", "mor"])
        st = delete_where(spark, t, f"k % {p} = {r}", mode=mode)
        doomed = [k for k in model if k % p == r]
        assert st["deleted_rows"] == len(doomed)
        for k in doomed:
            del model[k]

    def do_rollback():
        nonlocal vname, ktype
        target = rng.choice(sorted(history))
        rollback_snapshot(spark, t, target)
        vname, ktype, rows = history[target]
        model.clear()
        model.update(dict(rows))

    do_append()
    snap_model()
    ops = [do_append, do_rename, do_widen, do_update, do_delete,
           do_rollback]
    weights = [4, 2, 1, 3, 2, 1]
    for step in range(N_EVO_STEPS):
        op = rng.choices(ops, weights)[0]
        op()
        sid = snap_model()
        df = read_snapshot(spark, t)
        assert df.columns == ["k", vname], (
            f"seed={seed} step={step} op={op.__name__}: columns "
            f"{df.columns} != ['k', {vname!r}]"
        )
        assert dict(df.dtypes)["k"] == ktype
        got = {(r["k"], r[vname]) for r in df.collect()}
        assert got == set(model.items()), (
            f"seed={seed} step={step} op={op.__name__} sid={sid}: "
            f"(+{got - set(model.items())} -{set(model.items()) - got})"
        )


@pytest.mark.parametrize("seed", [3, 59])
def test_evolution_random_walk_matches_model(spark, tmp_path, seed):
    _run_evolution_walk(spark, tmp_path, seed)


# ---- Two-thread interleaved walk (round-11 directive #6b): two
# seeded writers race one table through append_with_retry, DML on
# their OWN keys, and maintenance. The ops are chosen to COMMUTE
# (disjoint key ranges per thread; maintenance is content-neutral),
# so the final table must equal the merged model under ANY
# serialization of the committed order — which is exactly what the
# claim/rebase protocol promises. ----


def _concurrent_writer(spark, t, seed, lo, model, errors):
    """One thread's seeded op sequence: appends land unique keys from
    [lo, ...); deletes target only keys this thread appended (precise
    predicate, commutes with the peer); maintenance retried through
    conflicts."""
    import threading  # noqa: F401 — documents intent

    from big_data_spark.io.compact import binpack_snapshot as binpack
    from big_data_spark.io.snapshot import SnapshotConflict, append_with_retry

    rng = random.Random(seed)
    next_key = lo
    appended: list[tuple[int, int]] = []  # (start, n) batches

    def op_append():
        nonlocal next_key
        n = rng.randint(3, 10)
        batch = [(next_key + i, float(next_key + i)) for i in range(n)]
        append_with_retry(
            spark.createDataFrame(batch, "k long, v double"),
            t,
            attempts=30,
        )
        appended.append((next_key, n))
        model.update(dict(batch))
        next_key += n

    def op_delete_own():
        if not appended:
            return
        start, n = rng.choice(appended)
        # Delete a strict sub-range of an own batch — attempts
        # rebase through peer commits.
        cut = rng.randint(1, n)
        delete_where(
            spark, t, f"k >= {start} AND k < {start + cut}", attempts=30
        )
        for k in range(start, start + cut):
            model.pop(k, None)

    def op_maintenance():
        from big_data_spark.io.snapshot import analyze_table

        try:
            r = rng.random()
            if r < 0.34:
                binpack(spark, t, small_bytes=1 << 30)
            elif r < 0.67:
                fold_deletes(spark, t)
            else:
                # ANALYZE racing writers (round-12 directive #7):
                # losing the commit race must surface as
                # SnapshotConflict, never a corrupted stats block.
                analyze_table(spark, t)
        except SnapshotConflict:
            pass  # a peer won the id — maintenance is optional work

    ops = [op_append, op_delete_own, op_maintenance]
    weights = [4, 2, 1]
    try:
        for _ in range(8):
            rng.choices(ops, weights)[0]()
    except Exception as exc:  # noqa: BLE001
        errors.append((seed, exc))


@pytest.mark.parametrize("seed", [5, 21, 77])
def test_repartition_racing_appender_never_tears(spark, tmp_path, seed):
    """Round-12 directive #7: a REAL two-thread race between
    repartition_table and a concurrent appender. Every interleaving
    must end loud-or-clean: the rewrite either commits or raises
    SnapshotConflict (and a retry succeeds); an append either commits
    (and its rows are in the final table) or raises the documented
    partitioned-table refusal AFTER the spec change — never a torn
    table, never a silently dropped commit."""
    import threading
    import time as _time

    from big_data_spark.io.snapshot import (
        SnapshotConflict,
        append_with_retry,
        latest_manifest,
        metadata_aggregate,
        repartition_table,
    )

    t = str(tmp_path / f"rrace_{seed}")
    boot = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)]
    append_snapshot(
        spark.createDataFrame(boot, "k long, d string, v double"),
        t,
        snapshot_id=0,
    )
    model = set(boot)
    gate = threading.Barrier(2)
    errors: list = []
    conflicts: list = []
    refused: list = []
    committed: list[list] = []

    def respec():
        try:
            gate.wait(timeout=60)
            _time.sleep(random.Random(seed).random() * 0.05)
            # Retry until the rewrite lands: the appender commits at
            # most 5 batches and then stops, so the rewrite wins
            # eventually — but under a loaded host each slow rewrite
            # attempt can lose to one more append, so the bound must
            # comfortably exceed the appender's commit count (a
            # 6-attempt bound flaked in the full-suite run).
            for attempt in range(40):
                try:
                    repartition_table(spark, t, "d")
                    return
                except SnapshotConflict:
                    # An append won the id — loud, clean; retry.
                    conflicts.append(attempt)
            errors.append(
                ("respec", RuntimeError("rewrite never landed"))
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(("respec", exc))

    def appender():
        try:
            gate.wait(timeout=60)
            rng = random.Random(seed + 1)
            for j in range(5):
                base = 1000 * (j + 1)
                batch = [
                    (base + i, ["a", "b", "c"][i % 3], float(base + i))
                    for i in range(rng.randint(2, 5))
                ]
                try:
                    append_with_retry(
                        spark.createDataFrame(
                            batch, "k long, d string, v double"
                        ),
                        t,
                        attempts=30,
                    )
                except ValueError as exc:
                    # The spec change landed first: appends to a
                    # partitioned table refuse loudly by contract.
                    assert "partitioned on" in str(exc)
                    refused.append(j)
                    return
                committed.append(batch)
        except Exception as exc:  # noqa: BLE001
            errors.append(("appender", exc))

    threads = [
        threading.Thread(target=respec),
        threading.Thread(target=appender),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads), "threads hung"
    assert not errors, errors
    for batch in committed:
        model.update(batch)
    got = {
        (r["k"], r["d"], r["v"])
        for r in read_snapshot(spark, t).collect()
    }
    assert got == model, (
        f"seed={seed}: torn table "
        f"(+{sorted(got - model)[:5]} -{sorted(model - got)[:5]}, "
        f"conflicts={len(conflicts)}, refused={refused})"
    )
    man = latest_manifest(spark, t)
    assert man["partition_col"] == "d"  # the rewrite always lands
    # pruning and the metadata fold agree with the model post-race
    a_rows = {r for r in model if r[1] == "a"}
    assert {
        (r["k"], r["d"], r["v"])
        for r in read_snapshot(
            spark, t, partitions={"d": "a"}
        ).collect()
    } == a_rows
    agg = metadata_aggregate(spark, t, columns=["k"])
    assert agg["rows"] == len(model)
    assert agg["sum"]["k"] == sum(r[0] for r in model)


@pytest.mark.parametrize("seed", [13, 47])
def test_two_thread_interleaved_walk(spark, tmp_path, seed):
    import threading

    t = str(tmp_path / f"cwalk_{seed}")
    append_snapshot(
        spark.createDataFrame(
            [(0, 0.0), (1, 1.0)], "k long, v double"
        ),
        t,
        snapshot_id=0,
    )
    model_a: dict[int, float] = {}
    model_b: dict[int, float] = {}
    errors: list = []
    threads = [
        threading.Thread(
            target=_concurrent_writer,
            args=(spark, t, seed, 1_000, model_a, errors),
        ),
        threading.Thread(
            target=_concurrent_writer,
            args=(spark, t, seed + 1, 2_000_000, model_b, errors),
        ),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    want = {(0, 0.0), (1, 1.0)} | set(model_a.items()) | set(
        model_b.items()
    )
    got = _rows(read_snapshot(spark, t))
    assert got == want, (
        f"seed={seed}: concurrent walk diverged "
        f"(+{sorted(got - want)[:5]} -{sorted(want - got)[:5]})"
    )
    # Every committed manifest in the serialization parses and the
    # feed since creation replays to the same final state.
    state: set = set()
    feed = read_changes(spark, t, after_id=-1).collect()
    for sid in sorted({r["_commit_id"] for r in feed}):
        state -= {
            (r["k"], r["v"]) for r in feed
            if r["_commit_id"] == sid and r["_change_type"] == "delete"
        }
        state |= {
            (r["k"], r["v"]) for r in feed
            if r["_commit_id"] == sid and r["_change_type"] == "insert"
        }
    assert state == want, f"seed={seed}: concurrent feed replay diverged"


# ------------------------------------------------- typed-predicate walk

def _run_typed_predicate_walk(spark, tmp_path, seed):
    """Random DML walk with PREDICATE READS checked against the model
    after every commit (round 11): numeric, string and timestamp
    bounds (datetime and ISO-string spellings) route through the
    manifest stats block / footer sweep / MOR delete vectors in
    whatever interleaving the seed produces, and the pruned result
    must equal the model filtered row-for-row — the lossless-pruning
    contract under live table churn. v is nullable on purpose: NULL
    fails every bound (and all-null files exercise null-count
    skipping)."""
    import datetime as dt

    rng = random.Random(seed)
    t = str(tmp_path / f"typedw_{seed}")
    base_ts = dt.datetime(2026, 1, 1)
    model: dict[int, tuple] = {}  # k -> (key, ts, v)
    next_key = 0
    history: dict[int, frozenset] = {}

    def snap_model():
        sid = snapshot_ids(spark, t)[-1]
        history[sid] = frozenset(model.items())

    def mk_rows(n):
        nonlocal next_key
        out = []
        for i in range(n):
            k = next_key + i
            v = None if k % 5 == 0 else float(k)
            out.append(
                (k, f"s{k % 40:04d}", base_ts + dt.timedelta(minutes=k), v)
            )
        next_key += n
        return out

    def do_append():
        batch = mk_rows(rng.randint(4, 14))
        append_snapshot(
            spark.createDataFrame(
                batch, "k long, key string, ts timestamp, v double"
            ),
            t,
        )
        model.update({r[0]: r[1:] for r in batch})

    def do_delete():
        p, r = rng.choice([(3, 0), (4, 1), (7, 3)])
        mode = rng.choice(["cow", "mor"])
        st = delete_where(spark, t, f"k % {p} = {r}", mode=mode)
        doomed = [k for k in model if k % p == r]
        assert st["deleted_rows"] == len(doomed)
        for k in doomed:
            del model[k]

    def do_update():
        p, r = rng.choice([(3, 1), (5, 2)])
        st = update_where(
            spark, t, f"k % {p} = {r}", {"v": "coalesce(v, 0.0) + 1000.0"}
        )
        hit = [k for k in model if k % p == r]
        assert st["updated_rows"] == len(hit)
        for k in hit:
            key, ts, v = model[k]
            model[k] = (key, ts, (v if v is not None else 0.0) + 1000.0)

    def do_binpack():
        binpack_snapshot(spark, t)

    def do_rollback():
        target = rng.choice(sorted(history))
        rollback_snapshot(spark, t, target)
        model.clear()
        model.update(dict(history[target]))

    def do_analyze():
        from big_data_spark.io.snapshot import analyze_table

        analyze_table(spark, t)

    def do_consolidate():
        # Stats-shard consolidation in the SAME interleavings as
        # DML/rollback/ANALYZE (round-14 directive #7): tiny caps so
        # shards form, seal and refold at walk scale; every step is
        # followed by the full-content predicate check and the
        # metadata-aggregate cross-check below.
        from big_data_spark.io.snapshot import consolidate_stats

        consolidate_stats(spark, t, max_sidecars=2, shard_gens=4)

    def check_predicate():
        """One random typed predicate vs the model filter."""
        kind = rng.choice(["k", "key", "ts", "v"])
        if kind == "k":
            lo = rng.randint(0, max(next_key, 1))
            hi = lo + rng.randint(0, 40)
            pred = {"k": (float(lo), float(hi))}
            keep = lambda k, row: lo <= k <= hi  # noqa: E731
        elif kind == "key":
            a = f"s{rng.randint(0, 39):04d}"
            b = f"s{rng.randint(0, 39):04d}"
            lo, hi = min(a, b), max(a, b)
            pred = {"key": (lo, hi)}
            keep = lambda k, row: lo <= row[0] <= hi  # noqa: E731
        elif kind == "ts":
            lo_m = rng.randint(0, max(next_key, 1))
            hi_m = lo_m + rng.randint(0, 60)
            lo_t = base_ts + dt.timedelta(minutes=lo_m)
            hi_t = base_ts + dt.timedelta(minutes=hi_m)
            as_str = rng.random() < 0.5
            pred = {
                "ts": (
                    lo_t.isoformat(sep=" ") if as_str else lo_t,
                    hi_t.isoformat(sep=" ") if as_str else hi_t,
                )
            }
            keep = lambda k, row: lo_t <= row[1] <= hi_t  # noqa: E731
        else:
            lo = float(rng.randint(0, max(next_key, 1)))
            pred = {"v": (lo, None)}
            keep = lambda k, row: row[2] is not None and row[2] >= lo  # noqa: E731
        got = {
            (r["k"], r["key"], r["ts"], r["v"])
            for r in read_snapshot(spark, t, predicate=pred).collect()
        }
        want = {
            (k, *row) for k, row in model.items() if keep(k, row)
        }
        assert got == want, (
            f"seed={seed} predicate={pred}: pruned read diverged "
            f"(+{got - want} -{want - got})"
        )

    def check_metadata_agg():
        """metadata_aggregate vs the model — when it answers, it must
        answer exactly; refusals (MOR vectors live, etc.) are legal."""
        from big_data_spark.io.snapshot import metadata_aggregate

        try:
            got = metadata_aggregate(spark, t, columns=["k"])
        except ValueError:
            return
        assert got["rows"] == len(model), (
            f"seed={seed}: metadata COUNT(*) {got['rows']} != model "
            f"{len(model)}"
        )
        if model:
            ks = [k for k in model]
            # Type equality, not just ==: the k column is committed
            # long, so the metadata path must answer Python int —
            # exactly what collect() on the real query returns
            # (round-12 directive #3).
            assert got["min"]["k"] == min(ks)
            assert got["max"]["k"] == max(ks)
            assert type(got["min"]["k"]) is int
            assert type(got["max"]["k"]) is int
            # SUM/AVG cross-check (round-12 directive #8): every
            # table this walk builds is post-sum-recording, so the
            # integer column must be COVERED, exact, and int-typed.
            assert got["sum"]["k"] == sum(ks), (
                f"seed={seed}: metadata SUM {got['sum']} != model "
                f"{sum(ks)}"
            )
            assert type(got["sum"]["k"]) is int
            assert got["nonnull"]["k"] == len(ks)
            assert got["avg"]["k"] == float(sum(ks)) / len(ks)

    do_append()
    snap_model()
    ops = [do_append, do_delete, do_update, do_binpack, do_rollback,
           do_analyze, do_consolidate]
    weights = [4, 3, 3, 1, 1, 1, 2]
    for step in range(N_STEPS):
        rng.choices(ops, weights)[0]()
        snap_model()
        check_predicate()
        check_metadata_agg()


@pytest.mark.parametrize("seed", [11, 42, 63])
def test_typed_predicate_walk_matches_model(spark, tmp_path, seed):
    _run_typed_predicate_walk(spark, tmp_path, seed)


# ---- ANALYZE / CTAS / DROP under concurrency (round-12 directive
# #7): ANALYZE racing a writer must lose its commit race gracefully
# (SnapshotConflict, retried — never a corrupt or stale-overwriting
# stats block), and DROP racing a reader must fail loudly, never
# return a torn result. ----


@pytest.mark.parametrize("seed", [5, 21, 77])
def test_analyze_races_writer_gracefully(spark, tmp_path, seed):
    import threading

    from big_data_spark.io import manifest
    from big_data_spark.io.snapshot import (
        SnapshotConflict,
        analyze_table,
        append_with_retry,
        metadata_aggregate,
    )

    rng = random.Random(seed)
    t = str(tmp_path / f"anrace_{seed}")
    # A statless base generation gives ANALYZE real backfill work.
    orig = manifest._auto_commit_stats
    manifest._auto_commit_stats = lambda *a, **k: None
    try:
        append_snapshot(
            spark.createDataFrame(
                [(0, 0.0), (1, 1.0)], "k long, v double"
            ),
            t,
            snapshot_id=0,
        )
    finally:
        manifest._auto_commit_stats = orig
    model = {0: 0.0, 1: 1.0}
    errors: list = []
    analyze_outcomes = {"ok": 0, "lost": 0}

    def writer():
        next_key = 100
        try:
            for _ in range(6):
                n = rng.randint(3, 8)
                batch = [
                    (next_key + i, float(next_key + i)) for i in range(n)
                ]
                append_with_retry(
                    spark.createDataFrame(batch, "k long, v double"),
                    t,
                    attempts=30,
                )
                model.update(dict(batch))
                next_key += n
        except Exception as exc:  # noqa: BLE001
            errors.append(("writer", exc))

    def analyzer():
        try:
            for _ in range(6):
                try:
                    analyze_table(spark, t)
                    analyze_outcomes["ok"] += 1
                except SnapshotConflict:
                    analyze_outcomes["lost"] += 1  # graceful loss
        except Exception as exc:  # noqa: BLE001
            errors.append(("analyzer", exc))

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=analyzer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert analyze_outcomes["ok"] + analyze_outcomes["lost"] == 6
    got = {
        (r["k"], r["v"]) for r in read_snapshot(spark, t).collect()
    }
    assert got == set(model.items()), f"seed={seed}: content diverged"
    # One quiet ANALYZE closes any remaining gap; the metadata
    # aggregate then answers exactly — whatever interleaving ran.
    analyze_table(spark, t)
    agg = metadata_aggregate(spark, t, columns=["k"])
    ks = [k for k, _ in model.items()]
    assert agg["rows"] == len(model)
    assert agg["min"]["k"] == min(ks) and agg["max"]["k"] == max(ks)
    assert agg["sum"]["k"] == sum(ks)


@pytest.mark.parametrize("seed", [9, 31, 63])
def test_drop_racing_reader_fails_loudly_never_torn(
    spark, tmp_path, seed
):
    """CREATE/DROP cycles in one thread while a reader hammers the
    table dir: every read either returns EXACTLY the table's one
    committed content or raises — a torn/partial result is the one
    forbidden outcome."""
    import threading

    from big_data_spark.catalog import SnapshotCatalog

    base = str(tmp_path / f"wh_{seed}")
    cat = SnapshotCatalog(spark, versions="lazy", base_dir=base)
    expected = {(i, i * 2) for i in range(40)}
    tdir = f"{base}/rt"
    done = threading.Event()
    torn: list = []
    read_counts = {"ok": 0, "raised": 0}
    errors: list = []

    def cycler():
        try:
            for _ in range(5):
                cat.sql(
                    "CREATE TABLE rt AS "
                    "SELECT id AS k, id * 2 AS v FROM range(40)"
                )
                cat.sql("DROP TABLE rt")
        except Exception as exc:  # noqa: BLE001
            errors.append(("cycler", exc))
        finally:
            done.set()

    def reader():
        while not done.is_set():
            try:
                got = {
                    (r["k"], r["v"])
                    for r in read_snapshot(spark, tdir).collect()
                }
            except Exception:  # noqa: BLE001 — loud is the contract
                read_counts["raised"] += 1
                continue
            read_counts["ok"] += 1
            if got != expected:
                torn.append(got)

    threads = [
        threading.Thread(target=cycler),
        threading.Thread(target=reader),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert not torn, (
        f"seed={seed}: reader saw a torn result "
        f"({len(torn)} bad reads, first: {sorted(torn[0])[:5]})"
    )
    # the race genuinely exercised both outcomes across the cycles
    assert read_counts["ok"] + read_counts["raised"] > 0
    # registry is clean at the end (DROP was last in every cycle)
    cat2 = SnapshotCatalog(spark.newSession(), base_dir=base)
    assert "rt" not in cat2.tables
