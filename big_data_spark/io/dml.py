"""SQL DELETE / UPDATE over snapshot tables: copy-on-write rewrites
of only the affected generations (``_rewrite_where``), merge-on-read
position delete vectors, DML range hints that compose with footer
skipping, and ``fold_deletes``, the maintenance pass that
materializes delete vectors."""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.layout import (
    _CDF_DIR,
    _DATA_DIR,
    _DELETES_DIR,
    _GEN_DIR_RE,
)
from big_data_spark.io.manifest import (
    SnapshotConflict,
    _claim_check,
    commit_manifest,
    dir_cols,
    latest_manifest,
    partition_cols,
    successor,
)
from big_data_spark.io.table_reads import (
    _masked_rels,
    _owning_rel,
    _pad_to_schema,
    read_delete_positions,
    read_entries,
)
from big_data_spark.io.stats import literal_family, sql_conjuncts
from big_data_spark.io.table_writes import (
    _leaf_entries,
    _parquet_writer,
    _publish,
    write_snapshot_partial,
)


def _retry_conflicts(fn, attempts: int):
    """Run ``fn`` (a full-recompute DML attempt: every input derives
    from a fresh latest_manifest) up to ``attempts`` times, retrying
    on SnapshotConflict — the rebase loop a concurrent committer
    forces. Each retry recomputes against the NEW table state, so
    the result is always a serializable outcome."""
    if attempts < 1:
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    for i in range(attempts):
        try:
            return fn()
        except SnapshotConflict as exc:
            if i == attempts - 1:
                if attempts == 1:
                    raise  # default: surface the conflict unchanged
                raise SnapshotConflict(
                    f"DML exhausted {attempts} rebase attempts: {exc}"
                ) from exc


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    mode: str = "cow",
    attempts: int = 1,
    row_cdf: bool = False,
) -> dict:
    """SQL ``DELETE FROM table WHERE condition`` as copy-on-write over
    the manifest: ONE scan counts matching rows per data generation
    (grouped by ``input_file_name`` prefix — bounded driver metadata,
    one row per generation); generations with NO matches carry
    forward in the new manifest BY REFERENCE (zero data movement);
    only generations holding matches are rewritten without the
    matching rows. An emptied generation drops out of the manifest.

    Commits as a NORMAL snapshot (not maintenance): the change feed
    reports each rewritten generation's old rows as deletes and its
    surviving rows as inserts — the file-level CDF granularity every
    other writer here has. Old versions stay time-travelable until
    vacuum. ``condition`` is a Column or SQL string. Returns
    {deleted_rows, rewritten, carried, snapshot_id}.

    Scale: cost is O(affected generations), so a clustered layout
    (generation-per-time-window appends, z-ordered rewrites) makes a
    selective DELETE touch few generations; the worst case equals a
    full rewrite, the same as any copy-on-write format without
    deletion vectors.

    ``mode="mor"`` (merge-on-read) writes a POSITION DELETE VECTOR
    instead of rewriting data: one scan records the (file, row_index)
    of matching rows under ``_deletes/d=<id>`` and the commit carries
    every data entry forward by reference — write cost is O(matches),
    the hot-update regime where copy-on-write's rewrite amplification
    dominates.
    Readers anti-join the (broadcast, tiny) position set out;
    ``fold_deletes`` / compaction / ``maintain_table`` rewrite the
    vectors away. Same change-feed semantics: the feed reports the
    deleted rows at the delete commit.

    ``row_cdf=True`` (cow mode only; mor is row-level by nature)
    records the matched rows in a ``_cdf/c=<id>`` sidecar so the
    change feed reports EXACTLY the deleted rows instead of the
    file-level whole-generation delete+insert of the rewrite — see
    :func:`update_where`.
    """
    if mode == "mor":
        if row_cdf:
            # Loud refusal over silent ignore: a caller opting into the
            # sidecar would otherwise get a file-position-vector feed
            # and could misread it as the sidecar having been written.
            # MOR's feed is already row-level.
            raise ValueError(
                "delete_where: row_cdf=True is cow-only — mode='mor' "
                "already produces a row-level change feed (the position "
                "vector IS the per-row delete record)"
            )
        return _retry_conflicts(
            lambda: _delete_mor(spark, table_dir, condition), attempts
        )
    if mode != "cow":
        raise ValueError(f"mode must be 'cow'|'mor', got {mode!r}")
    st = _retry_conflicts(
        lambda: _rewrite_where(
            spark, table_dir, condition, None, row_cdf=row_cdf
        ),
        attempts,
    )
    st["deleted_rows"] = st.pop("matched_rows")
    return st


def _delete_mor(spark: SparkSession, table_dir: str, condition) -> dict:
    """Merge-on-read DELETE: publish matched row POSITIONS, carry all
    data entries (and prior delete vectors) forward."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    if not man["entries"]:
        return {
            "deleted_rows": 0,
            "delete_vectors": 0,
            "carried": 0,
            "snapshot_id": man["snapshot_id"],
        }
    next_id = man["snapshot_id"] + 1
    hints = _usable_hints(spark, condition, man)
    scan = read_entries(
        spark,
        table_dir,
        man["entries"],
        predicate=hints,
        deletes=man["deletes"],
        with_positions=True,
        schema_fields=man["schema"],
        rename_log=man["rename_log"],
        stats=man["stats"],
        partition_cols=dir_cols(man),
    )
    # Pad to the committed schema (the predicate may reference a
    # post-evolution column old generations lack), keeping the
    # position columns alongside.
    scan = _pad_to_schema(
        scan,
        man["schema"]
        + [
            {"name": "_dv_path", "type": "string"},
            {"name": "_dv_pos", "type": "bigint"},
        ],
    )
    # SQL DELETE 3VL: only predicate-TRUE rows are marked deleted.
    # The write itself counts the positions it writes (an Observation
    # filled by the write job), so no read-back job is needed.
    written = Observation()
    positions = (
        scan.where(F.coalesce(cond, F.lit(False)))
        .select(
            F.col("_dv_path").alias("file_path"),
            F.col("_dv_pos").alias("row_index"),
        )
        .observe(written, F.count(F.lit(1)).alias("n"))
    )
    # The vector is claimed as _deletes/d=<id> by one rename — two
    # racing MOR writers at the same next_id would otherwise
    # interleave on the vector dir (A writes, B rewrites, A's manifest
    # wins pointing at B's positions: wrong rows deleted).
    new_deletes = sorted(
        set(man["deletes"]) | {f"{_DELETES_DIR}/d={next_id}"}
    )
    matched = []

    def build(prev, sid, staged):
        n = written.get["n"]
        if n == 0:
            return None  # nothing matched: no commit
        matched.append(int(n))
        return dict(man["entries"]), {"deletes": new_deletes}

    sid = _publish(
        spark,
        table_dir,
        [(_DELETES_DIR, _parquet_writer(positions.coalesce(1)))],
        build,
        at=(man, next_id),
    )
    if sid is None:
        return {
            "deleted_rows": 0,
            "delete_vectors": len(man["deletes"]),
            "carried": len(man["entries"]),
            "snapshot_id": man["snapshot_id"],
        }
    return {
        "deleted_rows": matched[0],
        "delete_vectors": len(new_deletes),
        "carried": len(man["entries"]),
        "snapshot_id": sid,
    }


def update_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    set_exprs: dict[str, object],
    attempts: int = 1,
    row_cdf: bool = False,
) -> dict:
    """SQL ``UPDATE table SET col = expr, ... WHERE condition`` —
    the copy-on-write sibling of :func:`delete_where` (same one-scan
    affected-generation discovery, same carry-by-reference for
    untouched generations, same change-feed/time-travel semantics;
    stats report ``updated_rows``).
    ``set_exprs`` maps existing column names to Columns or SQL
    strings evaluated against the matching row; non-matching rows
    pass through unchanged. New columns are refused — additive
    schema evolution goes through append/write, not UPDATE.
    ``attempts`` > 1 rebase-retries on SnapshotConflict (each attempt
    recomputes from the fresh manifest).

    ``row_cdf=True`` (opt-in, Delta-style) additionally records the
    MATCHED rows' pre/post images in a ``_cdf/c=<id>`` sidecar the
    commit's manifest points at, so ``read_changes`` reports the
    update as ``update_preimage``/``update_postimage`` rows instead
    of the file-level whole-generation delete+insert — what an
    incremental consumer of an UPDATE-heavy table wants. Costs one
    extra scan of the affected generations (O(matches) written)."""
    st = _retry_conflicts(
        lambda: _rewrite_where(
            spark, table_dir, condition, set_exprs, row_cdf=row_cdf
        ),
        attempts,
    )
    st["updated_rows"] = st.pop("matched_rows")
    return st


def _range_hints(spark: SparkSession, cond: str) -> dict[str, tuple] | None:
    """Range bounds PROVABLY IMPLIED by a SQL condition string — the
    bridge that lets DML compose with footer data skipping. The
    top-level conjuncts come from Spark's own parse tree
    (io/stats.sql_conjuncts); ``col (=|<|<=|>|>=) literal``,
    ``col BETWEEN a AND b`` and all-literal ``col IN (...)`` (min/max
    envelope) conjuncts contribute, and every other conjunct is
    skipped, which stays sound (pruning by a SUBSET of conjuncts keeps
    a superset of the matching files). Numeric literals fold as
    floats; the tighter of two bounds wins. A column whose literals
    mix families (``c >= 5 AND c <= 'x'``) drops out of the hints
    entirely — unprunable beats a wrong cross-type fold. Strict bounds
    use the closed interval — conservative at file level, exact after
    the condition's own row filter."""
    bounds: dict[str, list] = {}
    families: dict[str, str] = {}
    poisoned: set[str] = set()

    def _fold(col: str, lo, hi) -> None:
        fam = literal_family(lo if lo is not None else hi)
        if families.setdefault(col, fam) != fam:
            poisoned.add(col)
            return
        cur = bounds.setdefault(col, [None, None])
        if lo is not None:
            cur[0] = lo if cur[0] is None else max(cur[0], lo)
        if hi is not None:
            cur[1] = hi if cur[1] is None else min(cur[1], hi)

    for conj in sql_conjuncts(spark, cond):
        if conj is None:
            continue
        col, op, vals = conj
        vals = [float(v) if isinstance(v, int) else v for v in vals]
        if len({literal_family(v) for v in vals}) != 1:
            poisoned.add(col)
        elif op in (">", ">="):
            _fold(col, vals[0], None)
        elif op in ("<", "<="):
            _fold(col, None, vals[0])
        elif op == "between":
            _fold(col, vals[0], vals[1])
        else:  # '=' or 'in': the conservative envelope
            _fold(col, min(vals), max(vals))
    out = {
        c: (lo, hi)
        for c, (lo, hi) in bounds.items()
        if c not in poisoned
    }
    return out or None


def _usable_hints(spark: SparkSession, condition, man: dict):
    """Range hints restricted to columns footer statistics can
    actually prune on: hive partition/layout columns live in dir
    names, not file footers — hinting them would make the footer
    sweep raise 'column not in file schema'."""
    if not isinstance(condition, str):
        return None
    hints = _range_hints(spark, condition)
    if not hints:
        return None
    skip = set(dir_cols(man))
    hints = {c: b for c, b in hints.items() if c not in skip}
    return hints or None


def _rewrite_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    set_exprs: dict[str, object] | None,
    row_cdf: bool = False,
) -> dict:
    cond = F.expr(condition) if isinstance(condition, str) else condition
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    entries = man["entries"]
    pcols = partition_cols(man)
    if set_exprs is not None and pcols is not None:
        moved = sorted(set(set_exprs) & set(pcols))
        if moved:
            raise ValueError(
                f"update_where: SET on partition column(s) {moved} "
                "moves rows between partitions, which a touched-"
                "partition rewrite cannot express — route key moves "
                "through delete + append (or a full write_snapshot)."
            )
    # ONE scan counts matching rows per ENTRY: the owning dir is
    # derived EXECUTOR-side from the file path (the _data/s=N[/p=v]
    # shape every writer here produces), so the driver receives one
    # row per generation/partition dir — bounded metadata even when a
    # broad predicate matches rows in millions of files.
    #
    # Footer data skipping composes in: range bounds provably implied
    # by a STRING condition (a conjunct subset — always sound) route
    # the counting scan through the same prune_files_multi path as
    # read_snapshot(predicate=), so a selective DELETE on a clustered
    # layout opens only the files whose min/max can hold matches.
    # The survivors read below stays UNPRUNED — it must keep the
    # non-matching rows of affected generations.
    hints = _usable_hints(spark, condition, man)
    by_entry_rel = sorted(set(entries.values()))
    dv = man["deletes"]
    scan = read_entries(
        spark,
        table_dir,
        entries,
        predicate=hints,
        deletes=dv,
        with_positions=bool(dv),
        schema_fields=man["schema"],
        rename_log=man["rename_log"],
        stats=man["stats"],
        partition_cols=dir_cols(man),
    )
    pad_fields = list(man["schema"]) + (
        [
            {"name": "_dv_path", "type": "string"},
            {"name": "_dv_pos", "type": "bigint"},
        ]
        if dv
        else []
    )
    scan = _pad_to_schema(scan, pad_fields)
    # File attribution: input_file_name() is only reliable on a pure
    # scan pipeline; under merge-on-read the anti-join sits between
    # the scan and this projection, so use the scan-level _dv_path
    # column instead.
    file_col = F.col("_dv_path") if dv else F.input_file_name()
    counts_rows = (
        scan.where(cond)
        .select(
            F.regexp_extract(file_col, _GEN_DIR_RE, 1).alias("_d")
        )
        .groupBy("_d")
        .count()
        .collect()
    )
    hit_rels: dict[str, int] = {}
    for r in counts_rows:
        rel = _owning_rel(
            f"{table_dir}/{r['_d']}/x" if r["_d"] else r["_d"],
            table_dir,
            by_entry_rel,
        )
        hit_rels[rel] = hit_rels.get(rel, 0) + r["count"]
    if not hit_rels:
        return {
            "matched_rows": 0,
            "rewritten": 0,
            "carried": len(entries),
            "snapshot_id": man["snapshot_id"],
        }
    # next_id derives from the SAME manifest whose entries are carried
    # forward — never from a fresh snapshot_ids() listing. A commit
    # landing between our manifest read and our commit then collides
    # on the id and surfaces as SnapshotConflict (retryable), instead
    # of being silently dropped from the new manifest and later
    # vacuumed away (lost update).
    next_id = man["snapshot_id"] + 1
    affected = {k: v for k, v in entries.items() if v in hit_rels}
    carried = {k: v for k, v in entries.items() if v not in hit_rels}
    # Pad to the COMMITTED schema (typed) BEFORE evaluating the
    # condition / SET exprs: affected generations may predate an
    # additive column the predicate or assignment references. Deletes
    # apply here too — already-MOR-deleted rows must not resurrect
    # into the rewritten generation.
    base = _pad_to_schema(
        read_entries(
            spark,
            table_dir,
            affected,
            deletes=dv,
            schema_fields=man["schema"],
            rename_log=man["rename_log"],
            partition_cols=dir_cols(man),
        ),
        man["schema"],
    )
    if set_exprs is not None:
        unknown = set(set_exprs) - set(base.columns)
        if unknown:
            raise ValueError(
                f"update_where: unknown columns {sorted(unknown)} — "
                "additive evolution goes through append/write"
            )
    parts = []
    staged_cdf: list[str] = []
    if row_cdf:
        # Row-level CDF sidecar (opt-in): the MATCHED rows, as
        # pre/post images for an UPDATE (evaluated from `base`, the
        # PRE-update values — a post-image over the updated frame
        # would re-evaluate the predicate on updated values) or as
        # plain deletes for a DELETE. One extra scan of the affected
        # generations; O(matches) rows written. The commit's manifest
        # points at it and read_changes emits it INSTEAD of the
        # file-level generation diff. The predicate itself must be
        # deterministic (true of any sane DML WHERE); non-
        # deterministic SET expressions are handled below.
        if {"_change_type", "_commit_id"} & set(base.columns):
            raise ValueError(
                "row_cdf: table already has a _change_type/_commit_id "
                "column — rename it to record a row-level feed (the "
                "sidecar rows carry those names)"
            )
        matched = base.where(F.coalesce(cond, F.lit(False)))
        if set_exprs is None:
            images = matched.withColumn("_change_type", F.lit("delete"))
        else:
            post = matched
            for col, expr in set_exprs.items():
                val = F.expr(expr) if isinstance(expr, str) else expr
                post = post.withColumn(
                    col, val.cast(dict(base.dtypes)[col])
                )
            images = matched.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                post.withColumn("_change_type", F.lit("update_postimage"))
            )

        def _write_images(to: str) -> None:
            _parquet_writer(images)(to)
            staged_cdf.append(to)

        parts.append((_CDF_DIR, _write_images))

    def _survivors():
        if set_exprs is None:
            # SQL DELETE three-valued logic: only rows where the
            # predicate is TRUE are deleted; NULL-valued predicates
            # keep their row (a bare ~cond would drop them too).
            return base.where(~F.coalesce(cond, F.lit(False)))
        if staged_cdf:
            # The rewritten generation's updated rows are the
            # JUST-WRITTEN sidecar post-images read back from disk —
            # the single evaluation of the SET expressions. A
            # persist() would only pin them as strongly as the block
            # cache: a lost executor recomputes from lineage with
            # fresh rand(), committing rows that differ from the
            # feed's update_postimage (the audit-vs-commit
            # double-execution class). Bytes on disk cannot diverge.
            committed_post = (
                spark.read.parquet(staged_cdf[0])
                .where(F.col("_change_type") == "update_postimage")
                .drop("_change_type")
            )
            return base.where(
                ~F.coalesce(cond, F.lit(False))
            ).unionByName(committed_post)
        out = base
        for col, expr in set_exprs.items():
            val = F.expr(expr) if isinstance(expr, str) else expr
            out = out.withColumn(
                col,
                F.when(cond, val.cast(dict(base.dtypes)[col])).otherwise(
                    F.col(col)
                ),
            )
        return out

    layout = man["layout_by"]

    def _write(to: str) -> None:
        survivors = _survivors()
        if pcols:
            _parquet_writer(survivors, pcols)(to)
        else:
            _parquet_writer(
                survivors.repartition(layout) if layout else survivors,
                layout,
            )(to)

    parts.append((_DATA_DIR, _write))

    def build(prev, sid, staged):
        # Delete vectors carry verbatim: rows referencing the
        # rewritten (dropped) generations are inert; rows for carried
        # generations still mask. fold_deletes / maintenance clears
        # the list. On a partitioned table the affected entries ARE
        # partitions: the rewritten ones re-key from the written
        # leaves (emptied partitions drop).
        new_entries = dict(carried)
        if pcols:
            new_entries.update(
                _leaf_entries(spark, staged.get(_DATA_DIR), pcols, sid)
            )
        elif _DATA_DIR in staged:
            new_entries[f"b{sid}"] = f"{_DATA_DIR}/s={sid}"
        cdf = f"{_CDF_DIR}/c={sid}" if _CDF_DIR in staged else None
        return new_entries, {"cdf": cdf}

    _publish(spark, table_dir, parts, build, at=(man, next_id))
    return {
        "matched_rows": int(sum(hit_rels.values())),
        "rewritten": len(set(affected.values())),
        "carried": len(carried),
        "snapshot_id": next_id,
    }


def fold_deletes(spark: SparkSession, table_dir: str) -> dict:
    """Maintenance: materialize the merge-on-read delete vectors —
    rewrite ONLY the generations that still have live masked rows
    (O(affected), like a selective COW delete), carry the rest by
    reference, and commit with an EMPTY delete list. Content is
    unchanged (the masks were already applied at read), so the commit
    is maintenance=True and invisible to the change feed; the freed
    vector dirs fall to vacuum once their manifests expire."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    dv = man["deletes"]
    if not dv:
        return {"folded_vectors": 0, "rewritten": 0, "snapshot_id": man["snapshot_id"]}
    next_id = man["snapshot_id"] + 1
    _claim_check(spark, table_dir, next_id)
    entries = man["entries"]
    # Which LIVE generations do the vectors still mask?
    owned = _masked_rels(
        read_delete_positions(spark, table_dir, dv), set(entries.values())
    )
    affected = {k: rel for k, rel in entries.items() if rel in owned}
    stats = {
        "folded_vectors": len(dv),
        "rewritten": len(set(affected.values())),
        "carried": len(entries) - len(affected),
        "snapshot_id": next_id,
    }
    if not affected:
        # Every vector row references dropped generations (inert):
        # metadata-only commit clears the list.
        commit_manifest(
            spark,
            table_dir,
            successor(
                man, next_id, dict(entries), maintenance=True, deletes=[]
            ),
            prev_man=man,
        )
        return stats
    base = _pad_to_schema(
        read_entries(
            spark,
            table_dir,
            affected,
            deletes=dv,
            schema_fields=man["schema"],
            rename_log=man["rename_log"],
            partition_cols=dir_cols(man),
        ),
        man["schema"],
    )
    if partition_cols(man):
        write_snapshot_partial(
            base,
            table_dir,
            next_id,
            man["partition_col"],
            list(affected.keys()),
            maintenance=True,
            # Explicit clear: the fold's whole point — the rewritten
            # partitions materialized their masks, the carried ones
            # were never masked (hit_dirs chose affected).
            deletes=[],
        )
        return stats
    layout = man["layout_by"]

    def build(prev, sid, staged):
        gone = set(affected.values())
        new_entries = {k: v for k, v in entries.items() if v not in gone}
        if staged:
            new_entries[f"b{sid}"] = f"{_DATA_DIR}/s={sid}"
        return new_entries, {"maintenance": True, "deletes": []}

    out = base.repartition(layout) if layout else base
    _publish(
        spark,
        table_dir,
        [(_DATA_DIR, _parquet_writer(out, layout))],
        build,
        at=(man, next_id),
    )
    return stats
