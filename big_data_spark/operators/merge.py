"""MERGE INTO / upsert: the lakehouse write primitive the reference
never needed (its pipeline is insert-only) but every production
table-maintenance loop does — CDC apply, SCD upkeep, late-arriving
corrections, GDPR deletes.

Spark has no MERGE on plain parquet (that is Delta/Iceberg territory),
so this implements the standard SQL MERGE semantics as one DataFrame
plan:

    MERGE INTO target USING source ON keys
      WHEN MATCHED [AND delete_condition] THEN DELETE
      WHEN MATCHED [AND update_condition] THEN UPDATE SET update_cols
      WHEN NOT MATCHED THEN INSERT *

Scale shape (100 TB target, small-ish change sets — the normal CDC
case): the join is keyed on the merge keys, so with a source far
smaller than the target AQE broadcasts it and the target never
shuffles; with comparable sizes it is one sort-merge join. Either way
the whole merge is a single pass over the target — no driver loops,
no collect. For partitioned targets, pair with ``touched_partitions``
+ ``write_snapshot_partial`` so only partitions containing changed
keys are rewritten (rewrite cost scales with the change set, not the
table).

Cardinality: SQL MERGE raises when a target row matches more than one
source row (the result would be nondeterministic). ``strict=True``
(default) enforces that contract with a JVM-side ``raise_error``
folded into the output predicate — no extra source pass, no driver
round trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_T_MARK = "_merge_t_present"
_S_MARK = "_merge_s_present"
_S_DUP = "_merge_s_keydup"


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert: bool = True,
    delete_condition: Column | None = None,
    update_condition: Column | None = None,
    insert_condition: Column | None = None,
    strict: bool = True,
    fill_missing: bool = False,
    update_exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """Return the post-merge table as a DataFrame (write it wherever
    the target lives; this operator is pure).

    - ``keys``: equality merge keys (must exist on both sides).
    - ``update_cols``: columns taken from ``source`` on match
      (default: every non-key column both sides share).
    - ``update_exprs``: SQL-MERGE ``SET col = expr`` — per-column
      expressions over the joined row (``t.``/``s.`` aliases)
      overriding the plain take-from-source update for those columns,
      e.g. ``{"total": F.col("t.total") + F.col("s.delta")}`` for
      additive maintenance.
    - ``insert``: insert source rows with no target match
      (column-for-column; source must carry every target column
      unless ``fill_missing=True``, which inserts typed NULLs for
      target columns the feed lacks — the partial-CDC-feed case).
    - ``delete_condition`` / ``update_condition`` /
      ``insert_condition``: predicates over the joined row (reference
      source columns via the ``s`` alias, e.g.
      ``F.col("s.op") == "D"``) refining the clauses, evaluated in
      MERGE clause order: delete first, then update; a matched row
      passing neither stays unchanged; an unmatched source row failing
      ``insert_condition`` is dropped (e.g. a CDC delete for a key the
      target never had).

    NULL merge keys never match (SQL equality): a NULL-keyed target
    row is kept unchanged and a NULL-keyed source row counts as
    unmatched (inserted when ``insert=True``) — exactly MERGE's join
    semantics.
    """
    tgt_cols = target.columns
    reserved = {_T_MARK, _S_MARK, _S_DUP}
    clash = sorted(reserved & set(tgt_cols) | reserved & set(source.columns))
    if clash:
        raise ValueError(
            f"column names {clash} are reserved by merge_into"
        )
    for k in keys:
        if k not in tgt_cols or k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from a side")
    if update_cols is None:
        update_cols = [
            c for c in tgt_cols if c not in keys and c in source.columns
        ]
    bad = [c for c in update_cols if c not in source.columns or c in keys]
    if bad:
        raise ValueError(f"update_cols not updatable from source: {bad}")
    update_exprs = update_exprs or {}
    bad = [c for c in update_exprs if c in keys or c not in tgt_cols]
    if bad:
        raise ValueError(f"update_exprs must target non-key target columns: {bad}")
    if insert and not fill_missing:
        lacking = [c for c in tgt_cols if c not in source.columns]
        if lacking:
            raise ValueError(
                f"insert=True but source lacks target columns: {lacking} "
                "(pass fill_missing=True to insert NULLs for them)"
            )

    # Presence markers survive the full-outer join where data columns
    # can be legitimately NULL; they are the matched/unmatched probes.
    t = target.withColumn(_T_MARK, F.lit(True)).alias("t")
    s = source.withColumn(_S_MARK, F.lit(True))
    if strict:
        # A target row can only match >1 source rows if the SOURCE has
        # duplicate keys, so count key multiplicity on the source side
        # alone (the small side in the CDC shape — the window never
        # touches the target and never forces a shuffle of the joined
        # output; on the broadcast path the target still flows through
        # shuffle-free).
        s = s.withColumn(
            _S_DUP,
            F.count(F.lit(1)).over(
                Window.partitionBy(*[F.col(k) for k in keys])
            ),
        )
    s = s.alias("s")

    joined = t.join(s, on=keys, how="full_outer")
    matched_t = F.col(_T_MARK).isNotNull()
    matched_s = F.col(_S_MARK).isNotNull()
    is_match = matched_t & matched_s

    # SQL MERGE: a clause predicate evaluating to NULL means the
    # clause does NOT apply (coalesce to false) — without this, a
    # NULL delete_condition poisons `keep` to NULL and the filter
    # silently DROPS the matched row instead of leaving it unchanged.
    def _applies(cond: Column | None, default: bool) -> Column:
        if cond is None:
            return F.lit(default)
        return F.coalesce(cond, F.lit(False))

    deleted = is_match & _applies(delete_condition, False)
    updated = is_match & _applies(update_condition, True)

    out_cols = []
    for c in tgt_cols:
        if c in keys:
            col = F.col(c)  # USING-join key: coalesced across sides
        else:
            src_val = (
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(target.schema[c].dataType)
            )
            upd_val = update_exprs.get(c, src_val)
            is_updatable = c in update_cols or c in update_exprs
            col = (
                F.when(
                    updated & ~deleted & F.lit(is_updatable) & is_match,
                    upd_val,
                )
                .when(~matched_t, src_val)
                .otherwise(F.col(f"t.{c}"))
            )
        out_cols.append(col.alias(c))

    keep = matched_t & ~deleted
    if insert:
        inserted = ~matched_t & matched_s
        if insert_condition is not None:
            inserted = inserted & _applies(insert_condition, False)
        keep = keep | inserted

    if strict:
        # A matched row whose source key multiplicity exceeds 1 is the
        # SQL MERGE cardinality violation — regardless of which clause
        # the duplicates would take (deleting twice is as ambiguous as
        # updating twice). The violation test is the WHEN branch
        # condition of the final predicate, so it is evaluated on
        # every row BEFORE the keep logic and cannot be skipped by
        # boolean short-circuiting (a plain `keep & guard` conjunct
        # would never evaluate the guard on rows whose keep side is
        # already false — e.g. duplicate deletes). Duplicate UNMATCHED
        # source keys are allowed (independent inserts, as in SQL's
        # multi-row NOT MATCHED clause).
        keep = F.when(
            is_match & (F.col(_S_DUP) > F.lit(1)),
            F.raise_error(
                F.concat(
                    F.lit("MERGE cardinality violation: key ("),
                    F.concat_ws(
                        ",", *[F.col(k).cast("string") for k in keys]
                    ),
                    F.lit(") matches multiple source rows"),
                )
            ).cast("boolean"),
        ).otherwise(keep)

    return joined.filter(keep).select(*out_cols)


def merge_snapshot(
    spark,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    **merge_kwargs,
) -> int:
    """MERGE ``source`` into the snapshot table at ``table_dir`` and
    publish the result atomically (io/snapshot.py manifest commit):
    readers concurrent with the merge see the old table until the
    one-rename commit, the new one after — never a half-written mix —
    and a crash mid-write leaves only ``_staging`` residue for vacuum.

    This is the full-rewrite shape (the merged table is one new data
    generation). For change sets that are tiny against a huge keyed
    table, prefer the bucketed touched-partition path
    (streaming/cdc_mirror.py), whose per-snapshot write cost scales
    with the change set. Returns the committed snapshot id.
    """
    from big_data_spark.io.manifest import latest_manifest
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import write_snapshot

    # Read AS OF the manifest the id derives from: a commit landing
    # during the merge collides on the id -> SnapshotConflict instead
    # of its rows silently missing from the merged rewrite.
    man = latest_manifest(spark, table_dir)
    as_of = man["snapshot_id"] if man else None
    target = read_snapshot(spark, table_dir, as_of=as_of)
    merged = merge_into(target, source, keys, **merge_kwargs)
    return write_snapshot(
        merged, table_dir, snapshot_id=(as_of + 1) if man else None
    )


def touched_partitions(
    source: DataFrame, partition_cols: list[str]
) -> DataFrame:
    """Distinct partition tuples the change set touches — semi-join
    this (broadcast) against the target scan so a partitioned merge
    reads and rewrites only affected partitions:

        parts = touched_partitions(changes, ["ds"])
        pruned = target.join(F.broadcast(parts), ["ds"], "left_semi")
        merged = merge_into(pruned, changes, keys)
        write_snapshot_partial(
            merged, table_dir, next_id, "ds",
            [r["ds"] for r in parts.collect()],
        )

    ``write_snapshot_partial`` (io/table_writes.py) commits the
    touched partitions as a new snapshot and carries the untouched
    ones forward by reference; merge cost is O(|changed partitions|),
    not O(|table|).
    """
    return source.select(*partition_cols).distinct()
