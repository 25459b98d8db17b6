"""Incremental dedup: admit only the rows of a NEW batch whose key
has never been seen in the corpus — without joining the whole batch
against the whole corpus.

The 100 TB ingestion shape: the corpus key set is huge (billions of
content hashes) but a day's batch is small. A plain left-anti join
prices every ingest at a corpus-wide shuffle. Instead:

1. keep a Bloom filter of the corpus keys (operators/bloom.py —
   built once, rolled up incrementally with ``bloom_merge`` as
   batches are admitted; a few MB per billion keys at ~10 bits/key);
2. probe the batch against the filter: keys probing FALSE are
   **definitely new** (no false negatives) and are admitted with NO
   join at all — the common case for genuinely fresh data;
3. only the suspects (true duplicates + the filter's small
   false-positive band) take the exact left-anti join against the
   corpus keys — the join's probe side shrinks from |batch| to
   |dups| + fpp * |batch|.

Correctness does not depend on the filter: a false positive only
routes a row through the exact join, which then admits it. The
result equals the plain anti-join, always; the filter is purely a
join-avoidance accelerator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_spark.operators.bloom import bloom_build, bloom_might_contain


def seen_filter(
    corpus_keys: DataFrame, key_col: str, m: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Bloom filter of the corpus key set (no grouping key — one
    filter for the whole corpus). Persist it to parquet and
    ``bloom_merge`` each admitted batch's filter in, so the corpus is
    never re-scanned to keep the filter current."""
    return bloom_build(corpus_keys, [], key_col, m=m, k=k)


def incremental_dedup(
    batch: DataFrame,
    corpus_keys: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Rows of ``batch`` whose ``key_col`` does not occur in
    ``corpus_keys`` — equal to ``batch.join(corpus_keys, key,
    "left_anti")``, computed with the corpus join only on Bloom
    suspects.

    NULL keys are admitted (a NULL matches nothing in an anti-join);
    duplicates WITHIN the batch are preserved — this operator dedups
    against the corpus, not inside the batch (follow with
    dropDuplicates(key) if batch-internal dedup is wanted).

    Plan shape: the filter is at most ceil(m/64) rows, so the probe
    is a broadcast join; definitely-new rows never touch an
    exchange, and the anti-join's left side is only the suspect
    subset."""
    keys = batch.select(key_col).where(F.col(key_col).isNotNull()).distinct()
    verdicts = bloom_might_contain(bloom, keys, [], key_col, m=m, k=k)
    flagged = batch.join(verdicts, on=key_col, how="left").withColumn(
        # NULL key -> no verdict row -> definitely new (anti-join
        # semantics: NULL matches nothing).
        "_suspect",
        F.coalesce(F.col("might_contain"), F.lit(False)),
    )
    definitely_new = flagged.filter(~F.col("_suspect")).drop(
        "might_contain", "_suspect"
    )
    suspects = flagged.filter(F.col("_suspect")).drop("might_contain", "_suspect")
    verified_new = suspects.join(
        corpus_keys.select(key_col).where(F.col(key_col).isNotNull()),
        on=key_col,
        how="left_anti",
    )
    return definitely_new.unionByName(verified_new)


def refresh_aggregate(
    mv: DataFrame,
    changes: DataFrame,
    keys: list[str],
    measures: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
    count_col: str = "n_rows",
) -> DataFrame:
    """Incrementally maintain a grouped-aggregate materialized view
    ``SELECT keys, SUM(measure)..., COUNT(*) FROM base GROUP BY keys``
    from a change batch — the warehouse MV-refresh shape: cost is one
    aggregation of the BATCH plus one merge join, never a rescan of
    the base table.

    ``changes`` holds base-table rows; with ``op_col`` set, rows
    whose op equals ``delete_op`` RETRACT (the CDC before-image
    pattern — a delete carries the same measure values the insert
    did, and subtracts them). The batch folds to one delta row per
    key (sum of signed measures, signed row count); the merge then:

    - updates existing groups additively
      (``SET m = t.m + s.m`` via merge_into's update_exprs),
    - deletes groups whose row count reaches zero,
    - inserts new groups (skipping pure-retraction deltas).

    Only additive aggregates (sum / count, and anything derived from
    them downstream, e.g. avg) survive deletes incrementally; min/max
    need the base table on retraction and are out of scope.

    ORDERING CONTRACT: a retraction must be applied no earlier than
    the batch of its insert (the per-key in-order delivery every CDC
    feed guarantees). A retraction folding into a batch BEFORE its
    insert leaves a negative delta for a group the view does not
    hold, which the insert gate drops — the lost retraction then
    overstates the group once the insert lands. Within one batch
    order is free (insert and retract cancel in the delta).
    """
    from big_data_spark.operators.merge import merge_into

    sign = (
        F.when(F.col(op_col) == F.lit(delete_op), F.lit(-1)).otherwise(
            F.lit(1)
        )
        if op_col
        else F.lit(1)
    )
    for c in measures + [count_col]:
        if c not in mv.columns:
            raise ValueError(f"mv lacks column {c!r}")
    delta = changes.groupBy(*keys).agg(
        *[
            F.sum(F.col(m) * sign).alias(m)
            for m in measures
        ],
        F.sum(sign).cast("long").alias(count_col),
    )
    new_count = F.col(f"t.{count_col}") + F.col(f"s.{count_col}")
    return merge_into(
        mv,
        delta,
        keys,
        update_exprs={
            **{m: F.col(f"t.{m}") + F.col(f"s.{m}") for m in measures},
            count_col: new_count,
        },
        update_cols=[],
        delete_condition=new_count == F.lit(0),
        insert_condition=F.col(f"s.{count_col}") > F.lit(0),
        strict=True,
    )


def fold_and_publish(
    mv: DataFrame | None,
    changes: DataFrame,
    mv_dir: str,
    snapshot_id: int,
    keys: list[str],
    measures: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
    count_col: str = "n_rows",
) -> None:
    """Fold a change batch into a grouped-aggregate MV
    (refresh_aggregate) and replace-commit the result as snapshot
    ``snapshot_id`` of the snapshot table ``mv_dir`` — the one publish
    step of sync_aggregate and streaming/mv.run_mv_refresh.
    ``replace=True``: a crashed attempt's retry recomputes from the
    same immutable predecessor and converges.

    ``mv`` is the committed MV snapshot the batch folds into, or None
    to start from an empty view typed like ``changes``' key and
    measure columns. The merge's ``t.m + s.m`` widens decimal sums
    (28,2 -> 38,2 and so on); a committed MV's types are pinned so its
    snapshot schema stays stable across refreshes. Values that fit the
    committed type fit here too — the fold is the same sum."""
    from big_data_spark.io.table_writes import write_snapshot

    if mv is None:
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in changes.schema.fields
            if f.name in keys or f.name in measures
        )
        mv = changes.sparkSession.createDataFrame(
            [], f"{schema}, `{count_col}` bigint"
        )
        pinned = {}
    else:
        pinned = dict(mv.dtypes)
    refreshed = refresh_aggregate(
        mv,
        changes,
        keys,
        measures,
        op_col=op_col,
        delete_op=delete_op,
        count_col=count_col,
    )
    refreshed = refreshed.select(
        *[
            F.col(c).cast(pinned[c]).alias(c) if c in pinned else c
            for c in refreshed.columns
        ]
    )
    write_snapshot(refreshed, mv_dir, snapshot_id=snapshot_id, replace=True)


def sync_aggregate(
    spark,
    table_dir: str,
    mv_dir: str,
    keys: list[str],
    measures: list[str],
    count_col: str = "n_rows",
) -> dict:
    """Keep a grouped-aggregate materialized view of a SNAPSHOT TABLE
    fresh from its change feed — the closed loop: base commits
    (io/snapshot.py) -> read_changes -> refresh_aggregate -> MV
    snapshot. Each call costs one feed read (only the CHANGED
    generations) plus one merge of the per-key delta; the base table
    is rescanned only at bootstrap.

    The MV is itself a snapshot table whose snapshot ids MIRROR the
    base commit they have applied through (bootstrap publishes the
    full aggregate under the current base id; each sync publishes
    under the base id it caught up to, ``replace=True`` so a crashed
    sync's retry converges). Freshness is therefore readable from
    ``snapshot_ids(mv_dir)[-1]`` and time travel over the MV gives
    the aggregate as of any synced base version.

    Compaction commits never reach the MV (the feed skips
    maintenance); a full base rewrite flows through as delete-all +
    insert-all, whose fold is exactly new-sum minus old-sum. Same
    additive-aggregate scope as refresh_aggregate (sum/count and
    derivatives; min/max need a rescan under deletes).
    """
    from big_data_spark.io.changes import read_changes
    from big_data_spark.io.manifest import snapshot_ids
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import write_snapshot

    base_ids = snapshot_ids(spark, table_dir)
    if not base_ids:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    until = base_ids[-1]
    mv_ids = snapshot_ids(spark, mv_dir)
    if not mv_ids:
        base = read_snapshot(spark, table_dir, as_of=until)
        mv0 = base.groupBy(*keys).agg(
            *[F.sum(m).alias(m) for m in measures],
            F.count(F.lit(1)).alias(count_col),
        )
        write_snapshot(mv0, mv_dir, snapshot_id=until, replace=True)
        return {"bootstrapped": True, "applied_through": until, "from": None}
    last = mv_ids[-1]
    if last >= until:
        return {"bootstrapped": False, "applied_through": last, "from": last}
    feed = read_changes(spark, table_dir, after_id=last, until_id=until)
    fold_and_publish(
        read_snapshot(spark, mv_dir, as_of=last),
        feed,
        mv_dir,
        until,
        keys,
        measures,
        op_col="_change_type",
        delete_op="delete",
        count_col=count_col,
    )
    return {"bootstrapped": False, "applied_through": until, "from": last}
