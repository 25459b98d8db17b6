"""Streaming CDC mirror — keep a parquet mirror of an OLTP table
current from a live change feed (the Debezium -> lakehouse loop),
composing latest-wins folding (operators/cdc.py) with MERGE
(operators/merge.py) inside foreachBatch, published through atomic
snapshot commits (io/snapshot.py).

Design decisions that carry to 100 TB:

- **Bucketed layout, touched-partition rewrites.** The mirror is
  hash-partitioned on the key (``_kb = pmod(xxhash64(keys),
  n_buckets)``). Each micro-batch prunes its read to the buckets its
  winners touch (broadcast semi-join -> partition pruning) and
  rewrites only those buckets: per-batch cost scales with the CHANGE
  SET, never with the table.
- **Atomic, crash-safe publication.** Each batch writes its touched
  buckets as an immutable data generation and then commits ONE
  manifest naming every live bucket directory (touched buckets from
  the new generation, untouched ones carried forward by reference).
  A reader concurrent with a multi-bucket rewrite sees only the old
  or only the new snapshot — never a mix — and a crash between
  bucket writes leaves unreferenced files the next attempt deletes.
  Snapshot ids are latest+1 (NOT the batch id): because the merge is
  idempotent, a replayed batch — or a whole rebuild under a fresh
  checkpoint, where batch ids restart at 0 — merges into the LATEST
  state as a no-op and publishes on top, never below the live
  manifest.
- **Monotone merge.** The mirror stores each row's last-applied
  ``(seq, tie)``; an incoming change only lands if strictly newer.
  Replays and out-of-order redeliveries are no-ops — idempotency is
  a merge predicate, not a checkpoint-ordering hope.
- **Delete tombstones, not physical deletes.** A winning delete
  flips ``_deleted`` (keeping its seq) instead of removing the row,
  so a STALE update redelivered after the delete is rejected by the
  monotone guard rather than resurrecting the key — the classic CDC
  resurrection bug is structurally impossible. ``read_mirror``
  filters tombstones; ``purge_tombstones`` reclaims them once the
  feed's redelivery horizon has passed.

Direct table-format DML on a mirror (``delete_where`` /
``update_where`` on ``mirror_dir``) is honored by the next batch —
the base reads apply the manifest's merge-on-read masks and
evolution log — but a DML DELETE removes the row's ``(seq, tie)``
STATE along with the row: it is ``purge_tombstones`` semantics
WITHOUT the watermark guard, so a change for that key redelivered
later re-inserts it as new. Use it only for keys the upstream feed
has quiesced (GDPR-style erasure); retention cleanup belongs to
``purge_tombstones``, whose ``seq_watermark`` keeps the guard
intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.manifest import dir_cols, latest_manifest
from big_data_spark.io.table_reads import read_entries, read_snapshot
from big_data_spark.io.table_writes import write_snapshot_partial
from big_data_spark.lineage import truncate_lineage
from big_data_spark.operators.cdc import latest_changes
from big_data_spark.operators.merge import merge_into

_BUCKET = "_kb"
_DELETED = "_deleted"


def _touched_buckets(incoming: DataFrame) -> list[int]:
    """Bucket ids the batch touches — bounded driver metadata (at
    most n_buckets values), the manifest's carry-forward key set."""
    return [r[_BUCKET] for r in incoming.select(_BUCKET).distinct().collect()]


def run_cdc_mirror(
    change_stream: DataFrame,
    keys: list[str],
    seq_col: str,
    tie_col: str,
    mirror_dir: str,
    checkpoint: str,
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 16,
    checks: list | None = None,
) -> None:
    """Drain ``change_stream`` (availableNow) into the snapshot table
    at ``mirror_dir``. The feed carries the mirrored columns plus
    ``op_col`` / ``seq_col`` / ``tie_col``; ``(seq, tie)`` must be
    unique per change (commit LSN + change index).

    ``checks`` (operators/dq.py Check list) gates every batch BEFORE
    it folds: a failing batch raises inside foreachBatch, the
    streaming query stops, and — because nothing was committed — the
    checkpoint does not advance, so fixing the feed and restarting
    re-processes the same batch. Bad data halts the mirror loudly
    instead of landing in it.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checks:
            from big_data_spark.operators.dq import assert_suite

            assert_suite(batch_df, checks)
        winners = latest_changes(batch_df, keys, seq_col, tie_col)
        incoming = (
            winners.withColumn(
                _BUCKET,
                F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int"),
            )
            .withColumn(_DELETED, F.col(op_col) == F.lit(delete_op))
            .drop(op_col)
        )
        touched = _touched_buckets(incoming)
        prev = latest_manifest(spark, mirror_dir)
        if prev is None or not prev["entries"]:
            # first batch (or an empty table): the winners ARE the mirror
            new = incoming
        else:
            mirror = read_entries(
                spark,
                mirror_dir,
                prev["entries"],
                # Honor the manifest's merge-on-read masks and
                # evolution log: a MOR delete or evolve on the mirror
                # must not resurrect/misread rows into the next
                # rewritten bucket.
                deletes=prev["deletes"],
                schema_fields=prev["schema"],
                rename_log=prev["rename_log"],
                partition_cols=dir_cols(prev),
            )
            # _kb is a hive partition column of every live generation:
            # the isin literal prunes the scan to the touched buckets
            # statically — no join, no full-table read.
            pruned = mirror.filter(F.col(_BUCKET).isin(touched))
            newer = (F.col(f"s.{seq_col}") > F.col(f"t.{seq_col}")) | (
                (F.col(f"s.{seq_col}") == F.col(f"t.{seq_col}"))
                & (F.col(f"s.{tie_col}") > F.col(f"t.{tie_col}"))
            )
            payload = [
                c for c in pruned.columns if c not in keys and c != _BUCKET
            ]
            new = merge_into(
                pruned,
                incoming,
                keys + [_BUCKET],
                update_cols=payload,
                update_condition=newer,
                insert=True,
                strict=True,
            )
        write_snapshot_partial(
            truncate_lineage(new),
            mirror_dir,
            (prev["snapshot_id"] + 1) if prev else 0,
            _BUCKET,
            touched,
        )

    query = (
        change_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_mirror(spark: SparkSession, mirror_dir: str) -> DataFrame:
    """The live rows of the current snapshot (tombstones filtered,
    bookkeeping dropped; the feed's seq/tie columns remain — they are
    the row version, often wanted downstream)."""
    return (
        read_snapshot(spark, mirror_dir)
        .filter(~F.col(_DELETED))
        .drop(_BUCKET, _DELETED)
    )


def purge_tombstones(
    spark: SparkSession, mirror_dir: str, seq_col: str, seq_watermark
) -> None:
    """Physically remove tombstones whose delete seq is older than
    ``seq_watermark`` — safe once the feed can no longer redeliver
    changes that old (its retention horizon); a younger tombstone
    stays so the monotone guard keeps rejecting stale updates.
    Publishes a fresh snapshot rewriting only the buckets that hold
    purgeable tombstones (a bucket left empty drops out of the
    manifest atomically); run as table maintenance, not per batch."""
    man = latest_manifest(spark, mirror_dir)
    if man is None or not man["entries"]:
        return
    df = read_entries(
        spark,
        mirror_dir,
        man["entries"],
        deletes=man["deletes"],
        schema_fields=man["schema"],
        rename_log=man["rename_log"],
        partition_cols=dir_cols(man),
    )
    purgeable = F.col(_DELETED) & (F.col(seq_col) < F.lit(seq_watermark))
    touched = [
        r[_BUCKET]
        for r in df.filter(purgeable).select(_BUCKET).distinct().collect()
    ]
    if not touched:
        return
    rewritten = truncate_lineage(
        df.filter(F.col(_BUCKET).isin(touched)).filter(~purgeable)
    )
    write_snapshot_partial(
        rewritten, mirror_dir, man["snapshot_id"] + 1, _BUCKET, touched
    )


def run_scd2_mirror(
    change_stream: DataFrame,
    keys: list[str],
    seq_col: str,
    tie_col: str,
    mirror_dir: str,
    checkpoint: str,
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 16,
    checks: list | None = None,
) -> None:
    """TYPE-2 twin of ``run_cdc_mirror``: maintain a versioned
    history table (operators/cdc.scd2_apply — validity intervals,
    delete-closes, per-key high-water) from a live change feed,
    under the same bucketed layout, touched-bucket rewrites and
    atomic manifest commits.

    Replay safety is two-layered: scd2_apply's high-water mark over
    every recorded interval boundary makes a redelivered batch a
    content no-op against the LATEST state (so, like the type-1
    mirror, snapshots stack at latest+1 and fresh-checkpoint rebuilds
    are safe), and the manifest commit makes each publication atomic.
    Read the current rows with ``read_scd2_mirror(...,
    current_only=True)`` or the full history with
    ``current_only=False``.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from big_data_spark.operators.cdc import scd2_apply

        spark = batch_df.sparkSession
        if checks:
            from big_data_spark.operators.dq import assert_suite

            assert_suite(batch_df, checks)
        bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
        batch = batch_df.withColumn(_BUCKET, bucket)
        touched = _touched_buckets(batch)
        prev = latest_manifest(spark, mirror_dir)
        if prev is None or not prev["entries"]:
            history = None
        else:
            history = read_entries(
                spark,
                mirror_dir,
                prev["entries"],
                deletes=prev["deletes"],
                schema_fields=prev["schema"],
                rename_log=prev["rename_log"],
                partition_cols=dir_cols(prev),
            ).filter(F.col(_BUCKET).isin(touched))
        new = scd2_apply(
            history,
            batch,
            keys + [_BUCKET],
            seq_col,
            tie_col,
            op_col=op_col,
            delete_op=delete_op,
        )
        write_snapshot_partial(
            truncate_lineage(new),
            mirror_dir,
            (prev["snapshot_id"] + 1) if prev else 0,
            _BUCKET,
            touched,
        )

    query = (
        change_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_scd2_mirror(
    spark: SparkSession, mirror_dir: str, current_only: bool = True
) -> DataFrame:
    """The SCD2 history (bookkeeping bucket dropped); with
    ``current_only`` just the open versions."""
    df = read_snapshot(spark, mirror_dir).drop(_BUCKET)
    return df.filter(F.col("is_current")) if current_only else df
