"""Structured-Streaming sink INTO the snapshot table format — the
generic writer that turns any stream into an atomic, versioned,
time-travelable table, closing the loop with the rest of the
lakehouse: every micro-batch becomes one committed snapshot, so
``read_changes``/``follow_changes`` see exactly one commit per
batch, ``sync_aggregate`` keeps MVs fresh from it, and
``binpack_snapshot`` folds the accreted per-batch generations on
the standard maintenance cadence.

Replay contract (identical to the CDC mirror's): the micro-batch id
IS the snapshot id, committed with ``replace=True`` — a crashed or
redelivered batch recomputes from the checkpointed offsets and
replace-commits the same generation, so exactly-once lands on
at-least-once delivery. One checkpoint per table_dir, forever: a
FRESH checkpoint re-numbers batches from zero over different
offsets, which would replace historical generations with different
content — that is a rebuild, so point it at an empty table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_spark.io.table_writes import append_snapshot


def snapshot_sink(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint: str,
    available_now: bool = True,
    checks: list | None = None,
    partition_by: str | None = None,
):
    """Start (and with ``available_now`` drain) a stream into the
    snapshot table at ``table_dir``: one appended generation per
    micro-batch, atomically committed. Returns the StreamingQuery
    (already terminated under ``available_now``).

    ``checks`` (dq Check list) is the streaming write-audit gate:
    each micro-batch runs the suite BEFORE its commit, so a failing
    batch stops the stream loudly with NOTHING landed — the batch
    recomputes from the checkpointed offsets on restart (after the
    upstream fix), never a half-published bad version. The audit
    cost is the suite's one aggregation per batch.

    ``partition_by`` lays every batch's generation out hive-partitioned
    on that column (append_snapshot's layout contract): readers
    filtering on it prune directories inside each generation."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if checks:
            import uuid as _uuid

            from big_data_spark.io.layout import hadoop_fs
            from big_data_spark.operators.dq import assert_suite

            # The audit and the append are TWO Spark actions over the
            # same plan. STAGE the batch to disk and run both over the
            # read-back — the batch WAP / row_cdf discipline: persist()
            # only pins the batch as strongly as the block cache, so a
            # lost executor recomputes from lineage with fresh
            # non-determinism and the committed rows can differ from
            # the audited rows. Bytes on disk cannot
            # diverge; the cost is one extra write+read of the batch
            # (micro-batch-sized by construction).
            spark = batch_df.sparkSession
            staging = (
                f"{table_dir}/_staging/stream-{batch_id}-"
                f"{_uuid.uuid4().hex}"
            )
            fs, sp = hadoop_fs(spark, staging)
            batch_df.write.mode("error").parquet(staging)
            try:
                staged = spark.read.parquet(staging)
                assert_suite(staged, checks)
                append_snapshot(
                    staged,
                    table_dir,
                    snapshot_id=batch_id,
                    replace=True,
                    partition_by=partition_by,
                )
            finally:
                fs.delete(sp, True)
            return
        append_snapshot(
            batch_df,
            table_dir,
            snapshot_id=batch_id,
            replace=True,
            partition_by=partition_by,
        )

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
