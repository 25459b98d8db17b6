"""Streaming materialized-view maintenance: keep a grouped sum/count
aggregate current from a live change feed (foreachBatch +
operators/incremental.refresh_aggregate) — the continuous-MV /
Delta-Live-Tables shape, persisted as a snapshot table (io/).

Exactly-once by VERSIONING, not hope: additive refresh is not
idempotent (re-adding a batch double-counts), so the MV's snapshot
ids ARE the batch ids. Batch N folds into the newest snapshot
STRICTLY BELOW N and replace-commits snapshot N: a crashed attempt
leaves staging residue (or a claimed generation the replay swaps
out) and is recomputed on replay, and the predecessor it reads from
is immutable. Snapshots are cheap because
an MV is an aggregate — |groups| rows, not |base| — and old ones
double as time travel (``read_snapshot(mv_dir, as_of=)``) until
``vacuum_snapshots(keep_last=)`` reclaims them.

Scale: per batch, cost = one aggregation of the batch + one merge
join against the |groups|-sized MV + an MV-sized write. The base
table is never rescanned — the whole point of incremental view
maintenance.

Lifecycle contract: one MV = one checkpoint. Continue ingestion by
adding files to the same source under the same checkpoint (batch
ids, and so snapshot ids, keep increasing). Starting over with a
FRESH checkpoint re-delivers the whole source and REBUILDS the MV
from snapshot 0 — deterministic and correct, but a rebuild, not a
continuation. Retractions must not precede their inserts across
batches (refresh_aggregate's CDC ordering contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_spark.io.manifest import snapshot_ids
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.operators.incremental import fold_and_publish


def run_mv_refresh(
    change_stream: DataFrame,
    keys: list[str],
    measures: list[str],
    mv_dir: str,
    checkpoint: str,
    op_col: str | None = None,
    delete_op: str = "D",
    count_col: str = "n_rows",
) -> None:
    """Drain ``change_stream`` (availableNow), maintaining
    ``SELECT keys, SUM(measures)..., COUNT(*)`` as the snapshot table
    ``mv_dir`` (read it with ``read_snapshot``). Deletes retract when
    ``op_col`` is given (CDC before-image contract, see
    refresh_aggregate)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if any(i < batch_id for i in snapshot_ids(spark, mv_dir)):
            current = read_snapshot(spark, mv_dir, below=batch_id)
        else:
            current = None
        fold_and_publish(
            current,
            batch_df,
            mv_dir,
            batch_id,
            keys,
            measures,
            op_col=op_col,
            delete_op=delete_op,
            count_col=count_col,
        )

    query = (
        change_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
