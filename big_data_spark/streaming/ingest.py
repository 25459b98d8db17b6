"""Streaming dedup ingest — the production loop that grows a
deduplicated lake from a live stream.

The lake is two snapshot tables (io/): ``lake_dir/data`` (the rows)
and ``lake_dir/bloom`` (Bloom filters of their keys). Per micro-batch
(foreachBatch):

1. dedup WITHIN the batch (``dropDuplicates`` on the key);
2. dedup AGAINST the lake via the Bloom-gated incremental path
   (operators/incremental.py): keys probing false against the lake's
   filter are admitted with no join; only suspects pay the exact
   anti-join against the lake's key column;
3. append the admitted keys' Bloom filter to the filter table —
   filters are merge-on-read (``bloom_merge`` of every committed
   filter row), so keeping the filter current never re-scans the
   lake;
4. append the admitted rows to the data table.

Replay safety: ingest is idempotent by CONTENT, so each batch appends
at latest+1 (the CDC mirror's rule) — a replayed or redelivered batch
finds its keys already in the lake, admits nothing and overwrites
nothing. The filter commits BEFORE the rows, so the filter table
always covers every key of the data table: a crash between the two
commits can only leave extra filter bits (false positives, which take
the exact anti-join), never a missing one (a false negative would
admit a duplicate). A lake with no filter table rebuilds the filter
from all of its keys in the next batch.

At 100 TB: the filter is a few MB per billion keys and broadcasts;
the lake-side anti-join only ever sees the suspect slice of a batch;
and the per-batch generations of both tables fold back together with
``compact_snapshot`` (io/compact.py) if batch count grows large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_spark.io.manifest import snapshot_ids
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.io.table_writes import append_snapshot
from big_data_spark.lineage import truncate_lineage
from big_data_spark.operators.bloom import bloom_merge
from big_data_spark.operators.incremental import incremental_dedup, seen_filter


def run_dedup_ingest(
    stream_df: DataFrame,
    key_col: str,
    lake_dir: str,
    checkpoint: str,
    m: int = 1 << 20,
    k: int = 4,
) -> None:
    """Drain ``stream_df`` (availableNow) into ``lake_dir`` keeping
    only first-seen ``key_col`` values: rows in the snapshot table
    ``lake_dir/data`` (``read_lake``), key filters in
    ``lake_dir/bloom``."""
    data_dir = f"{lake_dir}/data"
    bloom_dir = f"{lake_dir}/bloom"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([key_col])
        if not snapshot_ids(spark, data_dir):
            # First batch: no lake yet — everything is new.
            admitted = batch
        else:
            lake_keys = read_snapshot(spark, data_dir).select(key_col)
            if not snapshot_ids(spark, bloom_dir):
                # No filter table (lost or deleted): rebuild it from
                # every lake key, not only this batch's, or a later
                # batch repeating an older key would probe it new.
                append_snapshot(
                    seen_filter(lake_keys, key_col, m=m, k=k), bloom_dir
                )
            admitted = incremental_dedup(
                batch,
                lake_keys,
                key_col,
                bloom_merge(read_snapshot(spark, bloom_dir), key_cols=[]),
                m=m,
                k=k,
            )
        # Materialize once: both commits below consume the admitted
        # rows, and the filter must cover exactly the keys that land.
        admitted = truncate_lineage(admitted)
        append_snapshot(
            seen_filter(admitted.select(key_col), key_col, m=m, k=k),
            bloom_dir,
        )
        append_snapshot(admitted, data_dir)

    query = (
        stream_df.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_lake(spark, lake_dir: str) -> DataFrame:
    """The deduplicated lake as one DataFrame."""
    return read_snapshot(spark, f"{lake_dir}/data")
