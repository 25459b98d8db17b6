"""Structured Streaming surface (extension beyond the reference).

The reference is batch-only (SURVEY.md §2.11: no readStream /
writeStream / watermark anywhere); its data is nonetheless an event
stream, so this package exposes the streaming twins of the event
queries — tumbling-window aggregation with watermark, session
windows, and a custom stateful operator via applyInPandasWithState —
plus a run-to-completion helper for batch-parity testing.
"""

from big_data_spark.streaming.ingest import read_lake, run_dedup_ingest
from big_data_spark.streaming.neardup_ingest import (
    ingest_neardup_batch,
    neardup_keep,
    read_neardup_clusters,
    run_neardup_ingest,
)
from big_data_spark.streaming.semdedup_ingest import (
    ingest_semdedup_batch,
    read_semdedup_prune,
    run_semdedup_ingest,
    semdedup_keep,
)
from big_data_spark.streaming.mv import run_mv_refresh
from big_data_spark.streaming.cdc_mirror import (
    purge_tombstones,
    read_mirror,
    read_scd2_mirror,
    run_cdc_mirror,
    run_scd2_mirror,
)
from big_data_spark.streaming.events import (
    dedup_stream,
    hourly_counts_stream,
    purchase_click_join_stream,
    read_events_stream,
    run_stream_to_table,
    sessionize_stream,
    sliding_counts_stream,
    user_totals_stateful,
)

__all__ = [
    "run_cdc_mirror",
    "run_scd2_mirror",
    "read_scd2_mirror",
    "run_mv_refresh",
    "read_mirror",
    "purge_tombstones",
    "read_events_stream",
    "hourly_counts_stream",
    "sessionize_stream",
    "sliding_counts_stream",
    "purchase_click_join_stream",
    "dedup_stream",
    "user_totals_stateful",
    "run_stream_to_table",
    "run_dedup_ingest",
    "read_lake",
    "ingest_neardup_batch",
    "read_neardup_clusters",
    "neardup_keep",
    "run_neardup_ingest",
    "ingest_semdedup_batch",
    "read_semdedup_prune",
    "semdedup_keep",
    "run_semdedup_ingest",
]
