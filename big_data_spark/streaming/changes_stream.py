"""Incremental STREAM over a snapshot table's change feed — the
read-side twin of streaming/snapshot_sink.py: a downstream pipeline
consumes a snapshot table the way it would ``readStream`` a source,
in micro-batches with a durable cursor (``follow_changes`` alone is
a single batch-cursor step).

Shape: a foreachBatch-style DRIVER loop, not a custom Python data
source — deliberately. A PySpark DataSource stream reader funnels
every row through ``read()`` on the driver, which caps throughput at
driver bandwidth; here each micro-batch stays a full DISTRIBUTED
DataFrame (``read_changes`` manifest diff -> parquet scans), so the
feed of a 100 TB table flows executor-to-executor and the driver
handles only cursor metadata — the same division of labor as
Structured Streaming's own foreachBatch.

Delivery contract (identical to a streaming checkpoint): the cursor
under ``cursor_dir`` advances only AFTER ``process`` returns, so a
crash mid-batch replays the same window on restart — at-least-once,
exactly-once when ``process`` writes idempotently (e.g. snapshot_sink
replace-commits keyed on the epoch id). A fresh cursor_dir replays
from table creation; reusing one resumes where it stopped.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from big_data_spark.io.changes import follow_changes


def stream_changes(
    spark: SparkSession,
    table_dir: str,
    cursor_dir: str,
    process,
    available_now: bool = True,
    poll_interval_s: float = 2.0,
    max_batches: int | None = None,
    max_idle_s: float | None = None,
    track_rows: bool = False,
    predicate: dict | None = None,
) -> dict:
    """Drive ``process(feed_df, epoch_id)`` over successive change-feed
    windows of the snapshot table at ``table_dir``.

    - ``feed_df``: the distributed change DataFrame for the window
      (``_change_type`` insert/delete/update_preimage/update_postimage
      rows, ``_commit_id`` per commit) — exactly
      ``read_changes(after_id=cursor, until_id=epoch_id)``.
    - ``epoch_id``: the window's upper snapshot id; monotone across
      batches, stable across replays of the same window — use it as
      the idempotency key (the batch-id contract of foreachBatch).
    - ``available_now=True`` drains everything committed so far and
      returns (the availableNow trigger); ``False`` keeps polling
      every ``poll_interval_s`` until ``max_batches`` windows have
      been processed, or — ``max_idle_s`` — until no new commits have
      arrived for that many seconds (the unsupervised-pipeline escape
      hatch; with both None it polls forever — supervise externally).
      ``predicate=`` restricts every window to matching
      change rows — the range-shard consumer (same typed bounds /
      IN-lists as ``read_snapshot``; file-level skipping through each
      side's manifest stats).
      A table with NO commits yet is "no new commits", not an error:
      a consumer may legitimately start before the producer's first
      commit.
    - ``track_rows=True`` counts each window (one extra job per
      batch) so the metrics can alert on drain rate, not just cadence.

    Returns ``{"batches": n, "last_commit": id, "stopped":
    "drained"|"max_batches"|"idle", "batch_metrics": [...]}`` where
    each metrics row is ``{"epoch_id", "after_id", "rows"}`` (rows
    None unless ``track_rows``) — enough for an unsupervised pipeline
    to tell a stalled producer from a drained one. The cursor commit
    happens AFTER ``process`` returns; an exception propagates with
    the cursor untouched, so the next call replays the window."""
    batches = 0
    last = None
    metrics: list[dict] = []
    idle_since = time.monotonic()

    def _done(reason: str) -> dict:
        return {
            "batches": batches,
            "last_commit": last,
            "stopped": reason,
            "batch_metrics": metrics,
        }

    while True:
        try:
            feed, commit = follow_changes(
                spark, table_dir, cursor_dir, predicate=predicate
            )
        except ValueError as exc:
            if "no committed snapshots" not in str(exc):
                raise
            # Not committed yet (producer hasn't started): in poll
            # mode this is just "no new commits" (the raw raise
            # crashed consumers started early); in
            # drain mode there is nothing to drain.
            feed, commit = None, None
        if feed is None:
            if available_now:
                return _done("drained")
            if max_batches is not None and batches >= max_batches:
                return _done("max_batches")
            if (
                max_idle_s is not None
                and time.monotonic() - idle_since >= max_idle_s
            ):
                return _done("idle")
            time.sleep(poll_interval_s)
            continue
        process(feed, commit.until_id)
        n_rows = feed.count() if track_rows else None
        last = commit()
        batches += 1
        metrics.append(
            {
                "epoch_id": commit.until_id,
                "after_id": commit.after_id,
                "rows": n_rows,
            }
        )
        idle_since = time.monotonic()
        if max_batches is not None and batches >= max_batches:
            return _done("max_batches")
