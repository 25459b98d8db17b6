"""Streaming queries for the driver contract: each callable runs a
Structured Streaming job to completion (availableNow trigger, memory
sink) and returns the materialized result, so the same DuckDB oracle
that checks the batch twin checks the stream.

Complete output mode + event-time-only logic makes the final answer
deterministic regardless of micro-batch slicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_spark.streaming import (
    hourly_counts_stream,
    purchase_click_join_stream,
    read_events_stream,
    run_stream_to_table,
    sessionize_stream,
    sliding_counts_stream,
)


def _present_sorted(out: DataFrame, *keys: str) -> DataFrame:
    """Total-order a drained memory-sink table in ONE partition. The
    memory sink materializes its rows on the DRIVER (that is its
    contract, complete and append mode alike), so the result is
    driver-bounded by construction — yet Spark parallelizes the
    LocalTableScan to every core, and a plain ``orderBy`` then pays a
    range-sampling job plus a full-width exchange to re-sort rows
    that already fit in one task (guide §2.4: an orderBy used only to
    make output deterministic is an accidental shuffle). One sorted
    partition IS a total order: identical rows, identical order,
    measured 0.33 s -> 0.04 s on stream_hourly's 3600-row tail at
    sf0.1."""
    return out.coalesce(1).sortWithinPartitions(*keys)


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = hourly_counts_stream(read_events_stream(spark, sf_dir))
    out = run_stream_to_table(stream, "stream_hourly_result")
    return _present_sorted(out, "hour_epoch", "event_type")


# Same aggregate as the batch events_hourly oracle.
ORACLE_STREAM_HOURLY = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sessionize_stream(read_events_stream(spark, sf_dir))
    out = run_stream_to_table(stream, "stream_sessionize_result")
    return _present_sorted(out, "user_id", "session_start_epoch")


# Gap-based sessions in SQL: split only where the gap EXCEEDS 30 min.
# Spark's session_window is boundary-INCLUSIVE — an event arriving at
# exactly last_event + gap extends the session (verified empirically:
# sf0.1 has exactly one 1800 s gap and session_window merges it), so
# the lag-based split is strict >.
ORACLE_STREAM_SESSIONIZE = """
WITH secs AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events
), flagged AS (
  SELECT user_id, ts_sec, event_id,
         CASE WHEN lag(ts_sec) OVER w IS NULL
                   OR ts_sec - lag(ts_sec) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM secs
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
), sessions AS (
  SELECT user_id, ts_sec,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_sec) AS session_start_epoch,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
ORDER BY user_id, session_start_epoch
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = purchase_click_join_stream(read_events_stream(spark, sf_dir))
    out = run_stream_to_table(
        stream, "stream_stream_join_result", output_mode="append"
    )
    return _present_sorted(out, "purchase_id", "click_id")


# Batch twin of the watermarked purchase-click interval join; second
# resolution matches the streaming side's timestamp_seconds(ts div 1e9).
ORACLE_STREAM_STREAM_JOIN = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
)
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       p.s - c.s AS gap_sec
FROM e p JOIN e c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.s BETWEEN p.s - 600 AND p.s
ORDER BY purchase_id, click_id
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows over the stream (2 h window, 1 h slide): each
    event lands in two overlapping buckets — the trailing-window
    dashboard shape tumbling windows can't express. Event-time only,
    so the drained result is micro-batch-slicing independent."""
    stream = sliding_counts_stream(read_events_stream(spark, sf_dir))
    out = run_stream_to_table(stream, "stream_sliding_result")
    return _present_sorted(out, "win_start_epoch", "event_type")


# Each event contributes to the two hourly-aligned 2-hour windows
# covering it: starts {hour - 3600, hour} — expressed by unnesting
# both starts per event, then a plain group-by. Exact integer counts
# + decimal sums, same cross-engine contract as stream_hourly.
ORACLE_STREAM_SLIDING = """
SELECT s AS win_start_epoch, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (
  SELECT unnest([hh - 3600, hh]) AS s, event_type, value FROM (
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hh,
           event_type, value
    FROM events
  )
)
GROUP BY s, event_type ORDER BY win_start_epoch, event_type
"""


QUERIES = {
    "stream_hourly": q_stream_hourly,
    "stream_sessionize": q_stream_sessionize,
    "stream_stream_join": q_stream_stream_join,
    "stream_sliding": q_stream_sliding,
}

ORACLE_SQL = {
    "stream_hourly": ORACLE_STREAM_HOURLY,
    "stream_sessionize": ORACLE_STREAM_SESSIONIZE,
    "stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
    "stream_sliding": ORACLE_STREAM_SLIDING,
}
