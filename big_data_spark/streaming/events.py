"""Streaming event pipeline: file source -> event-time windows ->
sinks, with batch-identical semantics (tested in
tests/test_streaming.py against the batch queries' DuckDB oracles).

Scale notes: the file source at 100 TB is a partitioned directory
with maxFilesPerTrigger bounding each micro-batch; watermarks bound
the window state store; session windows and the stateful kernel keep
state per key, so key-skew (a bot user) is the hazard — cap with an
upstream per-key rate filter. Everything here is event-time, never
processing-time, so replays are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from big_data_spark.io.readers import assert_testdata_schema, normalize_event_ts

DEC = "decimal(18,2)"


def _driver_footer_schema(glob_path: str):
    """The stream source's schema read from the parquet FOOTER on the
    driver — no Spark job. ``spark.read.parquet(...).schema`` runs a
    one-task footer-inference job plus a file listing per call, and
    the bench re-pays it every timed run; pyarrow reads the same
    footer bytes in-process. Maps ONLY the closed type set the
    testdata can carry (int64/double/string, timestamp[us] with or
    without tz, and the legacy INT64 TIMESTAMP(NANOS) that Spark
    surfaces as raw longs under nanosAsLong); anything else — remote
    paths, multi-file tables with differing footers, unexpected
    types — returns None and the caller falls back to the batch
    probe, whose result this mapping reproduces exactly (asserted in
    tests/test_streaming.py against Spark's own inference)."""
    import glob as _glob
    import os

    from pyspark.sql.types import (
        BooleanType,
        FloatType,
        IntegerType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if "://" in glob_path:
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:
        return None
    paths: list[str] = []
    for m in sorted(_glob.glob(glob_path)):
        if os.path.isdir(m):
            paths.extend(
                p
                for p in sorted(_glob.glob(f"{m}/*.parquet"))
                if os.path.isfile(p)
            )
        elif os.path.isfile(m):
            paths.append(m)
    if not paths:
        return None

    def _spark_type(t):
        if pa.types.is_int64(t):
            return LongType()
        if pa.types.is_int32(t):
            return IntegerType()
        if pa.types.is_float64(t):
            return DoubleType()
        if pa.types.is_float32(t):
            return FloatType()
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return StringType()
        if pa.types.is_boolean(t):
            return BooleanType()
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                # INT64 TIMESTAMP(NANOS): Spark 4 reads it only as
                # raw nanosecond longs (nanosAsLong, set by callers).
                return LongType()
            if t.unit == "us":
                return (
                    TimestampType() if t.tz else TimestampNTZType()
                )
        return None

    try:
        arrow = pq.ParquetFile(paths[0]).schema_arrow
        for p in paths[1:]:
            if pq.ParquetFile(p).schema_arrow != arrow:
                return None  # mixed footers: let Spark's merge decide
    except Exception:
        return None
    fields = []
    for f in arrow:
        st = _spark_type(f.type)
        if st is None:
            return None
        fields.append(StructField(f.name, st, nullable=True))
    return StructType(fields)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table with an event_time
    timestamp column (whole-second resolution, matching the batch
    queries' ``ts div 1e9`` convention and their DuckDB oracles).

    File streams cannot infer a schema, and DECLARING one is how the
    worst streaming failure mode happens: a LongType declaration
    against microsecond timestamps coerces raw micros into the long —
    event time compresses 1000x and every window silently merges, no
    exception anywhere.  So the stream schema is taken from the actual
    parquet footer (a metadata-only batch read), asserted against
    TESTDATA_SCHEMAS, and ``ts`` is then normalized to the engine's
    canonical epoch-nanosecond longs exactly like the batch path.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Probe the footer through the SAME glob the stream source uses,
    # so any layout the stream can read (single file, directory of
    # part files) the probe can too. Local single-footer layouts
    # resolve on the driver (no job); anything the driver mapping
    # can't prove pays the batch probe as before.
    footer_schema = _driver_footer_schema(f"{sf_dir}/events.parque*")
    if footer_schema is None:
        footer_schema = spark.read.parquet(f"{sf_dir}/events.parque*").schema
    assert_testdata_schema("events", footer_schema)
    reader = spark.readStream.schema(footer_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The testdata table is a single file; the file-stream source
    # requires a directory basePath, so address it via a glob (the
    # glob parent becomes the base). A production deployment points
    # this at a partitioned directory instead.
    stream = normalize_event_ts(reader.parquet(f"{sf_dir}/events.parque*"))
    return stream.withColumn(
        "event_time", F.timestamp_seconds(F.expr("ts div 1000000000"))
    )


def hourly_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the batch events_hourly query: tumbling
    1-hour event-time window, watermark bounds the state store."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "3 hours",
) -> DataFrame:
    """SLIDING event-time windows (each event lands in
    window/slide overlapping buckets) — the trailing-window dashboard
    aggregate tumbling windows can't express. State per (window,
    type) bucket; the watermark must cover the LONGEST window so a
    bucket only closes after every contributing event is in."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-merged), the streaming twin of
    the batch lag+cumsum sessionization."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy("user_id", F.session_window("event_time", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias(
                "session_start_epoch"
            ),
            "n_events",
        )
    )


def purchase_click_join_stream(
    events: DataFrame, gap_seconds: int = 600, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase paired
    with the same user's clicks in the preceding ``gap_seconds``.
    Both sides carry watermarks so the join state store is bounded —
    the click side keeps only rows newer than
    watermark + gap_seconds; without the time bound the state would
    grow forever. Inner join + event-time-only predicates => the
    final availableNow result equals the batch twin regardless of
    micro-batch slicing."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (
            F.col("click_time")
            >= F.col("purchase_time") - F.expr(f"INTERVAL {gap_seconds} SECONDS")
        )
        & (F.col("click_time") <= F.col("purchase_time")),
    ).select(
        "user_id",
        "purchase_id",
        "click_id",
        (
            F.unix_timestamp("purchase_time") - F.unix_timestamp("click_time")
        ).alias("gap_sec"),
    )


_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user totals carried across micro-batches in the state store
    (the shape for any accumulate-per-key op Spark lacks natively).
    Emits the updated total for each user seen in the batch."""

    def kernel(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(total, 2)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        kernel,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup on the event id with bounded state: plain
    dropDuplicates(['event_id']) would key state by id alone and keep
    it FOREVER even under a watermark (eviction needs the event-time
    column in the subset); dropDuplicatesWithinWatermark expires each
    key once the watermark passes its event time, so the state store
    holds only the watermark window."""
    return events.withWatermark(
        "event_time", watermark
    ).dropDuplicatesWithinWatermark(["event_id"])


def run_stream_to_table(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory table and return the materialized result — the
    batch-parity harness used by tests and the driver contract.

    ``state_partitions`` bounds stateful-shuffle parallelism for THIS
    query (state partition count is a per-checkpoint property, fixed
    at first start): every state partition pays a per-batch commit
    fsync for each of the operator's state stores — a stream-stream
    join carries four — so 32 partitions of near-empty state cost
    more in commits than the batch itself. Results are partition-
    count-independent; a long-lived production query sizes this to
    its state volume instead."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return spark.table(name)
