"""Structured Streaming: batch parity + stateful operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_spark.io.readers import read_table
from big_data_spark.streaming import (
    read_events_stream,
    run_stream_to_table,
    user_totals_stateful,
)
from big_data_spark.queries.relational import q_events_hourly
from big_data_spark.queries.streaming_q import q_stream_hourly
from tests.conftest import SF_SMOKE


def test_stream_hourly_matches_batch(spark):
    stream_rows = sorted(
        tuple(r) for r in q_stream_hourly(spark, SF_SMOKE).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in q_events_hourly(spark, SF_SMOKE).collect()
    )
    assert stream_rows == batch_rows


def test_stream_is_streaming_plan(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    assert stream.isStreaming


def test_driver_footer_schema_matches_spark_inference(spark):
    """The driver-side pyarrow footer probe must reproduce EXACTLY
    what spark.read.parquet would infer for the stream source — the
    optimization (skipping the one-task inference job per
    construction) is only sound if the declared schema is the
    inferred one. Unprovable shapes must decline, not guess."""
    from big_data_spark.streaming.events import _driver_footer_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for sf in (SF_SMOKE,):
        glob_path = f"{sf}/events.parque*"
        got = _driver_footer_schema(glob_path)
        assert got is not None
        assert got == spark.read.parquet(glob_path).schema
    # Remote-looking paths and missing globs decline to the batch probe.
    assert _driver_footer_schema("s3a://bucket/events.parque*") is None
    assert _driver_footer_schema("/nonexistent-dir/events.parque*") is None


def test_stateful_user_totals(spark):
    events = read_events_stream(spark, SF_SMOKE)
    got = run_stream_to_table(
        user_totals_stateful(events), "user_totals_result", output_mode="update"
    )
    # Update mode re-emits a row per user per micro-batch; the final
    # state per user is the max n_events row.
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    batch = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert {r.user_id: r.n_events for r in final} == {
        r.user_id: r.n_events for r in batch
    }


def test_dedup_stream_drops_replayed_ids(spark):
    from big_data_spark.streaming import dedup_stream

    events = read_events_stream(spark, SF_SMOKE)
    # The source has unique event_ids; union the stream with itself
    # via double-read to simulate replay at the logical level instead:
    # dedup over the single read must keep exactly the distinct ids.
    deduped = run_stream_to_table(
        dedup_stream(events).groupBy("event_type").count(),
        "dedup_counts",
        output_mode="complete",
    )
    batch = (
        read_table(spark, SF_SMOKE, "events").groupBy("event_type").count()
    )
    assert sorted(map(tuple, deduped.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_foreachbatch_partitioned_sink_idempotent(spark, tmp_path):
    from big_data_spark.io.manifest import latest_manifest
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.streaming.snapshot_sink import snapshot_sink

    out = str(tmp_path / "out")
    for run in range(2):
        # Fresh checkpoint each run = a full replay; the batch id is
        # the snapshot id, replace-committed, so the replay converges
        # (no duplication).
        events = read_events_stream(spark, SF_SMOKE)
        snapshot_sink(
            events.select("event_id", "ts", "event_type"),
            out,
            checkpoint=str(tmp_path / f"ckpt{run}"),
            partition_by="event_type",
        )
    written = read_snapshot(spark, out)
    source = read_table(spark, SF_SMOKE, "events")
    assert written.count() == source.count()
    assert written.select("event_id").distinct().count() == source.count()
    man = latest_manifest(spark, out)
    assert man["layout_by"] == "event_type"
    assert man["format_version"] == 1
    # Each generation is laid out in one dir per event_type.
    import glob

    laid_out = {
        p.rsplit("=", 1)[1]
        for p in glob.glob(f"{out}/_data/s=*/event_type=*")
    }
    assert laid_out == {
        r["event_type"] for r in source.select("event_type").distinct().collect()
    }


def test_multi_batch_stream_and_sink(spark, tmp_path):
    """Multiple micro-batches: aggregation parity and the snapshot
    sink keeping every batch's rows (one appended generation per
    batch, so batch N never replaces batch N-1's rows for shared
    partition values)."""
    from big_data_spark.io.manifest import snapshot_ids
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.streaming.snapshot_sink import snapshot_sink

    src = str(tmp_path / "events_src")
    events = read_table(spark, SF_SMOKE, "events")
    # Three files -> three micro-batches at maxFilesPerTrigger=1.
    # read_table already normalized ts to nanosecond longs, so the
    # re-written source is int64 and the footer schema is the stream
    # schema (file streams cannot infer).
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("event_time", F.timestamp_seconds(F.expr("ts div 1000000000")))
    )
    out = str(tmp_path / "sink")
    snapshot_sink(
        stream.select("event_id", "event_type"),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        partition_by="event_type",
    )
    written = read_snapshot(spark, out)
    assert written.count() == events.count()
    assert written.select("event_id").distinct().count() == events.count()
    # event_type partitions certainly overlap across batches; prove
    # more than one batch actually ran.
    assert len(snapshot_ids(spark, out)) >= 2


def test_stream_stream_join_multi_batch_matches_single(spark, tmp_path):
    """The watermarked purchase-click interval join must produce the
    same pairs whether the source arrives as one batch or as three
    micro-batches (matches split across batch boundaries exercise the
    join state store)."""
    from big_data_spark.streaming import (
        purchase_click_join_stream,
        read_events_stream,
        run_stream_to_table,
    )

    single = run_stream_to_table(
        purchase_click_join_stream(read_events_stream(spark, SF_SMOKE)),
        "ssj_single",
        output_mode="append",
    )
    want = sorted(tuple(r) for r in single.collect())
    assert want, "expected at least one purchase-click pair at smoke sf"

    # Ordered arrival: three time-ranged files with increasing mtimes
    # (the file source triggers oldest-first). Random row-to-file
    # assignment would be WRONG here — batch 1 would advance the
    # watermark to near max(ts) and every later batch would be
    # dropped as late; a watermark stream assumes roughly time-ordered
    # arrival, which is what a production file drop looks like.
    import time as _time

    src = str(tmp_path / "events_src")
    events = read_table(spark, SF_SMOKE, "events")
    t1, t2 = (
        events.selectExpr(
            "percentile(ts, 0.33) AS t1", "percentile(ts, 0.66) AS t2"
        )
        .first()
    )
    chunks = [
        events.filter(F.col("ts") <= t1),
        events.filter((F.col("ts") > t1) & (F.col("ts") <= t2)),
        events.filter(F.col("ts") > t2),
    ]
    for chunk in chunks:
        chunk.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("event_time", F.timestamp_seconds(F.expr("ts div 1000000000")))
    )
    multi = run_stream_to_table(
        purchase_click_join_stream(stream), "ssj_multi", output_mode="append"
    )
    assert sorted(tuple(r) for r in multi.collect()) == want


def test_stream_static_enrichment_join(spark):
    """Stream-static join: each micro-batch joins against a static
    dim (re-read per batch, broadcastable) — the enrichment shape for
    a streaming pipeline."""
    static_dim = (
        read_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("user_bucket", (F.col("user_id") % 3).cast("int"))
    )
    stream = read_events_stream(spark, SF_SMOKE)
    enriched = stream.join(static_dim, on="user_id").groupBy("user_bucket").count()
    got = run_stream_to_table(enriched, "enriched_counts", output_mode="complete")
    batch = (
        read_table(spark, SF_SMOKE, "events")
        .withColumn("user_bucket", (F.col("user_id") % 3).cast("int"))
        .groupBy("user_bucket")
        .count()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_process_encodings_match_batch(spark, tmp_path):
    """SURVEY §7.2.9 stretch: part-1 encodings over a live stream ==
    batch encoder, via shared post-aggregation expressions. Session
    windows only emit in append mode once the watermark passes, so a
    far-future heartbeat event flushes the tail sessions — the
    production pattern for finite replays."""
    import os
    import time as _time

    from big_data_spark.datagen import generate_logs
    from big_data_spark.functions.tree import process_encodings
    from big_data_spark.streaming.processes_stream import (
        process_encodings_stream,
        read_logs_stream,
    )

    logs = generate_logs(spark, n_trees=4, n_processes=30, seed=3)
    src = str(tmp_path / "logs_src")
    logs.repartition(2).write.mode("overwrite").parquet(src)
    # Heartbeat: one event far past every session + watermark delay,
    # written later so the file source processes it in a later batch.
    _time.sleep(0.05)
    hb = spark.createDataFrame(
        [("user", "S0", "Request", 10_000_000, "_heartbeat_")],
        schema=logs.schema,
    )
    hb.coalesce(1).write.mode("append").parquet(src)
    newest = max(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    future = _time.time() + 60
    os.utime(newest, (future, future))

    stream = read_logs_stream(spark, src, max_files_per_trigger=1)
    out = run_stream_to_table(
        process_encodings_stream(stream, gap="1 minute", watermark="1 second"),
        "stream_encodings",
        output_mode="append",
    )
    got = {
        r.process_id: (r.request_path, r.euler_string)
        for r in out.filter(F.col("process_id") != "_heartbeat_").collect()
    }
    want = {
        r.process_id: (r.request_path, r.euler_string)
        for r in process_encodings(
            spark.read.parquet(src).filter(F.col("process_id") != "_heartbeat_")
        ).collect()
    }
    assert got == want


def test_sliding_window_multi_batch_matches_batch(spark, tmp_path):
    """Sliding windows (2 h / 1 h slide): every event lands in exactly
    two buckets, and the drained result is identical whether the
    source arrives as one batch or three micro-batches."""
    from big_data_spark.streaming import sliding_counts_stream, run_stream_to_table

    events = read_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "ev_src")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("event_time", F.timestamp_seconds(F.expr("ts div 1000000000")))
    )
    multi = run_stream_to_table(
        sliding_counts_stream(stream), "sliding_multi"
    )
    # Batch twin: same window spec on the static table.
    batch = (
        events.withColumn(
            "event_time", F.timestamp_seconds(F.expr("ts div 1000000000"))
        )
        .groupBy(F.window("event_time", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert sorted(map(tuple, multi.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # Two buckets per event exactly.
    total = multi.agg(F.sum("n_events")).collect()[0][0]
    assert total == 2 * events.count()
