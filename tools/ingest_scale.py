#!/usr/bin/env python
"""Ingest-loop throughput curve: run the streaming dedup ingest
(streaming/ingest.py) over increasingly large duplicated event
streams and report rows/s — measured evidence that the Bloom-gated
path scales, to pair with the datagen pipeline curve in PERF.md.

Usage: python tools/ingest_scale.py [multipliers...]   (default 1 4 16)
Each multiplier M streams M x |events(sf0.1)| rows (half duplicates)
through 4 micro-batches into a fresh lake.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from big_data_spark.session import get_spark, quiet_logs, stop_spark  # noqa: E402
from big_data_spark.streaming.ingest import read_lake, run_dedup_ingest  # noqa: E402


def main_neardup(args: list[str]) -> None:
    """Near-dup incremental-ingest curve: constant-size batches into a
    growing index. The claim under test: per-batch wall time tracks
    BATCH size, not corpus size — vs the batch path, which re-bands
    the whole corpus every run (also timed, at the final corpus size,
    for the ratio).

    Usage: python tools/ingest_scale.py neardup [n_batches] [batch_rows]
    """
    import shutil

    n_batches = int(args[0]) if args else 8
    batch_rows = int(args[1]) if len(args) > 1 else 0  # 0 = derive
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ingest-scale-neardup")
    quiet_logs(spark)
    from pyspark.sql.window import Window

    from big_data_spark.lineage import truncate_lineage
    from big_data_spark.operators.components import connected_components
    from big_data_spark.queries.llm import minhash_lsh_pairs
    from big_data_spark.streaming.neardup_ingest import (
        ingest_neardup_batch,
        read_neardup_clusters,
    )

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    if not batch_rows:
        batch_rows = -(-raw.count() // n_batches)  # ceil: use ALL docs
    docs = truncate_lineage(
        raw.withColumn(
            "_b",
            F.floor(
                (F.row_number().over(Window.orderBy("doc_id")) - 1)
                / batch_rows
            ).cast("int"),
        ),
        eager=True,
    )
    total = min(docs.count(), n_batches * batch_rows)
    work = tempfile.mkdtemp(prefix="neardup_scale_")
    idx = f"{work}/index"
    times = []
    for b in range(n_batches):
        batch = docs.filter(F.col("_b") == b).drop("_b")
        t0 = time.time()
        counts = ingest_neardup_batch(batch, idx, b)
        dt = time.time() - t0
        times.append(dt)
        print(
            f"batch {b}: corpus={b * batch_rows} +{counts['new_docs']} docs, "
            f"{counts['new_pairs']} pairs, {counts['merges']} merges, {dt:.2f}s"
        )
    # Batch-path cost at the FINAL corpus size (what a naive re-run
    # pays every batch).
    allb = docs.filter(F.col("_b") < n_batches).drop("_b")
    t0 = time.time()
    pairs = minhash_lsh_pairs(allb).select("doc_a", "doc_b")
    n_cc = connected_components(pairs, src="doc_a", dst="doc_b").count()
    batch_dt = time.time() - t0
    n_idx = read_neardup_clusters(spark, idx).count()
    print(
        f"\nper-batch s (corpus 0 -> {total}): "
        + " ".join(f"{t:.2f}" for t in times)
    )
    print(
        f"first->last batch ratio: {times[-1] / times[0]:.2f}x over a "
        f"{n_batches}x corpus growth; full batch re-run at final size: "
        f"{batch_dt:.2f}s ({n_cc} clustered docs; index holds {n_idx})"
    )
    shutil.rmtree(work, ignore_errors=True)
    stop_spark(spark)


def main() -> None:
    if sys.argv[1:] and sys.argv[1] == "neardup":
        main_neardup(sys.argv[2:])
        return
    mults = [int(m) for m in sys.argv[1:]] or [1, 4, 16]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ingest-scale")
    quiet_logs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    base_n = ev.count()
    for m in mults:
        with tempfile.TemporaryDirectory(prefix="ingest_scale_") as work:
            # M copies with distinct ids for half, duplicate ids for half:
            # every batch carries both fresh and already-seen keys.
            src = (
                spark.range(m)
                .crossJoin(ev)
                .select(
                    F.when(
                        F.col("id") % 2 == 0,
                        F.col("event_id") + F.col("id") * base_n,
                    )
                    .otherwise(F.col("event_id"))
                    .alias("event_id"),
                    "user_id",
                    "event_type",
                    "value",
                )
            )
            src.repartition(4).write.parquet(f"{work}/src")
            stream = (
                spark.readStream.schema(
                    "event_id bigint, user_id bigint, event_type string, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{work}/src")
            )
            t0 = time.time()
            run_dedup_ingest(stream, "event_id", f"{work}/lake", f"{work}/ck")
            dt = time.time() - t0
            n_in = base_n * m
            n_out = read_lake(spark, f"{work}/lake").count()
            print(
                f"mult={m}: {n_in} rows in, {n_out} unique out, "
                f"{dt:.1f}s, {int(n_in / dt)} rows/s"
            )
            assert n_out == base_n * ((m + 1) // 2), (n_out, m, base_n)
    stop_spark(spark)


if __name__ == "__main__":
    main()
