#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <dir>}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_spark.session import get_spark, quiet_logs, stop_spark  # noqa: E402
from big_data_spark.queries import QUERIES_ALL as QUERIES  # noqa: E402

# Representative of every operator family: scan-agg, multiway join,
# window, sessionization, JSON, exact + LSH dedup, simhash, text
# analysis, embedding similarity, graph iteration (round 6:
# pagerank_topn + the pair->cluster closure dedup_clusters).
HEADLINE = [
    "pricing_summary",
    "join_multiway",
    "window_running_sum",
    "window_latest_order",
    "events_sessionize",
    "events_json",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "simhash",
    "text_stats",
    "lang_id",
    "embedding_topk",
    "embedding_neardup",
    "dedup_semantic",
    "ann_hyperplane_lsh",
    "corpus_clean",
    "asof_join",
    "range_join_bands",
    "merge_upsert",
    "cdc_apply",
    "dq_report",
    "media_byte_stats",
    "media_frame_sample",
    "stream_hourly",
    "pagerank_topn",
    "dedup_clusters",
    # Round 7: the training-export family earns a headline slot.
    # The snapshot-table rows (sql_snapshot_asof, point_lookup,
    # snapshot_changes, snapshot_delete) stay OUT of the headline on
    # purpose: their timed body is mostly building the versioned
    # table + index inside the query, which their raw-parquet DuckDB
    # oracles don't do — a wall-clock comparison would measure the
    # harness, not the plan. Their cost evidence lives in PERF.md
    # (write-amplification and skip-ratio A/Bs) instead.
    "pack_sequences",
    # Round 13 (round-12 verdict directive #4): the lakehouse hot
    # paths enter the headline as BENCH-LOCAL rows whose fixture (a
    # range-clustered orders snapshot table + catalog registration)
    # builds ONCE per process during the untimed priming run — the
    # timed body is purely the read/aggregate/merge, so these numbers
    # track the table-format code, not fixture construction.
    # Baselines in PERF.md (round-13 section).
    "lake_pruned_read",
    "lake_metadata_agg",
    "lake_merge",
]

# ---- bench-local lakehouse rows (not registry queries: they share a
# prebuilt fixture, which the driver's per-query oracle harness
# cannot; the registry twins partitioned_prune / metadata_aggregates /
# merge_upsert carry the correctness certification). ----

_LAKE_FIX: dict = {}


def _lake(spark, sf_dir):
    """Once per (process, sf_dir): a 32-file range-clustered orders
    snapshot table with commit-time stats, registered in a catalog.
    Built during the untimed priming pass."""
    if sf_dir in _LAKE_FIX:
        return _LAKE_FIX[sf_dir]
    import hashlib
    import shutil

    from pyspark.sql import functions as F

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.snapshot import write_snapshot
    from big_data_spark.queries.relational import fixture_dir

    # fixture_dir keys by (prefix, sf, pid) AND reaps dead siblings —
    # past bench processes' leftover tables don't accumulate.
    t = fixture_dir("bds_bench_lake", sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    shutil.rmtree(t, ignore_errors=True)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    write_snapshot(orders.repartitionByRange(32, "o_orderkey"), t)
    cat = SnapshotCatalog(spark, versions="lazy")
    name = f"bench_lake_{tag}"
    cat.register(name, t)
    _LAKE_FIX[sf_dir] = (t, cat, name)
    return _LAKE_FIX[sf_dir]


def lake_pruned_read(spark, sf_dir):
    """Range predicate on the clustered key: the manifest-stats prune
    decides from sidecars which of the 32 files to open (most drop),
    then aggregates the survivors."""
    from pyspark.sql import functions as F

    from big_data_spark.io.snapshot import read_snapshot

    t, _, _ = _lake(spark, sf_dir)
    return read_snapshot(
        spark, t, predicate={"o_orderkey": (500_000.0, 520_000.0)}
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_totalprice").alias("total"),
    )


def lake_metadata_agg(spark, sf_dir):
    """The planning-query shape through the SQL door: answered
    entirely from manifest metadata (round-13 fast path) — the row
    measures the driver-side metadata fold, and raises if the fast
    path ever silently falls through to a scan."""
    _, cat, name = _lake(spark, sf_dir)
    df = cat.sql(
        f"SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, "
        f"MAX(o_orderkey) AS hi, SUM(o_custkey) AS s, "
        f"AVG(o_custkey) AS a FROM {name}"
    )
    if df.inputFiles():
        raise AssertionError(
            "lake_metadata_agg: fast path fell through to a scan"
        )
    return df


def lake_merge(spark, sf_dir):
    """SQL MERGE INTO through the catalog: a 10k-key upsert source
    (prices bumped, matched->UPDATE, unmatched->INSERT) against the
    clustered table — COW rewrite of only the touched files plus the
    view refresh, the steady-state CDC-apply shape."""
    t, cat, name = _lake(spark, sf_dir)
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "CAST(o_totalprice AS DOUBLE) + 1.0 AS o_totalprice",
    ).limit(10_000)
    src.createOrReplaceTempView("bench_lake_src")
    cat.sql(
        f"MERGE INTO {name} AS t USING bench_lake_src AS s "
        f"ON t.o_orderkey = s.o_orderkey "
        f"WHEN MATCHED THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
    return spark.range(1).selectExpr("id AS done")


LAKE_ROWS = {
    "lake_pruned_read": lake_pruned_read,
    "lake_metadata_agg": lake_metadata_agg,
    "lake_merge": lake_merge,
}


def main() -> None:
    runners = {**QUERIES, **LAKE_ROWS}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Iteration/noise-study aid: run a comma-separated subset of the
    # headline list. The driver never sets this, so the recorded
    # BENCH_r{N}.json is always the full suite.
    only = [n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if n]
    headline = [n for n in HEADLINE if n in only] if only else HEADLINE
    # One shuffle partition per core (the session default): fewer
    # helps latency-bound tiny queries by shrinking AQE's coalesce
    # loop, but starves the CPU-bound stages (posting-list join,
    # per-token aggs) of parallelism — measured 117s at 8 partitions
    # vs 31s at 32 on this suite. SPARK_GRAFT_BENCH_SHUFFLE overrides.
    override = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE")
    spark = get_spark(
        app_name="big_data_spark-bench",
        shuffle_partitions=int(override) if override else None,
    )
    # Shared tool-session log scoping (session.quiet_logs): rc and
    # the JSON line (incl. the `errors` field, which records every
    # REAL per-query failure from the try/except below) carry the
    # actual signal; the known benign teardown stack is muted.
    quiet_logs(spark)
    timings: dict[str, float] = {}
    # Warm the JVM + parquet footers once so timings measure the
    # queries, not session startup. Warm-up failures are per-query
    # problems the timed loop will record — never fatal here.
    try:
        QUERIES["pricing_summary"](spark, sf_dir).count()
    except Exception:
        pass
    # Pre-fork the Python worker pool (reused daemons): the first
    # pandas-UDF query otherwise pays worker startup for the whole
    # executor, which is session overhead, not query cost.
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    # Compile each query's plan once against the tiny smoke SF: the
    # Catalyst + Janino (whole-stage codegen) compile is keyed on the
    # generated source, so the timed sf run below measures EXECUTION
    # with a warm code cache — the steady state of a long-lived
    # cluster — instead of folding ~0.5-1 s of one-time JIT per query
    # into the number. The classes compiled here are still cached when
    # each row's turn comes because get_spark sizes the code cache at
    # 1,000 classes: the priming runs below then compile 21 classes
    # over the suite. At Spark's default of 100 only the last row or
    # two survived, and the priming runs recompiled 596.
    warm_sf = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_sf):
        for name in headline:
            try:
                runners[name](spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # a query that cannot warm still gets timed cold
    # Fault isolation: one broken query records an error entry instead
    # of killing the run (round-3 lesson: a single AnalysisException
    # left the whole round with no benchmark). Median-of-3 per query
    # so a stray GC pause or compilation hiccup can't masquerade as a
    # per-query regression.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    errors: dict[str, str] = {}
    spreads: dict[str, list[float]] = {}
    # Janino compiles during each row's timed repeats: with the code
    # cache warm these read 0 or close to it.
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles: dict[str, int] = {}
    try:
        for name in headline:
            runs: list[float] = []
            try:
                # One untimed priming run at the TARGET sf: the
                # sf0.001 warm-up compiles the plan shape, but the
                # first sf-dir execution still pays codepath-specific
                # JIT + page-cache fill. Steady state is the contract
                # (see the warm-up comment above), so exclude it.
                runners[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                # GC settle (untimed): the previous query's garbage
                # otherwise bills THIS query's median — measured +0.3 s
                # on media_frame_sample right after a heavy shuffle
                # query (PERF.md round-5 noise study).
                spark._jvm.System.gc()
                time.sleep(0.2)
                compiled = codegen.METRIC_COMPILATION_TIME().getCount()
                for _ in range(repeats):
                    start = time.perf_counter()
                    df = runners[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    runs.append(time.perf_counter() - start)
                compiles[name] = (
                    codegen.METRIC_COMPILATION_TIME().getCount() - compiled
                )
                timings[name] = round(statistics.median(runs), 3)
                # min/median/max per query: round-over-round
                # regressions become attributable to variance (or not)
                # without a re-run.
                spreads[name] = [
                    round(min(runs), 3),
                    round(statistics.median(runs), 3),
                    round(max(runs), 3),
                ]
            except Exception as exc:  # noqa: BLE001 — record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        total = round(sum(timings.values()), 3)
        record: dict = {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "query_runs": spreads,
            "codegen_compiles": compiles,
            "sf": sf_dir,
        }
        if errors:
            record["errors"] = errors
        print(json.dumps(record))
        # The driver records the stdout TAIL; a truncated capture of
        # the full record above lost round 13's headline number
        # entirely (BENCH_r13.json "parsed": null). Emit a COMPACT
        # summary line LAST — headline + per-query medians, no
        # query_runs spreads — so the tail always ends in one short
        # complete JSON line whatever the capture window.
        compact: dict = {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_dir,
        }
        if errors:
            compact["errors"] = {
                k: v[:80] for k, v in errors.items()
            }
        print(json.dumps(compact))
    # Streams stopped before session drop (round-5 verdict item),
    # now via the shared session.stop_spark helper.
    stop_spark(spark)


if __name__ == "__main__":
    main()
