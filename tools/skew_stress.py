#!/usr/bin/env python
"""Skewed-corpus stress proof for the dedup path (PERF.md round 6).

Builds a documents table with DELIBERATE hot spots — the two skew
modes a 100 TB web corpus actually exhibits — then runs the two
pair-emitting dedup queries over it and reports per-task max/median
durations for the heaviest stages, pulled from Spark's own REST
status API (a UI-enabled session; no plan changes, no extra
instrumentation in the queries):

  * hot SHINGLE: one boilerplate sentence appended to ``hot_frac`` of
    every document (cookie banners, license footers). Its posting
    list is ~hot_frac x |corpus| — far over NGRAM_POSTING_CAP, so the
    cap must drop it BEFORE the posting self-join or that one shingle
    contributes (hot_frac x n)^2/2 of the pairs.
  * hot BAND BUCKET: ``clones`` verbatim copies of one document
    (mirrored pages). All land in the same MinHash band buckets, so
    the candidate generator must survive a clones^2/2-pair bucket —
    AQE skew handling plus the exact-verify join carry it.

The verdict criterion: NO 10x straggler — max task duration within
10x of the stage median on every heavy stage (scheduling floor aside:
stages whose max is under 1 s are floor-bound, not skew-bound).

Usage: python tools/skew_stress.py [sf_dir] [hot_frac] [clones]
Defaults: /root/testdata/sf0.1  0.3  500
Prints a markdown table (for PERF.md) plus a PASS/FAIL line; rc=1 on
a straggler.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from big_data_spark.session import get_spark, quiet_logs, stop_spark  # noqa: E402

HOT_SENTENCE = (
    "all rights reserved see terms of service for details about cookies"
)


def build_skewed_corpus(spark, sf_dir: str, out: str, hot_frac: float, clones: int):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    hot = docs.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 1000) < int(hot_frac * 1000),
            F.concat(F.col("text"), F.lit(" " + HOT_SENTENCE)),
        ).otherwise(F.col("text")),
    )
    one = docs.orderBy("doc_id").limit(1).select("text", "lang", "source")
    cloned = (
        spark.range(clones)
        .crossJoin(F.broadcast(one))
        .select(
            (F.col("id") + F.lit(n * 10)).alias("doc_id"),
            "text",
            "lang",
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    full = hot.unionByName(cloned)
    full.repartition(8).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return n + clones


def rest(ui: str, app_id: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
        return json.load(r)


def heavy_stages(ui: str, app_id: str, since_stage: int, top: int = 5):
    """(stage_id, name, n_tasks, median_ms, max_ms) for the `top`
    longest completed stages with id > since_stage."""
    stages = [
        s
        for s in rest(ui, app_id, "stages?status=complete")
        if s["stageId"] > since_stage
    ]
    stages.sort(key=lambda s: s.get("executorRunTime", 0), reverse=True)
    out = []
    for s in stages[:top]:
        sid, att = s["stageId"], s["attemptId"]
        try:
            q = rest(
                ui,
                app_id,
                f"stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
            )
            med, mx = q["executorRunTime"]
        except Exception:
            continue
        out.append(
            (
                sid,
                s["name"].split("\n")[0][:40],
                s["numCompleteTasks"],
                med / 1000.0,
                mx / 1000.0,
            )
        )
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    hot_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.3
    clones = int(sys.argv[3]) if len(sys.argv) > 3 else 500
    spark = get_spark(
        app_name="skew-stress", extra_conf={"spark.ui.enabled": "true"}
    )
    quiet_logs(spark)
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    with tempfile.TemporaryDirectory(prefix="skew_stress_") as work:
        n_docs = build_skewed_corpus(spark, sf_dir, work, hot_frac, clones)
        print(
            f"corpus: {n_docs} docs ({hot_frac:.0%} share one hot shingle, "
            f"{clones} verbatim clones) at {work}"
        )

        from big_data_spark.queries.llm import (
            q_dedup_minhash_lsh,
            q_dedup_ngram_jaccard,
        )

        results = []
        failures = []
        for name, fn in (
            ("dedup_ngram_jaccard", q_dedup_ngram_jaccard),
            ("dedup_minhash_lsh", q_dedup_minhash_lsh),
        ):
            last_stage = max(
                (s["stageId"] for s in rest(ui, app_id, "stages")), default=-1
            )
            t0 = time.perf_counter()
            n_pairs = fn(spark, work).count()
            wall = time.perf_counter() - t0
            rows = heavy_stages(ui, app_id, last_stage)
            results.append((name, wall, n_pairs, rows))
            for sid, sname, ntasks, med, mx in rows:
                if mx >= 1.0 and med > 0 and mx / med > 10.0:
                    failures.append(f"{name} stage {sid} ({sname}): {mx:.2f}s max vs {med:.2f}s median")

    print("\n| query | wall s | pairs | stage | tasks | task median s | task max s | max/med |")
    print("|---|---|---|---|---|---|---|---|")
    for name, wall, n_pairs, rows in results:
        for i, (sid, sname, ntasks, med, mx) in enumerate(rows):
            ratio = mx / med if med > 0 else float("inf")
            lead = f"{name} | {wall:.2f} | {n_pairs}" if i == 0 else " | | "
            print(
                f"| {lead} | {sid}: {sname} | {ntasks} | {med:.3f} | {mx:.3f} | {ratio:.1f}x |"
            )
    stop_spark(spark)
    if failures:
        print("\nFAIL — stragglers:\n" + "\n".join(failures))
        return 1
    print("\nPASS — no heavy stage has a >10x task straggler")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
