"""SparkSession factory.

Modernizes the reference's ``setup_spark.py`` (reference:
Src/setup_spark.py:7-16 — bare ``local[*]`` conf with everything else
default): we turn on AQE, Arrow, and tune shuffle partitioning so the
same code runs on ``local[N]`` for tests and on a real cluster
unchanged (only master/memory differ, which belong to spark-submit,
not code).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# One partition per core locally; on a real cluster AQE coalesces the
# initial number down after each shuffle, so a generous initial value
# is safe — small local values would under-parallelize a big cluster.
_DEFAULT_SHUFFLE_PARTITIONS = max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8)

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_package_pythonpath() -> None:
    """Prepend the repo root to PYTHONPATH so Python workers (which
    deserialize our mapInPandas/applyInPandas kernels by module
    reference) can import big_data_spark regardless of driver cwd.
    Must run BEFORE the JVM launches — workers inherit the JVM's env."""
    existing = os.environ.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{PACKAGE_ROOT}{os.pathsep}{existing}" if existing else PACKAGE_ROOT
        )


def ensure_executor_package(spark: SparkSession) -> None:
    """Make big_data_spark importable on executors of an ALREADY
    RUNNING session (env exports are too late once the JVM is up):
    ship the package as a zip via addPyFile, once per session."""
    sc = spark.sparkContext
    if getattr(sc, "_big_data_spark_shipped", False):
        return
    import shutil
    import tempfile

    zip_base = os.path.join(tempfile.gettempdir(), "big_data_spark_pkg")
    archive = shutil.make_archive(
        zip_base, "zip", root_dir=PACKAGE_ROOT, base_dir="big_data_spark"
    )
    sc.addPyFile(archive)
    sc._big_data_spark_shipped = True


def get_spark(
    app_name: str = "big_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for analytic workloads.

    Scale notes (100 TB design intent):
    - AQE on: runtime partition coalescing + skew-join splitting means
      the static ``shuffle.partitions`` only needs to be an upper
      bound, and skewed join keys (hot servers, hot join keys) are
      split automatically.
    - Arrow on: every pandas-UDF boundary is columnar-batched instead
      of row-pickled.
    - ``files.maxPartitionBytes`` left at 128m: scan parallelism
      follows data volume, which is exactly what we want at scale.
    """
    export_package_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which carries NO footer min/max statistics — every
        # timestamp-range scan reads every file. TIMESTAMP_MICROS is
        # the modern spec encoding (Iceberg/Delta require it) and is
        # what makes typed data skipping work on event-time
        # predicates — the single most common pruning column at scale.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Self-joins after LSH and iterative connected components build
        # deep plans; raise the codegen fallback threshold noise.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # InferFiltersFromGenerate copies the ENTIRE generator
        # expression into inferred IsNotNull/size>0 filters; with the
        # big higher-order shingle/band expressions this engine
        # explodes, re-canonicalizing those giant predicates costs ~2 s
        # of optimizer time PER QUERY PLANNING (measured: the ngram
        # posting chain plans in 0.4 s without the rule, 2.6 s with).
        # The rule only adds row-pruning hints — results are identical
        # without it, and our generators sit directly above the project
        # that builds their input, so there is nothing upstream for the
        # inferred filter to prune.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Catalyst compiles each plan's generated Java with Janino and
        # keeps the classes in an LRU keyed on the source text, capped
        # at 100 by default. One pipeline pass (perfbench
        # pipeline_diverse) uses ~300-330 distinct classes and one
        # table-lifecycle + registry pass (lake_registry) ~210-245,
        # visited in the same order every pass: at 100 the LRU never
        # hits, so every pass recompiled all of them (third pass: 319
        # and 236 compiles). 1,000 holds the largest working set
        # measured in one JVM, 531 classes for three passes of each
        # interleaved (1,645 compiles at 100); a repeated pass then
        # compiles 0-26. Cost after a full GC, same session: heap
        # +11 MB (264 -> 274), metaspace +3 MB (181 -> 184).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def driver_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``rows`` held on the driver as a ONE-partition DataFrame. The
    list form of createDataFrame slices even a handful of rows into
    defaultParallelism near-empty partitions, so every action over it
    runs that many tasks; one slice runs one task, with the same
    per-row type conversion (it runs in that task). ``coalesce(1)``
    adds no task: it tells the planner the frame is one partition, so
    an aggregate over it (a count, a groupBy) needs no shuffle job."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    ).coalesce(1)


def quiet_logs(spark: SparkSession) -> None:
    """Tool-session log scoping: overall level ERROR, and the
    DAGScheduler logger to FATAL. Micro-batch teardown of streaming
    queries intermittently logs a benign one-burst ERROR stack
    ("attempted to access non-existent accumulator") when state-store
    task completions race the just-stopped query's accumulator
    unregistration; it is pure noise in tool output (every REAL
    failure surfaces through the tool's own rc / per-query error
    capture). Shared here so bench.py, plan_audit.py and the test
    session all benefit (a bench-local fix left plan_audit's
    output with the same stack)."""
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:  # noqa: BLE001 — logging config must never fail a run
        pass


def stop_spark(spark: SparkSession) -> None:
    """Teardown that never races streaming state: stop every active
    streaming query (awaiting termination) BEFORE dropping the
    session, so late state-store accumulator updates can't land on a
    torn-down scheduler."""
    try:
        for q in spark.streams.active:
            q.stop()
            q.awaitTermination(30)
    except Exception:  # noqa: BLE001 — teardown must never mask results
        pass
    spark.stop()
