"""Sources (SURVEY.md §2.1 S1-S4).

The reference reads schema-inferred JSON (reference: Src/main.py:20),
which costs a full extra pass over the data and silently tolerates
malformed rows. We always pass an explicit schema; JSON logs are read
PERMISSIVE-with-quarantine (the reference's committed sample files end
rows with ",\n" — Src/data.py:156-159 — so strict FAILFAST would
reject the reference's own data) and the quarantine column lets
callers fail loudly if anything else is malformed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from big_data_spark.schemas import LOGS_SCHEMA, TESTDATA_SCHEMAS

_CORRUPT = "_corrupt_record"

# Timestamp columns may arrive as TIMESTAMP (isAdjustedToUTC) or
# TIMESTAMP_NTZ (pandas/arrow writers) depending on the generator;
# the engine treats the wall clock as UTC either way.  ``events.ts``
# additionally tolerates the legacy INT64 TIMESTAMP(NANOS) layout,
# which Spark 4 can only surface as raw nanosecond longs.
_TS_TYPES = (TimestampType, TimestampNTZType)


def assert_testdata_schema(name: str, actual: StructType) -> None:
    """Fail LOUDLY if a testdata parquet's schema drifts from
    TESTDATA_SCHEMAS.

    A physical-type drift that merely *coerces* (e.g. a long schema
    applied to microsecond timestamps) produces silently wrong answers
    a thousand rows deep — this check makes that mode structurally
    impossible by rejecting anything but the two known ts encodings.
    """
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is None:
        return
    if [f.name for f in actual.fields] != [f.name for f in expected.fields]:
        raise ValueError(
            f"testdata table {name!r}: column drift — expected "
            f"{[f.name for f in expected.fields]}, got "
            f"{[f.name for f in actual.fields]}"
        )
    for exp, act in zip(expected.fields, actual.fields):
        if exp.dataType == act.dataType:
            continue
        if isinstance(exp.dataType, _TS_TYPES):
            if isinstance(act.dataType, _TS_TYPES):
                continue  # NTZ vs LTZ: both read as UTC wall clock
            if (
                name == "events"
                and exp.name == "ts"
                and isinstance(act.dataType, LongType)
            ):
                # Legacy INT64 TIMESTAMP(NANOS) via nanosAsLong — ONLY
                # for events.ts, the one column normalize_event_ts
                # canonicalizes; a long-encoded timestamp anywhere
                # else has no normalizer and must fail loudly.
                continue
        raise ValueError(
            f"testdata table {name!r}: column {exp.name!r} has physical "
            f"type {act.dataType.simpleString()}, expected "
            f"{exp.dataType.simpleString()} — refusing to misparse"
        )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Return events with ``ts`` as epoch-NANOSECOND longs regardless
    of the on-disk encoding (timestamp[us|ns] or raw nanos longs).

    The whole engine (and its DuckDB oracles, which see timestamps)
    speaks nanosecond longs for ``ts``; sub-second precision matters
    (the as-of join works in microseconds), so this multiplies micros
    up rather than truncating to seconds.

    SIDE EFFECT: pins ``spark.sql.session.timeZone`` to UTC on the
    DataFrame's session (read_table does the same — see its
    docstring). The NTZ->epoch cast below reads the wall clock in the
    session zone, so a non-UTC session would silently shift every
    timestamp; since this helper is exported for standalone use, it
    pins the zone itself rather than trusting the caller went through
    read_table.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, _TS_TYPES):
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def read_logs_json(
    spark: SparkSession, path: str, fail_on_corrupt: bool = True
) -> DataFrame:
    """Read event-log JSON lines with the pinned LOGS_SCHEMA.

    Tolerates the reference's trailing-comma lines; any row that is
    malformed beyond that raises (default) or is dropped.
    """
    schema = StructType(
        list(LOGS_SCHEMA.fields) + [StructField(_CORRUPT, StringType(), True)]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .json(path)
    )
    # Trailing-comma rows parse fine for all declared fields but are
    # flagged corrupt; treat "ALL declared fields present" as clean —
    # requiring just one field would let a row with a corrupt
    # time/action/state but valid process_id slip through as nulls.
    all_fields_present = F.lit(True)
    for field in LOGS_SCHEMA.fields:
        all_fields_present = all_fields_present & F.col(field.name).isNotNull()
    clean = F.col(_CORRUPT).isNull() | all_fields_present
    if fail_on_corrupt:
        bad = df.filter(~clean)
        if not bad.isEmpty():
            sample = [r[_CORRUPT] for r in bad.select(_CORRUPT).head(3)]
            raise ValueError(f"malformed log rows, e.g. {sample}")
    return df.filter(clean).drop(_CORRUPT)


# (session id, sf_dir, table) -> analyzed DataFrame; see read_table.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata parquet table (TESTDATA.md).

    The generator has shipped ``events.ts`` as both INT64
    TIMESTAMP(NANOS) (readable in Spark 4 only via the nanosAsLong
    legacy conf, as raw nanosecond longs) and plain ``timestamp[us]``;
    accept both, assert everything else, and hand callers a single
    canonical shape (``ts`` = epoch-nanosecond long, UTC).

    SIDE EFFECT (session-global, by design): pins
    ``spark.sql.session.timeZone`` to UTC and enables the parquet
    nanosAsLong legacy conf on the caller's session. The engine's
    timestamp arithmetic and its DuckDB oracle parity are defined in
    UTC wall clock; any caller rendering timestamps in a local zone
    on the same session will see that change. Use a dedicated session
    if you need a non-UTC display zone alongside these readers.

    The analyzed DataFrame is memoized per (session, sf_dir, name):
    ``spark.read.parquet`` costs ~75 ms of file listing + footer
    schema read EVERY call, and a multi-table query re-pays it per
    table per construction. DataFrames are immutable so reuse is
    safe; the cached entry holds its session ref, so a session's
    id() cannot be recycled while its entries live. (The conf pins
    above still run on every call — they are the documented side
    effect, and a caller may have changed them in between.)
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The engine's timestamp arithmetic (and its DuckDB oracle parity)
    # assumes UTC wall clocks; pin it for caller-provided sessions too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    assert_testdata_schema(name, df.schema)
    if name == "events":
        df = normalize_event_ts(df)
    _TABLE_CACHE[key] = df
    return df


def parallelize_small_scan(
    df: DataFrame, max_bytes: int = 256 << 20
) -> DataFrame:
    """Spread a SMALL, unsplittable scan across the cluster before
    compute-heavy narrow work (per-token md5, shingling).

    A single-row-group parquet file yields exactly one scan partition,
    so everything narrow downstream runs on one core while 31 idle.
    Repartitioning fixes that — but a blind repartition would be a
    full-corpus shuffle at 100 TB, so this is size-gated: it only
    fires when the ENTIRE input is under ``max_bytes`` (cheap to
    shuffle by construction). At scale the gate never passes — a real
    corpus has thousands of files/row groups and the scan itself
    provides the parallelism — and unknown/remote sizes are treated
    as big, so the helper degrades to a no-op exactly when a shuffle
    could hurt.
    """
    import os
    from urllib.parse import urlparse

    try:
        total = 0
        files = df.inputFiles()
        if not files:
            return df
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return df  # remote store: scan splits are its job
            total += os.path.getsize(parsed.path or uri)
            if total >= max_bytes:
                return df
    except Exception:
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    if len(files) >= want:
        return df
    return df.repartition(want)


def table_footer_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a testdata parquet table from its FOOTER
    metadata — a driver-side read of a few KB, no Spark job, no
    data pages touched (the same ``num_rows`` Spark's own
    metadata-only count rules use; every invocation re-reads the
    footer, nothing is memoized across runs). ``None`` when the path
    is not a plain local single-file table or pyarrow is unavailable
    — callers fall back to a distributed ``count()``, which is also
    the right answer at real scale where the table is thousands of
    files and a driver-side footer sweep would serialize."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    if "://" in sf_dir or not os.path.isfile(path):
        return None
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(path).metadata.num_rows)
    except Exception:
        return None


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or tuple(TESTDATA_SCHEMAS)
    return {n: read_table(spark, sf_dir, n) for n in use}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
    fail_on_corrupt: bool = True,
) -> DataFrame:
    """CSV source with the same explicit-schema + quarantine contract
    as ``read_logs_json`` — never schema-inferred (inference costs a
    full extra pass and guesses types per-file at scale), never
    silently null-filling.

    ``fail_on_corrupt=True`` (default) probes the file for anything
    malformed (wrong arity, unparseable numerics/timestamps) and
    raises with samples; ``False`` drops the bad rows — ETL chooses
    loud or lossy explicitly, never silent. CSV is splittable when
    uncompressed, so large files still scan in parallel; schema and
    required-ness are asserted the same way on every split.

    The RETURNED plan never carries Spark's internal corrupt-record
    column: a plan whose only scan-referenced column is the corrupt
    one (e.g. ``read_csv(...).count()`` after column pruning) is
    rejected outright by Spark (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN), and the documented cache workaround pins
    a full dataset copy in executor memory for the session. Instead
    the loud path pays ONE eager validation scan (full-row projection
    keeps it legal, uncached so nothing is pinned) and returns a
    plain PERMISSIVE parse of the proven-clean file; the lossy path
    returns Spark's native DROPMALFORMED parse. Under column pruning
    DROPMALFORMED cannot observe malformedness in columns the query
    never reads — exactly the scale-friendly behavior (don't parse
    what you don't read).
    """
    reader = (
        spark.read.option("header", str(header).lower()).option("sep", sep)
    )
    if fail_on_corrupt:
        full = StructType(
            list(schema.fields) + [StructField(_CORRUPT, StringType(), True)]
        )
        probe = (
            reader.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
            .csv(path)
        )
        sample = probe.filter(F.col(_CORRUPT).isNotNull()).head(3)
        if sample:
            raise ValueError(
                f"malformed csv rows, e.g. {[r[_CORRUPT] for r in sample]}"
            )
        return reader.schema(schema).option("mode", "PERMISSIVE").csv(path)
    return reader.schema(schema).option("mode", "DROPMALFORMED").csv(path)


def read_pruned(
    spark: SparkSession,
    path: str,
    column: str | dict[str, tuple[float | None, float | None]],
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Parquet read with footer-statistics data skipping applied UP
    FRONT: only the files whose [min, max] interval for ``column``
    can possibly intersect ``lo <= column <= hi`` enter the scan.

    This closes the z-order/sort-layout loop into ONE call: write
    with ``compact_parquet(..., zorder_by=...)`` or
    ``repartitionByRange`` (io/compact.py), then read back through
    here — the manifest pruning an Iceberg/Delta reader performs,
    through the public reader instead of three manual steps
    (stats scan -> keep list -> read). Spark's own parquet filter
    pushdown still row-group-prunes WITHIN the kept files; this layer
    removes whole files from the FileIndex, which pushdown alone
    cannot do until it has already listed and footer-read every file
    per query.

    Scale: the footer sweep runs ON EXECUTORS (io/stats.py
    mapInPandas); only each file's folded bounds come back to the
    driver, which applies the one skip test (io/stats.keep_file) —
    bounded metadata, the same thing a table-format reader holds in
    memory when planning a scan. For a table re-read many times per
    session, the kept list amortizes exactly like a manifest cache.

    ``column`` is either one column name (with ``lo``/``hi``) or a
    dict ``{col: (lo, hi)}`` for a CONJUNCTION over several clustered
    columns — the multi-dimensional case Z-order layouts exist for
    (any one column's footer interval can veto a file).

    The predicate is applied as a filter on the result too — pruning
    is file-granular, so kept files still carry out-of-range rows; the
    residual filter makes the result exactly
    ``read(path).filter(lo <= column <= hi)`` (lossless-ness proven
    in tests/test_stats.py).
    """
    from big_data_spark.io.stats import (
        check_bound_types,
        prune_files_multi,
        range_predicate,
    )

    ranges = column if isinstance(column, dict) else {column: (lo, hi)}
    kept = [f for f, k in prune_files_multi(spark, path, ranges).items() if k]
    if kept:
        # basePath keeps hive-style partition columns in the schema
        # when the dataset is partitioned (without it a residual filter
        # on a partition column fails / diverges from the documented
        # full-scan-filter equivalence); harmless when the layout is
        # flat.
        df = spark.read.option("basePath", path).parquet(*kept)
    else:
        # Every file provably misses the range: empty result, real schema.
        df = spark.read.parquet(path).where(F.lit(False))
    check_bound_types(
        ranges, {f.name: f.dataType.simpleString() for f in df.schema.fields}
    )
    return df.filter(range_predicate(ranges))
