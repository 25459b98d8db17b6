"""Per-file Bloom index for exact-match file skipping on snapshot
tables — the point-lookup companion to footer min/max pruning.

Footer statistics (io/stats.py) skip files for RANGE predicates on
clustered layouts; they are useless for `key = 'x'` on a
high-cardinality column whose values spray across every file (every
footer interval contains every probe). Table formats answer that
with a per-file Bloom filter index: a tiny membership sketch per
data file, consulted at planning time, with the one-sided guarantee
that a file containing the key is NEVER skipped.

This module composes two things the engine already has:

- the Bloom sketch as a pure DataFrame composition
  (operators/bloom.py) — here keyed by ``input_file_name()``, so the
  index build is one map-side-combinable aggregate over one scan,
  JVM-side end to end, no Python in the row path;
- snapshot tables (io/snapshot.py) — the index itself is published
  as a snapshot table under ``<table>/_index/bloom__<col>``, so index
  builds are atomic, versioned, vacuumable, and carry a ``covers``
  column naming the table snapshot they indexed.

Staleness contract (probe time, pure manifest metadata — no file
listing): entries unchanged since the indexed snapshot probe through
the index; entries added/rewritten AFTER it are read in full
(conservative, never a false negative). Rebuild the index after
compaction or large appends to restore full skipping.

The 100 TB shape: the index is ~m/64 rows x 8 bytes per file (64 KiB
default, sparse less), built once per maintenance window; a point
probe broadcasts k = 5 hash positions against the index scan and
returns only matching file names to the driver — bounded metadata,
the same budget as a table-format manifest cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.operators.bloom import _probe_rows, bloom_build

_INDEX_DIR = "_index"


def bloom_index_path(table_dir: str, item_col: str) -> str:
    return f"{table_dir}/{_INDEX_DIR}/bloom__{item_col}"


def _bare(uri: str) -> str:
    """Scheme-insensitive path form — the shared snapshot-layer
    normalizer (comparison only, never I/O)."""
    from big_data_spark.io.layout import bare_path

    return bare_path(uri)


def bloom_index_build(
    df: DataFrame, item_col: str, m: int = 1 << 19, k: int = 5
) -> DataFrame:
    """(file, word, bits, m, k, item_type) Bloom rows for every data
    file behind ``df`` — one aggregate over one scan of just
    ``item_col``. ``df`` must be file-backed (parquet/orc/csv scans;
    ``input_file_name()`` is empty for in-memory sources — raise
    there rather than indexing everything under one '' file)."""
    item_type = dict(df.dtypes)[item_col]
    first = df.select(F.input_file_name().alias("file")).first()
    if first is not None and not first["file"]:
        raise ValueError(
            "bloom_index_build needs a file-backed DataFrame "
            "(input_file_name() is empty for in-memory sources)"
        )
    idx = bloom_build(
        df.select(F.input_file_name().alias("file"), item_col),
        ["file"],
        item_col,
        m=m,
        k=k,
    ).withColumn("item_type", F.lit(item_type))
    return idx


def write_bloom_index(
    spark: SparkSession,
    table_dir: str,
    item_col: str,
    m: int = 1 << 19,
    k: int = 5,
) -> int:
    """Build and atomically publish the Bloom index for the CURRENT
    snapshot of ``table_dir`` on ``item_col``. Returns the table
    snapshot id the index covers."""
    from big_data_spark.io.manifest import snapshot_ids
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import write_snapshot

    covers = snapshot_ids(spark, table_dir)[-1]
    base = read_snapshot(spark, table_dir, as_of=covers)
    idx = bloom_index_build(base, item_col, m=m, k=k).withColumn(
        "covers", F.lit(covers).cast("int")
    )
    write_snapshot(idx, bloom_index_path(table_dir, item_col))
    return covers


def _maybe_files(index: DataFrame, item_col: str, value) -> list[str]:
    """File URIs whose Bloom says 'maybe contains value' — never
    misses a file that holds it (no false negatives).

    This probes ONE value against EVERY key (file), the transposed
    shape of operators/bloom.py bloom_might_contain (many items, each
    against its own key) — there the filter side broadcasts; here the
    k probe positions broadcast and the index streams. The position
    derivation is shared (_probe_rows); only the bit test is local,
    and tests/test_fileindex.py pins verdict parity against
    bloom_might_contain so the two can't drift. m/k are read from the
    filter itself, so a parameter mismatch is impossible by
    construction."""
    spark = index.sparkSession
    row = index.select("m", "k", "item_type").first()
    if row is None:
        return []
    m, k, item_type = row["m"], row["k"], row["item_type"]
    probe = (
        spark.range(1)
        .select(F.lit(value).cast(item_type).alias("_v"))
        .select(_probe_rows("_v", m, k).alias("wb"))
        .select("wb.word", "wb.bit")
    )
    hits = (
        index.join(F.broadcast(probe), "word")
        .withColumn(
            "hit",
            F.expr("shiftright(bits, bit)").bitwiseAND(F.lit(1)).cast("int"),
        )
        .groupBy("file")
        .agg(F.sum("hit").alias("nhits"))
        .where(F.col("nhits") == F.lit(k))
    )
    return [r["file"] for r in hits.collect()]


def read_snapshot_point(
    spark: SparkSession,
    table_dir: str,
    item_col: str,
    value,
) -> DataFrame:
    """Point lookup through the Bloom file index: EXACTLY
    ``read_snapshot(...).filter(col == value)`` (lossless — the
    index has no false negatives; a residual filter removes the
    false positives), but the scan opens only the files whose Bloom
    matches, plus any entries committed after the index was built
    (conservatively read in full). Falls back to a plain filtered
    read when no index exists."""
    from big_data_spark.io.manifest import (
        dir_cols,
        latest_manifest,
        read_manifest,
        snapshot_ids,
    )
    from big_data_spark.io.table_reads import read_entries, read_snapshot

    ipath = bloom_index_path(table_dir, item_col)
    if not snapshot_ids(spark, ipath):
        return read_snapshot(spark, table_dir).where(
            F.col(item_col) == F.lit(value)
        )
    index = read_snapshot(spark, ipath)
    covers_row = index.select("covers").first()
    if covers_row is None:
        # An EMPTY committed index (built while the base table was
        # empty) covers nothing: degrade to the conservative plain
        # filtered read rather than raising on None.
        return read_snapshot(spark, table_dir).where(
            F.col(item_col) == F.lit(value)
        )
    covers = covers_row["covers"]
    man = latest_manifest(spark, table_dir)
    try:
        covered_vals = set(
            read_manifest(spark, table_dir, covers)["entries"].values()
        )
    except Exception:  # noqa: BLE001 — any unreadable covers manifest
        # The covered manifest was expired by vacuum: nothing is
        # provably covered any more, so degrade to the conservative
        # full filtered read (staleness costs speed, never rows) —
        # rebuild the index to restore skipping.
        covered_vals = set()
    covered = {
        key: rel
        for key, rel in man["entries"].items()
        if rel in covered_vals
    }
    uncovered = {
        key: rel
        for key, rel in man["entries"].items()
        if rel not in covered_vals
    }
    # _bare() normalizes ONLY for prefix comparison; I/O always uses
    # the original URIs input_file_name reported, so hdfs://s3a://
    # tables resolve against their own filesystem, not the default.
    maybe = {_bare(f): f for f in _maybe_files(index, item_col, value)}
    parts: list[DataFrame] = []
    order = [f["name"] for f in man["schema"]] or None
    # Group covered entries by GENERATION and read kept files with the
    # generation dir as basePath — same as read_entries, so hive
    # partition columns survive the file-list read.
    by_gen: dict[str, list[str]] = {}
    for rel in covered.values():
        by_gen.setdefault("/".join(rel.split("/")[:2]), []).append(rel)
    dv = man["deletes"]
    for gen, rels in sorted(by_gen.items()):
        # Index-recorded URIs are URI-ENCODED (input_file_name), rels
        # are raw disk names: match the once-unquoted form first, raw
        # as fallback (a miss here would silently DROP covered
        # files from a point read).
        # Per-pair fallback is safe here — rels of one generation
        # share a scan, and `_data/s=<id>` prefixes never encode.
        from urllib.parse import unquote

        prefixes = [
            _bare(f"{table_dir}/{r}").rstrip("/") + "/" for r in rels
        ]
        # The kept URIs hand back to spark.read.parquet ONCE-UNQUOTED:
        # a string path is read raw, so the encoded form points at a
        # nonexistent dir for values with spaces/percents; unquote is
        # the exact inverse of provenance encoding and preserves the
        # scheme, so hdfs://s3a:// tables still resolve against their
        # own filesystem.
        kept = sorted(
            unquote(orig)
            for bare, orig in maybe.items()
            if any(
                unquote(bare).startswith(pb) or bare.startswith(pb)
                for pb in prefixes
            )
        )
        if kept:
            from big_data_spark.io.table_reads import _declared_partition_types

            with _declared_partition_types(spark):
                # Same no-inference discipline as read_entries: dir
                # values stay strings and cast to the committed type
                # below ('00123' must not point-read back as '123').
                part = spark.read.option(
                    "basePath", f"{table_dir}/{gen}"
                ).parquet(*kept)
            if dv:
                part = part.select(
                    "*",
                    F.col("_metadata.file_path").alias("_dv_path"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
            from big_data_spark.io.layout import _gen_id_of
            from big_data_spark.io.table_reads import _normalize_scan

            parts.append(
                _normalize_scan(
                    part, man["schema"], man["rename_log"], _gen_id_of(gen)
                )
            )
    if uncovered:
        parts.append(
            read_entries(
                spark,
                table_dir,
                uncovered,
                with_positions=bool(dv),
                schema_fields=man["schema"],
                rename_log=man["rename_log"],
                partition_cols=dir_cols(man),
            )
        )
    if not parts:
        return read_snapshot(spark, table_dir).where(F.lit(False))
    df = parts[0]
    for other in parts[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    if dv:
        # Merge-on-read masks apply to point reads too — a deleted
        # row must not resurrect through the Bloom path.
        from big_data_spark.io.layout import _bare_expr
        from big_data_spark.io.table_reads import read_delete_positions

        pos = read_delete_positions(spark, table_dir, dv)
        df = df.join(
            F.broadcast(pos),
            (_bare_expr(F.col("_dv_path")) == pos["file_path"])
            & (F.col("_dv_pos") == pos["row_index"]),
            "left_anti",
        ).drop("_dv_path", "_dv_pos")
    if order:
        # TYPED null-pad to the committed schema (an untyped
        # F.lit(None) is a void column) — same contract as
        # read_snapshot / read_changes.
        from big_data_spark.io.table_reads import _pad_to_schema

        df = _pad_to_schema(df, man["schema"])
    return df.where(F.col(item_col) == F.lit(value))
