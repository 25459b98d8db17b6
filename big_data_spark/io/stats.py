"""Parquet footer statistics, read distributed — the data-skipping
audit tool.

Whether a layout investment (Z-order, sort_within, bucketing)
actually bought prunable files is a question about ROW-GROUP MIN/MAX
STATISTICS, and reading the data back to check defeats the point. So
this reads only footers: the file list comes from the same Hadoop FS
inventory compaction uses, and the footers are opened with pyarrow
ON EXECUTORS via mapInPandas — a driver loop over a million-file
table would serialize a million object-store round trips; here they
fan out across the cluster.

min/max land as strings (one schema fits every column type; callers
cast). The per-row-group grain is deliberate: a scan prunes row
groups, not just files, so that is the grain pruning math needs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_spark.io.layout import data_files

_STATS_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("row_group", IntegerType()),
        StructField("column", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_nulls", LongType()),
        StructField("min_value", StringType()),
        StructField("max_value", StringType()),
        StructField("kind", StringType()),
    ]
)

# Comparison kinds for data skipping (round 11: typed skipping).
# ``numeric`` compares as double; the other kinds compare their
# CANONICAL STRING forms lexicographically — each normalizer below
# guarantees the string order equals the value order (UTF-8 code-point
# order for strings, fixed-width ISO forms for date/timestamp).
_KINDS = ("numeric", "string", "date", "timestamp", "timestamp_ntz")

_NUMERIC_TYPE_HEADS = {
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
}


def stat_kind(type_str: str) -> str | None:
    """Comparison kind of a declared schema type (the manifest's type
    strings), or None for types data skipping does not cover (binary,
    boolean, nested). One mapping shared by the column-selection
    default, the manifest-stats read path, and the tests — the three
    can never disagree on what a column's stats MEAN."""
    head = type_str.split("(")[0].strip().lower()
    if head in _NUMERIC_TYPE_HEADS:
        return "numeric"
    if head in ("string", "varchar", "char"):
        return "string"
    if head == "date":
        return "date"
    if head == "timestamp":
        return "timestamp"
    if head == "timestamp_ntz":
        return "timestamp_ntz"
    return None


def norm_stat_value(v) -> tuple[str, str] | None:
    """(kind, canonical string) for one pyarrow footer min/max value,
    or None when the value's type is outside data skipping's scope
    (binary, boolean). The canonical forms sort lexicographically in
    value order: numerics keep ``str(v)`` (compared as double, never
    lexicographically); timestamps normalize to UTC and print with
    FIXED-WIDTH microseconds (a '.5' vs no-fraction mix would break
    prefix ordering at equal instants); dates are ISO (fixed width).
    tz-aware values are kind 'timestamp' (parquet isAdjustedToUTC);
    naive ones are 'timestamp_ntz' and never tz-shifted."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return ("numeric", str(v))
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return ("numeric", str(v))
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return (
                "timestamp",
                v.isoformat(sep=" ", timespec="microseconds"),
            )
        return (
            "timestamp_ntz",
            v.isoformat(sep=" ", timespec="microseconds"),
        )
    if isinstance(v, _dt.date):
        return ("date", v.isoformat())
    if isinstance(v, str):
        return ("string", v)
    return None  # bytes and anything else: no usable ordering


def norm_bound(kind: str, bound, tz: str = "UTC"):
    """A predicate bound normalized for comparison against stored
    stats of ``kind``: a float for 'numeric', a canonical string
    (matching :func:`norm_stat_value`) otherwise, or None when the
    bound cannot soundly compare under that kind — None means
    UNPRUNABLE for that (column, kind) pair, never a false drop.

    ``tz`` (the Spark session timezone) interprets NAIVE datetime /
    unsuffixed ISO-string bounds on 'timestamp' columns, matching how
    Spark itself casts the same literal in the residual filter; ntz
    columns never tz-shift (and refuse aware bounds). Date bounds on
    'date' columns truncate conservatively (lo floors, hi keeps the
    date — both over-keep, never over-drop)."""
    import datetime as _dt

    if bound is None:
        return None
    if kind == "numeric":
        if isinstance(bound, bool) or not isinstance(
            bound, (int, float)
        ):
            try:
                from decimal import Decimal

                if isinstance(bound, Decimal):
                    return float(bound)
            except ImportError:  # pragma: no cover
                pass
            return None
        return float(bound)
    if kind == "string":
        return bound if isinstance(bound, str) else None
    if kind == "date":
        if isinstance(bound, _dt.datetime):
            return bound.date().isoformat()
        if isinstance(bound, _dt.date):
            return bound.isoformat()
        if isinstance(bound, str):
            try:
                return _dt.date.fromisoformat(bound).isoformat()
            except ValueError:
                return None
        return None
    if kind in ("timestamp", "timestamp_ntz"):
        if isinstance(bound, str):
            try:
                dt = _dt.datetime.fromisoformat(bound)
            except ValueError:
                return None
        elif isinstance(bound, _dt.datetime):
            dt = bound
        elif isinstance(bound, _dt.date):
            dt = _dt.datetime.combine(bound, _dt.time())
        else:
            return None
        if kind == "timestamp_ntz":
            if dt.tzinfo is not None:
                return None  # aware bound on a tz-free column
            return dt.isoformat(sep=" ", timespec="microseconds")
        if dt.tzinfo is None:
            try:
                from zoneinfo import ZoneInfo

                dt = dt.replace(tzinfo=ZoneInfo(tz))
            except Exception:
                return None  # unknown tz name: unprunable, not wrong
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return dt.isoformat(sep=" ", timespec="microseconds")
    return None


def _physical_name(
    logical: str, rename_log: list | None, gen_id: int | None
) -> str | None:
    """The physical column name ``logical`` had when a file of
    generation ``gen_id`` was written, walking the snapshot-table
    evolution event log BACKWARD through the events committed after
    that generation (rename events map new->old; hitting a 'drop' of
    the walked name means the column was re-added later, so it does
    not exist in this file at all -> None). Values are untouched by
    renames, so the old physical column's footer stats remain valid
    for the logical column."""
    name = logical
    for ev in reversed(rename_log or []):
        cid, kind, old, new = ev[0], ev[1], ev[2], ev[3]
        if gen_id is not None and cid <= gen_id:
            break  # log is commit-ordered; earlier events don't apply
        if kind == "rename" and new == name:
            name = old
        elif kind == "drop" and old == name:
            return None
    return name


def footer_file_stats(
    local_path: str, cols: list[str], phys: dict[str, str | None]
) -> list[dict]:
    """Per-(row group, column) footer statistics of ONE local parquet
    file, values already canonical (norm_stat_value) and kind-tagged
    — the ONE primitive both sweep paths consume: the distributed
    kernel yields these rows to Spark, the commit-time driver loop
    folds them with fold_footer_rows. A single implementation of the
    all-null / no-stats / normalization rules, so the two paths can
    never diverge (they pinned-equal in tests).

    Row shape: {row_group, column, n_rows, n_nulls, min, max, kind};
    kind None = no usable stats (unprunable), kind 'allnull' = every
    row NULL (fails every range predicate — prunable, round 11)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(local_path).metadata
    name_to_idx = {
        meta.schema.column(i).name: i for i in range(meta.num_columns)
    }
    out: list[dict] = []
    if meta.num_row_groups == 0:
        # Spark routinely writes empty part files (0 row groups).
        # Emit one no-stats row per column so BOTH sweep paths record
        # the file — with 0 rows and no bounds — instead of the
        # distributed path silently omitting it (review finding: the
        # two paths must fold identically).
        for c in cols:
            out.append(
                {
                    "row_group": 0,
                    "column": c,
                    "n_rows": 0,
                    "n_nulls": None,
                    "min": None,
                    "max": None,
                    "kind": None,
                    "present": True,
                }
            )
        return out
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for c in cols:
            p = phys.get(c, c)
            if p is None or p not in name_to_idx:
                out.append(
                    {
                        "row_group": rg,
                        "column": c,
                        "n_rows": group.num_rows,
                        "n_nulls": None,
                        "min": None,
                        "max": None,
                        "kind": None,
                        "present": False,
                    }
                )
                continue
            col = group.column(name_to_idx[p])
            stats = col.statistics
            try:
                # pyarrow raises ArrowNotImplementedError extracting
                # min/max for some physical types (fixed-len-byte-
                # array decimals) — a no-stats row, never a failure.
                pair = (
                    (
                        norm_stat_value(stats.min),
                        norm_stat_value(stats.max),
                    )
                    if stats is not None and stats.has_min_max
                    else (None, None)
                )
            except Exception:
                pair = (None, None)
            if pair[0] is None or pair[1] is None:
                kind = mn = mx = None
                # An ALL-NULL row group is not "no stats": its rows
                # provably fail every range predicate, so it must
                # neither widen bounds nor veto pruning — Iceberg's
                # null-count skipping (round 11).
                if (
                    stats is not None
                    and stats.null_count is not None
                    and stats.null_count == group.num_rows
                ):
                    kind = "allnull"
            else:
                kind, mn = pair[0]
                _, mx = pair[1]
            out.append(
                {
                    "row_group": rg,
                    "column": c,
                    "n_rows": group.num_rows,
                    "n_nulls": (
                        stats.null_count if stats is not None else None
                    ),
                    "min": mn,
                    "max": mx,
                    "kind": kind,
                    "present": True,
                }
            )
    return out


def fold_footer_rows(
    rows: list[dict], cols: list[str]
) -> dict[str, list | str | None]:
    """Per-column fold of one file's footer_file_stats rows into the
    manifest stats value — EXACTLY the aggregation the distributed
    sweep runs in Spark SQL (min/max as double for numeric kind,
    lexicographic on canonical strings otherwise; any truly stat-less
    row group -> None; every row group all-null -> 'allnull')."""
    out: dict[str, list | str | None] = {}
    for c in cols:
        rs = [r for r in rows if r["column"] == c]
        if not rs or any(
            r["min"] is None and r["kind"] is None for r in rs
        ):
            out[c] = None
            continue
        valued = [r for r in rs if r["kind"] not in (None, "allnull")]
        if not valued:
            out[c] = "allnull"
            continue
        kind = valued[0]["kind"]
        if kind == "numeric":
            out[c] = [
                str(min(float(r["min"]) for r in valued)),
                str(max(float(r["max"]) for r in valued)),
            ]
        else:
            out[c] = [
                min(r["min"] for r in valued),
                max(r["max"] for r in valued),
            ]
    return out


def file_row_count(rows: list[dict]) -> int:
    """Row count of one file from its footer_file_stats rows: every
    column repeats its row group's n_rows, so summing ONE column's
    entries (the first in scan order) counts the file — the number
    behind metadata-only COUNT(*) (round 11)."""
    if not rows:
        return 0
    first_col = rows[0]["column"]
    return int(
        sum(r["n_rows"] for r in rows if r["column"] == first_col)
    )


def _file_gen_id(path: str) -> int | None:
    """Snapshot-generation id of a data file — delegates to the ONE
    parser of the ``_data/s=<id>`` layout (io/layout.py), so the
    evolution replay and the footer-sweep name resolution can never
    key generations differently. Function-level import: the table
    format imports this module lazily, and the kernel closure must
    stay import-light for executors."""
    from big_data_spark.io.layout import _gen_id_of

    return _gen_id_of(path)


def parquet_column_stats(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str],
    rename_log: list | None = None,
    missing_ok: bool = False,
) -> DataFrame:
    """(file, row_group, column, n_rows, n_nulls, min, max) for every
    row group of every data file under ``path`` (one directory, or a
    list of directories/files — the multi-generation snapshot case) —
    footers only, no data pages read.

    ``rename_log`` (a snapshot table's evolution event log) resolves
    each requested LOGICAL column to the physical name it carries in
    each file (keyed on the file's ``_data/s=<id>`` generation id);
    the output ``column`` stays the logical name. ``missing_ok=True``
    emits a no-stats row (null min/max -> unprunable downstream)
    instead of raising when a file lacks the column — the snapshot
    DML / predicate path, where pre-evolution files legitimately miss
    later-added columns."""
    files = [
        uri
        for p in ([path] if isinstance(path, str) else path)
        for uri, _ in data_files(spark, p)
    ]
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    paths = spark.createDataFrame([(f,) for f in files], "file string")
    cols = list(columns)

    log = [list(ev) for ev in rename_log or []]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in _STATS_SCHEMA.names}
            for f in pdf["file"]:
                # Hadoop returns file:/x or file:///x for local paths.
                local = re.sub(r"^file:(//)?", "", f)
                gen_id = _file_gen_id(f)
                phys = {
                    c: _physical_name(c, log, gen_id) if log else c
                    for c in cols
                }
                for r in footer_file_stats(local, cols, phys):
                    if not r["present"] and not missing_ok:
                        raise ValueError(
                            f"{local}: column {r['column']!r} not in "
                            "file schema"
                        )
                    # absent column rows (present=False) are no-stats
                    # rows under missing_ok: the column is missing
                    # from this (pre-evolution) file — unprunable,
                    # never a false drop.
                    out["file"].append(f)
                    out["row_group"].append(r["row_group"])
                    out["column"].append(r["column"])
                    out["n_rows"].append(r["n_rows"])
                    out["n_nulls"].append(r["n_nulls"])
                    out["min_value"].append(r["min"])
                    out["max_value"].append(r["max"])
                    out["kind"].append(r["kind"])
            yield pd.DataFrame(
                {
                    "file": pd.Series(out["file"], dtype="object"),
                    "row_group": pd.Series(out["row_group"], dtype="int32"),
                    "column": pd.Series(out["column"], dtype="object"),
                    "n_rows": pd.Series(out["n_rows"], dtype="int64"),
                    "n_nulls": pd.Series(out["n_nulls"], dtype="Int64"),
                    "min_value": pd.Series(out["min_value"], dtype="object"),
                    "max_value": pd.Series(out["max_value"], dtype="object"),
                    "kind": pd.Series(out["kind"], dtype="object"),
                }
            )

    return paths.repartition(min(len(files), 64)).mapInPandas(
        kernel, _STATS_SCHEMA
    )


def is_in_list(spec) -> bool:
    """True when a predicate entry is an IN-list (``{col: [v1, v2]}``)
    rather than a ``(lo, hi)`` range tuple. Lists/sets are IN-lists;
    2-tuples are ranges — the one classifier every predicate consumer
    shares."""
    return isinstance(spec, (list, set, frozenset))


def inlist_bounds(spec) -> tuple:
    """Conservative (lo, hi) range implied by an IN-list: its min and
    max when every member shares one literal family, else (None,
    None) — unprunable, never a false drop (the exact membership is
    re-applied by the residual ``isin``). Raises on an empty list:
    a predicate that matches nothing is almost always a caller bug,
    and loud beats a silent empty result."""
    vals = list(spec)
    if not vals:
        raise ValueError(
            "empty IN-list predicate — it can match no rows"
        )
    import datetime as _dt

    def fam(v):
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, _dt.datetime):
            return "datetime"
        if isinstance(v, _dt.date):
            return "date"
        if isinstance(v, str):
            return "string"
        if isinstance(v, (int, float)):
            return "numeric"
        return "other"

    fams = {fam(v) for v in vals}
    if len(fams) != 1 or fams & {"bool", "other"}:
        return (None, None)
    return (min(vals), max(vals))


def range_predicate(ranges: dict[str, tuple]):
    """The residual Column for a pruning predicate conjunction —
    shared by read_pruned and the snapshot reader so file-level
    skipping and the row-level filter can never disagree. Entries are
    ``(lo, hi)`` ranges or IN-lists (``[v1, v2, ...]`` — round 11);
    bounds may be numeric, string, ``datetime.date`` or
    ``datetime.datetime`` — ``F.lit`` builds the matching literal and
    Spark's own comparison semantics stay authoritative; the pruning
    side is normalized to be conservative with respect to exactly
    these semantics."""
    cond = F.lit(True)
    for c, spec in ranges.items():
        if is_in_list(spec):
            cond = cond & F.col(c).isin(*list(spec))
            continue
        lo, hi = spec
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    return cond


def prune_files_multi(
    spark: SparkSession,
    path: str | list[str],
    ranges: dict[str, tuple],
    rename_log: list | None = None,
    missing_ok: bool = False,
) -> DataFrame:
    """Metadata-only data skipping over a CONJUNCTION of range
    predicates ``lo_c <= c <= hi_c`` — the case Z-order layouts
    exist for: one clustered rewrite makes min/max narrow on SEVERAL
    columns at once, and a file is droppable when ANY predicate
    provably misses it (the AND semantics let each column veto
    independently). Bounds are numeric, string, ``datetime.date`` or
    ``datetime.datetime`` (round 11: typed skipping) — the comparison
    runs under the KIND the footer actually carries (numeric as
    double; string/date/timestamp lexicographically on canonical
    forms), so a numeric-looking string column ('00123') prunes by
    STRING order, matching the residual filter's semantics, and a
    bound whose type cannot soundly compare under a file's kind
    leaves that file unprunable rather than wrongly dropped.

    Returns one row per (file, column) with that column's folded
    [min, max] (canonical strings) plus the file-level ``keep`` —
    false iff some column's interval provably misses its range.
    Losslessness per column implies losslessness of the conjunction,
    proven in tests/test_stats.py. A row group without stats for a
    column makes that column unprunable for the file (never a false
    drop).
    """
    if not ranges or all(
        not is_in_list(s) and s[0] is None and s[1] is None
        for s in ranges.values()
    ):
        raise ValueError("prune_files needs at least one bounded range")
    # IN-lists prune by their conservative (min, max) envelope; exact
    # membership is the residual's job (round 11).
    prune_bounds = {
        c: inlist_bounds(s) if is_in_list(s) else s
        for c, s in ranges.items()
    }
    cols = list(ranges)
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    stats = parquet_column_stats(
        spark, path, cols, rename_log=rename_log, missing_ok=missing_ok
    )
    per_file_col = (
        stats.withColumn("mn_d", F.col("min_value").try_cast("double"))
        .withColumn("mx_d", F.col("max_value").try_cast("double"))
        .groupBy("file", "column")
        .agg(
            # numeric fold (double order) and lexicographic fold side
            # by side; the keep expression picks the one the row
            # group's KIND makes meaningful. The unused fold of the
            # other family is garbage by construction and never read.
            F.min("mn_d").alias("mn_d"),
            F.max("mx_d").alias("mx_d"),
            F.min("min_value").alias("mn_s"),
            F.max("max_value").alias("mx_s"),
            # a row group without stats makes the column unprunable —
            # but an ALL-NULL row group ('allnull' kind) is excluded:
            # its rows provably fail every range predicate, so it
            # neither widens the fold (its min/max are null) nor
            # blocks pruning (round 11: null-count skipping).
            F.max(
                (
                    F.col("min_value").isNull()
                    & F.col("kind").isNull()
                ).cast("int")
            ).alias("_nostats"),
            F.min(
                F.coalesce(
                    (F.col("kind") == "allnull").cast("int"), F.lit(0)
                )
            ).alias("_allnull"),
            F.first(
                F.when(F.col("kind") != "allnull", F.col("kind")),
                ignorenulls=True,
            ).alias("_kind"),
        )
    )
    col_ok = F.lit(True)
    for c in cols:
        lo, hi = prune_bounds[c]
        bounded = lo is not None or hi is not None
        ok = F.lit(False)
        for kind in _KINDS:
            lo_n = None if lo is None else norm_bound(kind, lo, tz)
            hi_n = None if hi is None else norm_bound(kind, hi, tz)
            if (lo is not None and lo_n is None) or (
                hi is not None and hi_n is None
            ):
                # bound type can't soundly compare under this kind:
                # files of this kind stay unprunable for the column.
                kind_ok = F.lit(True)
            else:
                mn = F.col("mn_d") if kind == "numeric" else F.col("mn_s")
                mx = F.col("mx_d") if kind == "numeric" else F.col("mx_s")
                kind_ok = F.lit(True)
                if hi_n is not None:
                    kind_ok = kind_ok & (mn <= F.lit(hi_n))
                if lo_n is not None:
                    kind_ok = kind_ok & (mx >= F.lit(lo_n))
                # a numeric-kind row whose values failed the double
                # cast (never expected; defensive) stays unprunable.
                if kind == "numeric":
                    kind_ok = kind_ok | F.col("mn_d").isNull()
            ok = F.when(F.col("_kind") == kind, kind_ok).otherwise(ok)
        # Precedence: any truly stat-less row group -> unprunable;
        # else an entirely-null column -> droppable under any bound;
        # else no usable kind -> unprunable; else the kind compare.
        ok_final = (
            F.when(F.col("_nostats") == 1, F.lit(True))
            .when(F.col("_allnull") == 1, F.lit(not bounded))
            .when(F.col("_kind").isNull(), F.lit(True))
            .otherwise(ok)
        )
        col_ok = F.when(F.col("column") == c, ok_final).otherwise(col_ok)
    flagged = per_file_col.withColumn("_col_keep", col_ok)
    keep_per_file = flagged.groupBy("file").agg(
        F.min(F.col("_col_keep").cast("int")).cast("boolean").alias("keep")
    )
    is_num = F.col("_kind") == "numeric"
    return (
        flagged.withColumn(
            "min_value",
            F.when(is_num, F.col("mn_d").cast("string")).otherwise(
                F.col("mn_s")
            ),
        )
        .withColumn(
            "max_value",
            F.when(is_num, F.col("mx_d").cast("string")).otherwise(
                F.col("mx_s")
            ),
        )
        .withColumn("kind", F.col("_kind"))
        .drop(
            "mn_d", "mx_d", "mn_s", "mx_s",
            "_nostats", "_allnull", "_col_keep", "_kind",
        )
        .join(keep_per_file, "file")
        .orderBy("file", "column")
    )


def prune_files(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Metadata-only data skipping: the files under ``path`` a
    range predicate ``lo <= column <= hi`` (numeric, string, date or
    timestamp bounds — round 11) could possibly touch, decided from
    parquet FOOTER min/max alone — the manifest pruning an
    Iceberg/Delta reader does, as an explicit operator.

    Returns (file, min_value, max_value, keep) — min/max as canonical
    strings (round 11; numeric columns print as doubles). ``keep`` is
    false iff the file's [min, max] interval provably misses the
    predicate range — reading only kept files is guaranteed lossless
    (rows
    matching the predicate can only live in kept files; proven in
    tests/test_stats.py against the full-scan answer). Feed the kept
    list to ``spark.read.parquet(*files)``. Pair with the z-order /
    repartitionByRange writers (io/compact.py) — pruning is only as
    good as the layout's min/max narrowness. Conjunctions over
    several clustered columns: ``prune_files_multi``.
    """
    return prune_files_multi(spark, path, {column: (lo, hi)}).select(
        "file", "min_value", "max_value", "keep"
    )
