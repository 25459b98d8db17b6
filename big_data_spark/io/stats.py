"""Parquet footer statistics — the table format's one footer rule.

Two decisions about footers live here, once each:

- the per-file FOLD: how a file's row-group min/max, null counts and
  row counts become one per-file bound per column (``file_stats``,
  built on ``footer_file_stats`` + ``fold_footer_rows``), plus the
  exact integer sums footers cannot carry;
- the SKIP TEST: whether a file can be skipped for a range / IN-list
  predicate, given its folded bounds and their comparison kinds
  (``keep_file``).

The commit-time sidecar sweep (io/sidecars.py), the footer fallback
of snapshot reads (io/table_reads.py), ``read_pruned``
(io/readers.py) and the manifest-stats read path all go through
these, so the footer path and the recorded-stats path can never
disagree. Footers are opened with pyarrow, ON EXECUTORS for large or
remote file sets (one mapInPandas fan-out over the file list — a
driver loop over a million-file table would serialize a million
object-store round trips).

``parquet_column_stats`` is the public row-group audit tool: min/max
as strings (one schema fits every column type; callers cast) at the
per-row-group grain a scan actually prunes at.

``sql_conjuncts`` is the one reader of SQL condition text: it takes a
condition's top-level conjuncts from Spark's own parse tree for the
DML range hints, the catalog's metadata-answered WHERE and the
``OPTIMIZE ... PARTITION`` pairs.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator

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

_NUMERIC_TYPE_HEADS = {
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
}


def stat_kind(type_str: str) -> str | None:
    """Comparison kind of a declared schema type (the manifest's type
    strings), or None for types data skipping does not cover (binary,
    boolean, nested). ``numeric`` compares as double; every other
    kind compares its CANONICAL STRING form lexicographically — each
    normalizer below guarantees string order equals value order
    (UTF-8 code-point order for strings, fixed-width ISO forms for
    date/timestamp). One mapping shared by the column-selection
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
    pf, cols: list[str], phys: dict[str, str | None]
) -> list[dict]:
    """Per-(row group, column) footer statistics of ONE open parquet
    file (a ``pyarrow.parquet.ParquetFile``), values already canonical
    (norm_stat_value) and kind-tagged — the primitive under both the
    per-file fold (``file_stats``) and the row-group audit
    (``parquet_column_stats``), so the all-null / no-stats /
    normalization rules exist once.

    Row shape: {row_group, column, n_rows, n_nulls, min, max, kind,
    present}; kind None = no usable stats (unprunable), kind
    'allnull' = every row NULL (fails every range predicate —
    prunable); present False = the column is not in this file."""
    meta = pf.metadata
    name_to_idx = {
        meta.schema.column(i).name: i for i in range(meta.num_columns)
    }
    out: list[dict] = []
    if meta.num_row_groups == 0:
        # Spark routinely writes empty part files (0 row groups).
        # Emit one no-stats row per column so the file is recorded —
        # with 0 rows and no bounds — instead of silently omitted.
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
                # null-count skipping.
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
) -> tuple[dict[str, list | str | None], dict[str, str | None]]:
    """Per-column fold of one file's footer_file_stats rows into
    (bounds, kinds): bounds are the recorded stats value — [min, max]
    (numeric folds as double, every other kind lexicographically on
    its canonical strings), None when any row group is truly
    stat-less, "allnull" when every row group is all-null; kinds are
    the comparison kind of the valued row groups (None when none)."""
    bounds: dict[str, list | str | None] = {}
    kinds: dict[str, str | None] = {}
    for c in cols:
        rs = [r for r in rows if r["column"] == c]
        valued = [r for r in rs if r["kind"] not in (None, "allnull")]
        kind = kinds[c] = valued[0]["kind"] if valued else None
        if not rs or any(
            r["min"] is None and r["kind"] is None for r in rs
        ):
            bounds[c] = None
        elif not valued:
            bounds[c] = "allnull"
        elif kind == "numeric":
            bounds[c] = [
                str(min(float(r["min"]) for r in valued)),
                str(max(float(r["max"]) for r in valued)),
            ]
        else:
            bounds[c] = [
                min(r["min"] for r in valued),
                max(r["max"] for r in valued),
            ]
    return bounds, kinds


def file_row_count(rows: list[dict]) -> int:
    """Row count of one file from its footer_file_stats rows: every
    column repeats its row group's n_rows, so summing ONE column's
    entries (the first in scan order) counts the file — the number
    behind metadata-only COUNT(*)."""
    if not rows:
        return 0
    first_col = rows[0]["column"]
    return int(
        sum(r["n_rows"] for r in rows if r["column"] == first_col)
    )


def _int_sums(pf, sum_phys: dict[str, str]) -> tuple[dict, dict]:
    """({col: exact sum string | None}, {col: non-null count}) of one
    open parquet file's INTEGER columns (logical -> physical name).
    Footers carry no sums, so this is the one stats rule that reads
    DATA — column-pruned, once per file at commit time (Delta records
    per-file stats the same way at write time). Sums accumulate as
    decimal(38,0), exact; an all-null column records (None, 0) — zero
    non-null rows. Columns the file physically lacks (pre-evolution)
    and empty files record nothing — the aggregate omits or refuses,
    never guesses."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sums: dict[str, str | None] = {}
    nonnull: dict[str, int] = {}
    names = set(pf.schema_arrow.names)
    want = [p for p in sum_phys.values() if p in names]
    if not want or pf.metadata.num_rows == 0:
        return sums, nonnull
    tbl = pf.read(columns=want)
    for c, p in sum_phys.items():
        if p not in names:
            continue
        col = tbl.column(p)
        n = len(col) - col.null_count
        nonnull[c] = int(n)
        if n == 0:
            sums[c] = None  # all-null: contributes nothing
            continue
        s = pc.sum(col.cast(pa.decimal128(38, 0))).as_py()
        sums[c] = str(int(s))
    return sums, nonnull


def _local_path(uri: str) -> str:
    # Hadoop returns file:/x or file:///x for local paths.
    return re.sub(r"^file:(//)?", "", uri)


def _footer_rows(
    pf, uri: str, cols: list[str], rename_log: list | None, missing_ok: bool
):
    """({logical: physical name}, footer rows) of one open data file.
    ``rename_log`` (a snapshot table's evolution event log) resolves
    each LOGICAL column to the physical name it carries in this file,
    keyed on the file's ``_data/s=<id>`` generation id; rows keep the
    logical name. ``missing_ok=False`` raises when the file lacks a
    column; ``missing_ok=True`` keeps it as a no-stats row
    (unprunable, never a false drop) — the snapshot DML / predicate
    path, where pre-evolution files legitimately miss later-added
    columns."""
    gen_id = _file_gen_id(uri) if rename_log else None
    phys = {c: _physical_name(c, rename_log, gen_id) for c in cols}
    rows = footer_file_stats(pf, cols, phys)
    if not missing_ok:
        for r in rows:
            if not r["present"]:
                raise ValueError(
                    f"{_local_path(uri)}: column {r['column']!r} not in "
                    "file schema"
                )
    return phys, rows


def file_stats(
    uri: str,
    cols: list[str],
    sum_cols: list[str] = (),
    rename_log: list | None = None,
    missing_ok: bool = True,
) -> dict:
    """Everything the table format records or decides about ONE data
    file, from one open: ``bounds`` and ``kinds`` per stat column
    (fold_footer_rows), ``rows`` (file_row_count), and ``sums`` /
    ``nonnull`` for the INTEGER columns ``sum_cols`` (a subset of
    ``cols``; both None when none of them resolves to a physical
    column — nothing to record). The ONE per-file function: the
    commit-time driver loop and the executor fan-out
    (``sweep_file_stats``) both run it."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(_local_path(uri)) as pf:
        phys, rows = _footer_rows(pf, uri, cols, rename_log, missing_ok)
        sum_phys = {c: phys[c] for c in sum_cols if phys[c] is not None}
        sums, nonnull = (
            _int_sums(pf, sum_phys) if sum_phys else (None, None)
        )
    bounds, kinds = fold_footer_rows(rows, cols)
    return {
        "bounds": bounds,
        "kinds": kinds,
        "rows": file_row_count(rows),
        "sums": sums,
        "nonnull": nonnull,
    }


def _file_gen_id(path: str) -> int | None:
    """Snapshot-generation id of a data file — delegates to the ONE
    parser of the ``_data/s=<id>`` layout (io/layout.py), so the
    evolution replay and the footer name resolution can never key
    generations differently. Function-level import: the table format
    imports this module lazily, and the kernel closure must stay
    import-light for executors."""
    from big_data_spark.io.layout import _gen_id_of

    return _gen_id_of(path)


def _listed_files(spark: SparkSession, path: str | list[str]) -> list[str]:
    """Data file URIs under ``path`` (one directory, or a list of
    directories/files — the multi-generation snapshot case)."""
    files = [
        uri
        for p in ([path] if isinstance(path, str) else path)
        for uri, _ in data_files(spark, p)
    ]
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    return files


def _fan_out(
    spark: SparkSession,
    files: list[str],
    kernel: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema,
) -> DataFrame:
    """Run ``kernel`` over the file list ON EXECUTORS: one row per
    file, spread over at most 64 tasks."""
    paths = spark.createDataFrame([(f,) for f in files], "file string")
    return paths.repartition(min(len(files), 64)).mapInPandas(
        kernel, schema
    )


def sweep_file_stats(
    spark: SparkSession,
    files: list[str],
    cols: list[str],
    sum_cols: list[str] = (),
    rename_log: list | None = None,
    missing_ok: bool = True,
) -> dict[str, dict]:
    """``{file: file_stats(file, ...)}`` for many files, run on the
    executors; only the per-file results come back to the driver."""
    cols, sum_cols = list(cols), list(sum_cols)
    log = [list(ev) for ev in rename_log or []]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris = list(pdf["file"])
            docs = [
                json.dumps(file_stats(u, cols, sum_cols, log, missing_ok))
                for u in uris
            ]
            yield pd.DataFrame({"file": uris, "stats": docs}, dtype=object)

    out = _fan_out(spark, files, kernel, "file string, stats string")
    return {r["file"]: json.loads(r["stats"]) for r in out.collect()}


def parquet_column_stats(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str],
    rename_log: list | None = None,
    missing_ok: bool = False,
) -> DataFrame:
    """(file, row_group, column, n_rows, n_nulls, min, max) for every
    row group of every data file under ``path`` (one directory, or a
    list of directories/files) — footers only, no data pages read.
    ``rename_log`` and ``missing_ok`` resolve columns per file as in
    ``file_stats``; the output ``column`` stays the logical name."""
    files = _listed_files(spark, path)
    cols = list(columns)
    log = [list(ev) for ev in rename_log or []]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in _STATS_SCHEMA.names}
            for f in pdf["file"]:
                with pq.ParquetFile(_local_path(f)) as pf:
                    _, rows = _footer_rows(pf, f, cols, log, missing_ok)
                for r in rows:
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

    return _fan_out(spark, files, kernel, _STATS_SCHEMA)


def is_in_list(spec) -> bool:
    """True when a predicate entry is an IN-list (``{col: [v1, v2]}``)
    rather than a ``(lo, hi)`` range tuple. Lists/sets are IN-lists;
    2-tuples are ranges — the one classifier every predicate consumer
    shares."""
    return isinstance(spec, (list, set, frozenset))


def literal_family(v) -> str:
    """The family a bound's value orders within: numeric, string, date
    or datetime ("bool" and "other" order against nothing). Bounds of
    two families never fold together."""
    import datetime as _dt

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
    fams = {literal_family(v) for v in vals}
    if len(fams) != 1 or fams & {"bool", "other"}:
        return (None, None)
    return (min(vals), max(vals))


def range_predicate(ranges: dict[str, tuple]):
    """The residual Column for a pruning predicate conjunction —
    shared by read_pruned and the snapshot reader so file-level
    skipping and the row-level filter can never disagree. Entries are
    ``(lo, hi)`` ranges or IN-lists (``[v1, v2, ...]``); bounds may
    be numeric, string, ``datetime.date`` or ``datetime.datetime`` —
    ``F.lit`` builds the matching literal and Spark's own comparison
    semantics stay authoritative; the pruning side is normalized to
    be conservative with respect to exactly these semantics."""
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


def check_bound_types(
    ranges: dict[str, tuple], types: dict[str, str]
) -> None:
    """Refuse a numeric bound on a string, date or timestamp column
    before any scan. ``types`` maps column name to its declared type
    string. Spark would cast every row's value to the bound's type in
    the residual filter and fail at the first action with an error
    that names a data value, not the predicate."""
    from decimal import Decimal

    for c, spec in ranges.items():
        if stat_kind(types.get(c, "")) in (None, "numeric"):
            continue
        for b in list(spec) if is_in_list(spec) else spec:
            if isinstance(b, bool):
                continue
            if isinstance(b, (int, float, Decimal)):
                raise ValueError(
                    f"predicate bound {b!r} on column {c!r} is numeric, "
                    f"but {c!r} is {types[c]} — pass a bound of the "
                    "column's type"
                )


_CMP_OPS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def seq_items(seq) -> list:
    """A Scala ``Seq`` handed back by the JVM as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _children(expr) -> list:
    return seq_items(expr.children())


def name_parts(expr) -> list[str] | None:
    """The name parts of an unresolved column reference (``t.k`` ->
    ``["t", "k"]``), else None."""
    if expr.nodeName() != "UnresolvedAttribute":
        return None
    return seq_items(expr.nameParts())


def column_name(expr) -> str | None:
    """The name of a single-part column reference, else None."""
    parts = name_parts(expr)
    return parts[0] if parts is not None and len(parts) == 1 else None


def literal_value(expr):
    """A Catalyst ``Literal`` as a Python value by its data type, or
    None for anything else (a NULL literal is type ``void``).
    Timestamps come back naive in the session time zone, the way
    ``Literal.toString`` renders them and ``norm_bound`` reads naive
    bounds."""
    import datetime as _dt

    if expr.nodeName() != "Literal":
        return None
    typ = expr.dataType().typeName()
    text = expr.toString()
    try:
        if typ in ("byte", "short", "integer", "long"):
            return int(text)
        if typ in ("float", "double") or typ.startswith("decimal"):
            return float(text)
        if typ == "string":
            return text
        if typ == "date":
            return _dt.date.fromisoformat(text)
        if typ == "timestamp":
            return _dt.datetime.fromisoformat(text)
    except ValueError:
        return None  # a rendering Python cannot read: unrecognised
    return None


def _conjunct(expr) -> tuple[str, str, list] | None:
    name = expr.nodeName()
    if name in _CMP_OPS:
        op = _CMP_OPS[name]
    elif name == "In":
        op = "in"
    elif (
        name == "UnresolvedFunction"
        and expr.nameParts().mkString(".").lower() == "between"
    ):
        op = "between"
    else:
        return None
    kids = _children(expr)
    col = column_name(kids[0])
    if col is None or (op == "between" and len(kids) != 3):
        return None
    vals = [literal_value(k) for k in kids[1:]]
    if not vals or any(v is None for v in vals):
        return None
    return col, op, vals


def and_terms(expr) -> list:
    """The top-level conjuncts of a parsed condition, left to right."""
    out, stack = [], [expr]
    while stack:
        expr = stack.pop()
        if expr.nodeName() == "And":
            stack.extend(reversed(_children(expr)))
        else:
            out.append(expr)
    return out


def expr_conjuncts(expr) -> list[tuple[str, str, list] | None]:
    """The top-level conjuncts of a condition already parsed by Spark
    (an unresolved Catalyst expression), so every literal means
    exactly what it means in the filter Spark runs (escapes, suffixes,
    typed literals).

    Each conjunct is ``(column, op, values)`` when it compares one
    single-part column with literals: op ``=``, ``<``, ``<=``, ``>``
    or ``>=`` with one value, ``between`` with (lo, hi), or ``in`` with
    the members. Values are ``int`` (integral literals), ``float``
    (decimal, double, float), ``str``, ``datetime.date`` or a naive
    ``datetime.datetime``. Any other conjunct (OR, NOT, subqueries,
    function calls, qualified names, NULL or other literal types) is
    None."""
    return [_conjunct(t) for t in and_terms(expr)]


def parse_expression(spark: SparkSession, text: str):
    """Spark's parse tree of the SQL expression ``text`` (an
    unresolved JVM Expression), or None when Spark cannot parse it.
    Parsing runs no job."""
    from pyspark.errors import ParseException

    try:
        return (
            spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(text)
        )
    except ParseException:
        return None


def sql_conjuncts(
    spark: SparkSession, text: str
) -> list[tuple[str, str, list] | None]:
    """``expr_conjuncts`` of the SQL condition ``text``. Text Spark
    cannot parse reads as one unrecognised conjunct."""
    root = parse_expression(spark, text)
    return [None] if root is None else expr_conjuncts(root)


def keep_file(
    bounds: dict,
    ranges: dict[str, tuple],
    kinds: dict[str, str | None] | None = None,
    tz: str = "UTC",
) -> bool:
    """The ONE skip test: False iff some predicate column's per-file
    ``bounds`` (a fold_footer_rows value: [min, max], "allnull" or
    None) provably miss its range — a conjunction, so any column can
    veto. Lossless: columns without bounds, and bounds the column's
    kind cannot order, never veto.

    ``kinds`` (column -> comparison kind; "numeric" when absent)
    selects the comparison: numeric as float, string/date/timestamp
    lexicographically on the canonical forms. The footer path passes
    each file's footer kinds, the manifest-stats path the COMMITTED
    schema's kinds. So a numeric-looking string column ('00123')
    prunes by STRING order, exactly as the residual filter compares.
    IN-lists compare by their (min, max) envelope — exact membership
    is the residual's job. ``tz`` is the Spark session timezone,
    interpreting naive timestamp bounds exactly as the residual
    filter will."""
    for c, spec in ranges.items():
        lo, hi = inlist_bounds(spec) if is_in_list(spec) else spec
        v = bounds.get(c)
        if v is None:
            continue
        if v == "allnull":
            # Entirely-null column: every row fails every bounded
            # range predicate.
            if lo is not None or hi is not None:
                return False
            continue
        kind = (kinds or {}).get(c, "numeric")
        lo_n = None if lo is None else norm_bound(kind, lo, tz)
        hi_n = None if hi is None else norm_bound(kind, hi, tz)
        if (lo is not None and lo_n is None) or (
            hi is not None and hi_n is None
        ):
            continue  # bound unorderable under this kind: unprunable
        if kind == "numeric":
            try:
                mn, mx = float(v[0]), float(v[1])
            except (TypeError, ValueError):
                continue
        elif isinstance(v[0], str) and isinstance(v[1], str):
            mn, mx = v
        else:
            continue
        if (hi_n is not None and mn > hi_n) or (
            lo_n is not None and mx < lo_n
        ):
            return False
    return True


def prune_files_multi(
    spark: SparkSession,
    path: str | list[str],
    ranges: dict[str, tuple],
    rename_log: list | None = None,
    missing_ok: bool = False,
) -> dict[str, bool]:
    """Metadata-only data skipping over a CONJUNCTION of range /
    IN-list predicates — the case Z-order layouts exist for: one
    clustered rewrite makes min/max narrow on SEVERAL columns at once,
    and a file is droppable when ANY predicate provably misses it.
    Returns ``{file_uri: keep}`` for every data file under ``path``:
    list the files, run ``file_stats`` on the executors, and apply
    ``keep_file`` under each file's FOOTER kinds. Reading only the
    kept files is lossless (proven in tests/test_stats.py); a row
    group without stats for a column makes that column unprunable
    for the file, never a false drop. ``rename_log`` / ``missing_ok``
    resolve columns per file as in ``file_stats``."""
    if not ranges or all(
        not is_in_list(s) and s[0] is None and s[1] is None
        for s in ranges.values()
    ):
        raise ValueError(
            "prune_files_multi needs at least one bounded range"
        )
    files = _listed_files(spark, path)
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    per_file = sweep_file_stats(
        spark, files, list(ranges), rename_log=rename_log,
        missing_ok=missing_ok,
    )
    return {
        f: keep_file(per_file[f]["bounds"], ranges, per_file[f]["kinds"], tz)
        for f in files
    }
