"""The table format's manifest: its shape, its one reader, and the
commit that publishes the next one — the only code that knows which
keys a manifest holds and which of them a commit inherits.

A snapshot table (the writers in io/writers.py, DML in io/dml.py)
is a directory of immutable data generations plus one small JSON
manifest per committed version:

- ``table_dir/_manifests/manifest-<id>.json`` lists ``entries``:
  partition-key -> data directory (relative to ``table_dir``). The
  highest id is the current table.
- ``table_dir/_data/s=<id>/...`` holds immutable data generations. A
  partial rewrite carries its predecessor's untouched entries, so one
  generation dir can stay live across many snapshots.
- Commit = ``layout.publish_doc`` of the manifest body: a hidden
  temp file renamed to its final name. Rename is atomic on HDFS and
  local filesystems and refuses an existing destination, so two
  committers of the same id cannot both win (optimistic concurrency —
  the loser retries on a fresh id). ``replace=True`` (an atomic
  overwrite-rename on the local FS, delete-then-rename elsewhere) is
  reserved for DETERMINISTIC replays.

A writer that dies mid-generation leaves orphan files under
``_data/s=<id>`` but NO manifest — readers never see them.
``vacuum_snapshots`` reclaims expired manifests and unreferenced
generations. The manifest stays O(#partitions + #generations):
per-file column stats live in immutable per-generation sidecars
(io/sidecars.py) the manifest references by path.

Carry-forward rule (``successor``): the TABLE-STATE keys ``schema``,
``partition_col``, ``layout_by``, ``deletes`` and ``rename_log`` carry
from the predecessor unless the writer names a new value; the
PER-COMMIT keys ``cdf``, ``maintenance`` and ``committed_at_ms`` never
carry. Each writer therefore names only what its commit changes.

Format version: every manifest carries ``format_version`` =
``FORMAT_VERSION`` (Iceberg's ``format-version``) and a ``schema``.
Both manifest parsers refuse a missing or different stamp with one
ValueError that names the table dir and says to rebuild it from
source — tables are rebuilt, never migrated. Stats sidecars are
reachable only through a manifest, so that one check covers them too.
"""

from __future__ import annotations

import json
import re
from typing import TypedDict

from pyspark.sql import DataFrame, SparkSession

from big_data_spark.io.layout import (
    _DATA_DIR,
    _MANIFEST_DIR,
    _os_path,
    _read_json,
    hadoop_fs,
    publish_doc,
    read_docs,
)
from big_data_spark.io.sidecars import _auto_commit_stats

# The on-disk format every writer stamps into each manifest. Bump it
# whenever what a writer puts on disk changes; readers accept only
# this value.
FORMAT_VERSION = 1


class Manifest(TypedDict):
    """One committed manifest, key for key as it sits on disk."""

    format_version: int
    snapshot_id: int
    # partition key ("" = whole table, "b<id>" = appended generation)
    # -> data dir relative to the table dir
    entries: dict[str, str]
    # entry partition column(s): a string (one column) or an ordered
    # list; None for tables whose entries are not keyed by partition
    partition_col: str | list[str] | None
    # ordered [{"name", "type"}] of the committed schema
    schema: list[dict[str, str]]
    # hive layout column inside each generation (append partition_by)
    layout_by: str | None
    # True for commits that rewrite files without changing content
    maintenance: bool
    # live merge-on-read delete-vector dirs, sorted
    deletes: list[str]
    # ordered [commit_id, "rename"|"drop", old, new] evolution events
    rename_log: list[list]
    # this commit's row-level change sidecar dir, if it wrote one
    cdf: str | None
    # {"columns": [...], "sidecars": {generation: sidecar rel path}}
    stats: dict | None
    committed_at_ms: int


# Keys a commit inherits from its predecessor unless the writer names
# a new value.
_TABLE_STATE = (
    "schema", "partition_col", "layout_by", "deletes", "rename_log"
)
# Keys that describe one commit: never inherited, "nothing happened"
# unless named (commit_manifest stamps committed_at_ms itself).
_PER_COMMIT = {"cdf": None, "maintenance": False}


class SnapshotConflict(Exception):
    """Another committer published this snapshot id first."""


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return f"{table_dir}/{_MANIFEST_DIR}/manifest-{snapshot_id:012d}.json"


def _claim_check(spark: SparkSession, table_dir: str, snapshot_id: int):
    """Fail fast BEFORE any write when ``snapshot_id`` is already
    committed — a fixed-id writer would otherwise stage (and a
    replayed id claim) a generation for a commit that was going to
    conflict anyway. This narrows (does not eliminate) the race;
    ``commit_manifest``'s atomic rename stays the final arbiter."""
    fs, p = hadoop_fs(spark, _manifest_path(table_dir, snapshot_id))
    if fs.exists(p):
        raise SnapshotConflict(
            f"snapshot {snapshot_id} already committed under "
            f"{table_dir!r} — re-read the table and retry"
        )


def snapshot_ids(spark: SparkSession, table_dir: str) -> list[int]:
    """Committed snapshot ids, ascending (directory listing of the
    manifest dir — bounded metadata, no data scan)."""
    mdir = f"{table_dir}/{_MANIFEST_DIR}"
    lp = _os_path(spark, mdir)
    if lp is not None:
        import os as _os

        try:
            names = _os.listdir(lp)
        except (FileNotFoundError, NotADirectoryError):
            return []
        return sorted(
            int(n[len("manifest-") : -len(".json")])
            for n in names
            if n.startswith("manifest-") and n.endswith(".json")
        )
    fs, hpath = hadoop_fs(spark, mdir)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("manifest-") and name.endswith(".json"):
            out.append(int(name[len("manifest-") : -len(".json")]))
    return sorted(out)


def format_version_error(where: str, found, expected: int) -> ValueError:
    """The one refusal for an on-disk structure whose format stamp is
    missing or unknown — shared by the manifest and catalog-binding
    readers so the message and the recovery read the same."""
    return ValueError(
        f"{where!r} has on-disk format version {found!r}, but this "
        f"engine reads only version {expected} — rebuild it from source"
    )


def _checked_manifest(table_dir: str, man: dict) -> Manifest:
    found = man.get("format_version")
    if found != FORMAT_VERSION:
        raise format_version_error(table_dir, found, FORMAT_VERSION)
    if man.get("schema") is None:
        # Every v1 writer records a schema; one without it was not
        # written by this engine's commit.
        raise ValueError(
            f"{table_dir!r} manifest {man.get('snapshot_id')!r} has no "
            "committed schema — rebuild it from source"
        )
    for rel in man["entries"].values():
        # Every v1 writer points each entry into its own generation.
        if not re.match(rf"{_DATA_DIR}/s=\d+(/|$)", rel):
            raise ValueError(
                f"{table_dir!r} manifest {man.get('snapshot_id')!r} entry "
                f"{rel!r} lies outside the {_DATA_DIR}/s=<id> layout "
                "— rebuild it from source"
            )
    return man


def read_manifest(
    spark: SparkSession, table_dir: str, snapshot_id: int
) -> Manifest:
    return _checked_manifest(
        table_dir, _read_json(spark, _manifest_path(table_dir, snapshot_id))
    )


def _read_manifests(
    spark: SparkSession, table_dir: str, ids: list[int]
) -> dict[int, Manifest]:
    """Manifests for ``ids`` as {id: manifest dict}, through the one
    bulk reader (``layout.read_docs``): a handful read serially on the
    driver, more in ONE distributed whole-file text scan — at 10k
    commits (a year of 15-minute micro-batches) the serial walk was
    10k sequential object-store round trips before the first data
    read. The JSON parse stays driver-side (exact dicts, no schema
    coercion). A manifest vacuumed between the listing and the read
    fails loudly."""
    paths = {i: _manifest_path(table_dir, i) for i in ids}
    docs = read_docs(spark, list(paths.values()))
    missing = [i for i, p in paths.items() if p not in docs]
    if missing:
        raise ValueError(
            f"manifest scan under {table_dir!r} lost ids "
            f"{sorted(missing)} — vacuumed mid-read?"
        )
    return {
        i: _checked_manifest(table_dir, json.loads(docs[p]))
        for i, p in paths.items()
    }


def latest_manifest(
    spark: SparkSession, table_dir: str, below: int | None = None
) -> Manifest | None:
    """The newest committed manifest, optionally restricted to ids
    strictly below ``below`` — the replay primitive: a re-run of
    batch N must read the state as of N-1 even if N's first attempt
    already committed."""
    ids = snapshot_ids(spark, table_dir)
    if below is not None:
        ids = [i for i in ids if i < below]
    if not ids:
        return None
    return read_manifest(spark, table_dir, ids[-1])


def spec_cols(spec: str | list[str] | None) -> list[str] | None:
    """A partition spec (one column name or an ordered list) as an
    ordered list — the form ``partition_col`` and every
    ``partition_by=`` parameter accept."""
    if spec is None:
        return None
    return [spec] if isinstance(spec, str) else list(spec)


def partition_cols(man: Manifest) -> list[str] | None:
    """The manifest's entry partition columns, ordered (None for a
    table whose entries are not keyed by partition). The manifest
    stores whatever the writer declared, so single-column tables keep
    their string field and raw-value entry keys."""
    return spec_cols(man["partition_col"])


def dir_cols(man: Manifest) -> list[str]:
    """The manifest's dir-valued columns — entry partition columns
    plus the generation layout column — i.e. every committed column
    whose values live in directory names rather than parquet data
    (never in file footers, never evolvable). This is the
    ``partition_cols`` read_entries needs to build an explicit
    per-generation read schema (footer-inference-free)."""
    cols = list(partition_cols(man) or [])
    lb = man["layout_by"]
    if lb and lb not in cols:
        cols.append(lb)
    return cols


def _hive_escape(spark: SparkSession):
    return (
        spark._jvm.org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName
    )


def _hive_unescape(spark: SparkSession):
    return (
        spark._jvm.org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName
    )


_HEX = set("0123456789abcdefABCDEF")


def _unescape_path_py(s: str) -> str:
    """Pure-Python port of ExternalCatalogUtils.unescapePathName: a
    '%' followed by two hex digits decodes to that char, anything
    else stays literal (Hive only ever escapes single ASCII chars, so
    per-char decode equals the JVM's). Exists because the hot callers
    (entry_partition_values on every partitions= read,
    show_partitions) would otherwise pay one py4j round trip PER
    SEGMENT — ~10k driver->JVM calls on a 5k-leaf table for what is
    advertised as metadata-only pruning. tests pin equality against
    the JVM implementation over the escaping corpus."""
    if "%" not in s:
        return s
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if (
            c == "%"
            and i + 2 < n
            and s[i + 1] in _HEX
            and s[i + 2] in _HEX
        ):
            out.append(chr(int(s[i + 1 : i + 3], 16)))
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _render_part_value(v) -> str:
    """Spark's dir-value rendering where Python's str() diverges —
    the ONE renderer shared by entry keys and the partitions=
    manifest filter, so a key matches its dir value on both the
    write and read sides. Booleans write as 'true'/'false'.
    Timestamps write session-wall-clock with the fractional part
    TRIMMED of trailing zeros and omitted when zero (pinned against
    Spark's actual dir names in tests) — Python's str() would render
    '...05.500000' while Spark writes '...05.5', silently matching
    nothing. float keys REFUSE: Java's Double.toString ('1.0E-7')
    and Python's repr ('1e-07') disagree in the exponent range, and
    a silently-empty partition filter is worse than an error — use
    int/string/date partition keys (float partition keys are an
    antipattern everywhere)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # Python repr and Java's Double.toString agree in the
        # plain-decimal range (both print the shortest decimal
        # there), so common float keys like 1.5 keep working on
        # existing tables. Outside it Java switches to E-notation at
        # different thresholds ('1.0E-7' vs '1e-07') — refuse rather
        # than silently match nothing. NaN/inf refuse too.
        if v == v and (v == 0.0 or 1e-3 <= abs(v) < 1e7):
            return repr(v)
        raise ValueError(
            f"float partition key value {v!r} is outside the "
            "plain-decimal range where Python and Spark render dirs "
            "identically (Java E-notation diverges) — pass the "
            "exact dir string instead, or partition on "
            "int/string/date columns"
        )
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            raise ValueError(
                "timestamp partition key values must be naive "
                "(session wall clock, matching Spark's dir rendering)"
            )
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s
    return str(v)


def partition_entry_key(spark: SparkSession, pcols: list[str], values) -> str:
    """Canonical manifest entry key for ONE partition. A single-column
    table keys on the RAW value (the legacy format — unchanged, so
    existing tables read on). A multi-column table keys on the
    hive-ESCAPED dir suffix ``c1=v1/c2=v2``: self-describing,
    unambiguous for values containing '/' or '=', and exactly the
    generation-relative subdir the entry's rel path ends with.
    ``values``: one scalar, or an ordered tuple/list matching
    ``pcols``; for a multi-column table a plain STRING is accepted as
    an already-canonical key (the form entries/DML hand back) — but
    only after validating its shape, so a malformed string raises
    instead of silently popping nothing from the entry map."""
    if len(pcols) > 1 and isinstance(values, str):
        segs = values.split("/")
        if len(segs) != len(pcols) or any(
            not s.startswith(f"{c}=") for s, c in zip(segs, pcols)
        ):
            raise ValueError(
                f"touched key {values!r} is neither a value tuple nor "
                f"a canonical 'c1=v1/c2=v2' key for partition columns "
                f"{pcols!r}"
            )
        return values  # canonical (came from a manifest key)
    if not isinstance(values, (list, tuple)):
        values = [values]
    if len(values) != len(pcols):
        raise ValueError(
            f"partition key {values!r} has {len(values)} value(s) for "
            f"partition columns {pcols!r}"
        )
    if any(v is None for v in values):
        raise ValueError(
            "null partition keys are not supported (Spark writes them "
            "as __HIVE_DEFAULT_PARTITION__, which cannot round-trip "
            "through the manifest keys)"
        )

    if len(pcols) == 1:
        return _render_part_value(values[0])
    esc = _hive_escape(spark)
    return "/".join(
        f"{c}={esc(_render_part_value(v))}" for c, v in zip(pcols, values)
    )


def entry_partition_values(
    spark: SparkSession, pcols: list[str], key: str
) -> dict[str, str]:
    """Raw partition value per column, parsed back from a canonical
    entry key — the manifest-level partition-pruning primitive (each
    value as the string Spark wrote; readers cast via the committed
    schema)."""
    if len(pcols) == 1:
        return {pcols[0]: key}
    unesc = _unescape_path_py
    out: dict[str, str] = {}
    for seg, col in zip(key.split("/"), pcols):
        name, escaped = seg.split("=", 1)
        if name != col:
            raise ValueError(
                f"entry key {key!r} does not match partition columns "
                f"{pcols!r}"
            )
        out[col] = unesc(escaped)
    return out


def _schema_fields(df: DataFrame) -> list[dict[str, str]]:
    return [
        {"name": f.name, "type": f.dataType.simpleString()}
        for f in df.schema.fields
    ]


def successor(
    prev: Manifest | None,
    snapshot_id: int,
    entries: dict[str, str],
    **changes,
) -> dict:
    """The body of the commit after ``prev`` (None for a new table) —
    THE carry-forward rule every writer goes through. Table-state keys
    (``schema``, ``partition_col``, ``layout_by``, ``deletes``,
    ``rename_log``) take ``prev``'s value unless named in
    ``changes``; per-commit keys (``cdf``, ``maintenance``) take only
    what is named. So an append that names nothing but its schema can
    never drop the predecessor's delete vectors (resurrecting masked
    rows) or its evolution log (breaking the rename replay); a
    writer whose new files already materialized them names
    ``deletes=[]`` / ``rename_log=[]``.

    ``deletes`` lists live DELETE-VECTOR dirs (``_deletes/d=<id>``):
    (file_path, row_index) positions a merge-on-read DELETE published
    instead of rewriting data. Rows naming files no kept manifest lists
    are INERT, which is what lets copy-on-write rewrites carry the list
    verbatim. ``rename_log`` is the ordered evolution event log readers
    replay onto each generation (events committed after it was
    written). ``layout_by`` is a hive layout INSIDE each generation,
    distinct from ``partition_col``, which keys ENTRIES.
    ``maintenance=True`` marks a rewrite that leaves content unchanged
    (the change feed skips it); ``cdf`` names this commit's row-level
    change sidecar."""
    unknown = set(changes) - set(_TABLE_STATE) - set(_PER_COMMIT)
    if unknown:
        raise TypeError(
            f"successor: {sorted(unknown)} are not manifest keys a "
            f"writer sets (table state: {list(_TABLE_STATE)}; per "
            f"commit: {sorted(_PER_COMMIT)})"
        )
    man = {k: None if prev is None else prev[k] for k in _TABLE_STATE}
    man.update(_PER_COMMIT)
    man.update(changes)
    man["deletes"] = sorted(man["deletes"] or [])
    man["rename_log"] = man["rename_log"] or []
    man["snapshot_id"] = snapshot_id
    man["entries"] = entries
    return man


def commit_manifest(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    prev_man: Manifest | None = None,
    replace: bool = False,
    stats: dict | None | str = "auto",
    stats_columns: list[str] | None = None,
) -> None:
    """Atomically publish ``man`` — a ``successor`` body — as snapshot
    ``man["snapshot_id"]``.

    ``prev_man``: the committed predecessor when the caller already
    holds it — spares the timestamp clamp below its own
    latest_manifest read (one listStatus + one JSON read per commit
    on an object store; the retry loops pay it per attempt).

    ``stats="auto"`` carries the predecessor's per-generation stats
    sidecars for still-live generations and sweeps only NEW ones;
    callers pass an explicit block (rollback: the restored version's
    own; evolve: the remapped column list) or None (no stats).

    Published by ``layout.publish_doc``: the manifest is never
    visible half written. Without ``replace`` an existing manifest
    for the id makes the rename fail -> ``SnapshotConflict`` (first
    committer wins); with ``replace`` the new body swaps in (one
    atomic overwrite-rename on the local FS) — only valid for
    deterministic replays of the same inputs.
    """
    import time as _time

    snapshot_id = man["snapshot_id"]
    if man["schema"] is None:
        raise ValueError(
            f"commit of snapshot {snapshot_id} under {table_dir!r} "
            "records no schema — every manifest must carry one"
        )
    # Commit wall time — the key timestamp time travel (`as_of_ts`)
    # and retention policies resolve against; CLAMPED to strictly
    # above the predecessor's (Delta/Iceberg do the same), so the
    # per-table timestamp sequence stays monotone under clock skew
    # between multi-writer drivers and as_of_ts can never resolve a
    # version that includes later-stamped commits. Not part of any
    # content hash; a deterministic replay converges on content, not
    # on this.
    ts = int(_time.time() * 1000)
    prev_for_ts = (
        prev_man
        if prev_man is not None
        else latest_manifest(spark, table_dir, below=snapshot_id)
    )
    if prev_for_ts is not None:
        ts = max(ts, int(prev_for_ts["committed_at_ms"]) + 1)
    if stats == "auto":
        # Covered generations carry as pure metadata; only NEW
        # generations get their footers swept — so pruned reads on a
        # stats-bearing table never open a footer (Iceberg/Delta's
        # commit-time trade).
        # KNOWN COST under commit contention: a retrying writer
        # re-sweeps its (identical, renamed per attempt) new
        # generation's footers on every attempt — O(attempts x new
        # files), driver-ms for small local generations. A contended
        # high-throughput writer can precompute the stats once
        # against its staged files and pass the dict explicitly.
        stats = _auto_commit_stats(
            spark,
            table_dir,
            man["entries"],
            (prev_for_ts or {}).get("stats"),
            man["schema"],
            dir_cols(man),
            stats_columns,
            rename_log=man["rename_log"],
        )
    if replace:
        # A crash-replayed commit of an ALREADY-COMMITTED id carries
        # the ORIGINAL timestamp forward: re-stamping with the current
        # wall clock would put manifest N's timestamp above an
        # existing successor N+1's, breaking the per-table monotone
        # sequence resolve_as_of_ts depends on. The original was
        # clamped above ITS predecessor at first commit.
        fs, probe = hadoop_fs(spark, _manifest_path(table_dir, snapshot_id))
        if fs.exists(probe):
            ts = int(
                read_manifest(spark, table_dir, snapshot_id)[
                    "committed_at_ms"
                ]
            )
    body = json.dumps(
        {
            **man,
            "format_version": FORMAT_VERSION,
            "stats": stats,
            "committed_at_ms": ts,
        },
        sort_keys=True,
    )
    if not publish_doc(
        spark, _manifest_path(table_dir, snapshot_id), body, replace=replace
    ):
        raise SnapshotConflict(
            f"snapshot {snapshot_id} already committed under {table_dir!r}"
        )


def select_partition_entries(
    spark: SparkSession, man: dict, partitions: dict
) -> tuple[dict[str, str], dict[str, set]]:
    """The manifest entries whose partition values match
    ``{col: value | list-of-values}`` (conjunction over columns,
    disjunction within a list), plus the rendered want-sets for
    row-level residual checks — the ONE manifest-level partition
    filter shared by read_snapshot and partition-scoped maintenance
    (values compare as the string forms Spark wrote to dir names)."""
    pcols = partition_cols(man)
    if pcols is None:
        raise ValueError(
            "partitions=: table is not partitioned "
            "— use predicate= (footer skipping) or a plain filter"
        )
    unknown = sorted(set(partitions) - set(pcols))
    if unknown:
        raise ValueError(
            f"partitions=: {unknown} not in the "
            f"table's partition columns {pcols!r}"
        )
    want = {
        c: {
            _render_part_value(x)
            for x in (v if isinstance(v, (list, tuple, set)) else [v])
        }
        for c, v in partitions.items()
    }
    kept: dict[str, str] = {}
    for key, rel in man["entries"].items():
        vals = entry_partition_values(spark, pcols, key)
        if all(vals[c] in want[c] for c in want):
            kept[key] = rel
    return kept, want
