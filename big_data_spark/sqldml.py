"""SQL DML over snapshot tables: ``delete_where`` / ``update_where`` /
``merge_snapshot`` as SQL statements, so a SQL user can write as
well as SELECT with time travel (catalog.register_snapshot_views).
Plain ``spark.sql`` cannot parse DELETE/UPDATE/MERGE for a
non-catalog format (Spark routes DML through a catalog's table
capabilities, which raw-parquet manifests don't implement), so this
module is a THIN statement dispatcher: recognize the DML statement
shape, hand the WHERE/SET/WHEN text to Spark's OWN expression parser
(``F.expr`` — no home-grown expression grammar), and route to the
snapshot-layer primitives. Everything after the dispatch is the
already-tested engine: copy-on-write rewrites, manifest commits,
change feed, time travel.

Supported statements (one per call; case-insensitive keywords):

- ``DELETE FROM <table> WHERE <predicate>``
- ``UPDATE <table> SET col = expr[, ...] WHERE <predicate>``
- ``MERGE INTO <table> [AS] [t] USING <view> [AS] [s]
     ON t.k = s.k [AND t.k2 = s.k2 ...]
     [WHEN MATCHED [AND <pred>] THEN DELETE]
     [WHEN MATCHED [AND <pred>] THEN UPDATE SET * | col = expr[, ...]]
     [WHEN NOT MATCHED [AND <pred>] THEN INSERT *]``
- ``INSERT INTO <table> [(col, ...)] VALUES (...)[, ...]`` and
  ``INSERT INTO <table> [(col, ...)] SELECT ...`` — the row source
  (VALUES / SELECT) is parsed by Spark's OWN parser, mapped
  positionally onto the column list (or the full committed schema),
  cast to the committed types, unlisted columns typed-NULL-padded,
  and appended through the multi-writer retry path.
  ``INSERT OVERWRITE [TABLE] <table> ...`` publishes the row source
  as the table's full new content (one atomic commit).
- ``ALTER TABLE <table> RENAME COLUMN <old> TO <new>`` /
  ``DROP COLUMN <col>`` / ``ALTER COLUMN <col> TYPE <type>`` — the
  SQL spelling of ``evolve_schema`` (metadata-only commit).
- ``OPTIMIZE <table> [ZORDER BY (c1, c2, ...)]`` — maintenance pass,
  or the atomic z-order rewrite with the column list.
- ``SHOW PARTITIONS <table>`` — one row per live partition leaf
  (typed values + n_files/total_bytes) from the manifest entry keys;
  refuses unpartitioned tables like Spark does.
- ``ANALYZE TABLE <table> [COMPUTE STATISTICS [FOR COLUMNS c1, ...]]``
  — backfill/upgrade the manifest's per-file column stats as a
  maintenance commit (``analyze_table``); fully-covered tables no-op.
- SELECT-side time travel (``rewrite_time_travel``, wired into
  SnapshotCatalog.sql): ``<table> VERSION AS OF <n>``, ``<table>
  VERSION AS OF '<tag>'`` and ``<table> TIMESTAMP AS OF
  '<iso-ts>'|<epoch_ms>`` fragments rewrite to version views
  resolved through the manifest layer.

``<table>`` resolves through the caller's name -> table_dir mapping
(SnapshotCatalog keeps it); MERGE's ``<view>`` is any registered
Spark temp view / table. Anything outside this subset raises with
the exact unsupported fragment — a silent partial parse of a DML
statement is how tables get corrupted.

Scale: the dispatcher itself is O(statement text) on the driver;
every data-touching decision (which generations rewrite, pruning,
broadcast) is made by the routed primitive.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.stats import sql_conjuncts

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)(?:\s+AS)?\s*(\w+)?\s+"
    r"USING\s+(\w+)(?:\s+AS)?\s*(\w+)?\s+"
    r"ON\s+(.+?)\s*(WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(NOT\s+MATCHED|MATCHED)"
    r"(?:\s+AND\s+(.+?))?\s+THEN\s+"
    r"(DELETE|INSERT\s+\*|UPDATE\s+SET\s+.+?)"
    r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)",
    re.IGNORECASE | re.DOTALL,
)


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(INTO|OVERWRITE(?:\s+TABLE)?)\s+(\w+)\s*"
    r"(?:\(([^)]*)\)\s*)?"
    r"((?:VALUES|SELECT|WITH|TABLE)\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(?:"
    r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"|DROP\s+COLUMN\s+(\w+)"
    # The type token admits parameterized types — decimal(18,2),
    # decimal(18, 2) — so they reach evolve_schema's loud
    # 'not a lossless widening' validation instead of silently
    # falling through to plain spark.sql.
    r"|ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(\w+(?:\s*\([^)]*\))?)"
    r")\s*;?\s*$",
    re.IGNORECASE,
)


def is_dml(statement: str) -> bool:
    head = statement.lstrip()[:12].upper()
    return head.startswith(("DELETE", "UPDATE", "MERGE", "INSERT", "ALTER"))


_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(\w+)"
    r"(?:\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+COLUMNS\s+([\w\s,`]+?))?)?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s*"
    r"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?"
    r"(?:LOCATION\s+'([^']+)'\s*)?"
    r"AS\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    # The PARTITION group is QUOTE-AWARE: a ')' or ',' inside a
    # single-quoted value ('a)b', 'Washington, DC') stays part of the
    # clause instead of ending it; unquoted parens (function calls)
    # keep the whole statement unclaimed — spark.sql then rejects
    # OPTIMIZE loudly.
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+PARTITION\s*\(\s*((?:'(?:[^']|'')*'|[^()'])*?)\s*\))?"
    r"(?:\s+ZORDER\s+BY\s+\(\s*([\w\s,`]+?)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(\w+)"
    r"(?:\s+RETAIN\s+(\d+)\s+(SNAPSHOTS?|HOURS?))?\s*;?\s*$",
    re.IGNORECASE,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# SHOW *SNAPSHOT* TABLES on purpose: bare SHOW TABLES passes through
# to spark.sql (temp views + session catalog, its own schema) —
# claiming it would silently swap the result schema and hide
# non-snapshot views.
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+SNAPSHOT\s+TABLES\s*;?\s*$", re.IGNORECASE
)
# The metadata-answerable SELECT shape — a comma list where EVERY
# item is COUNT(*) / MIN(col) / MAX(col) / SUM(col) / AVG(col) (or a
# bare GROUP BY column) with an optional alias, over ONE registered
# table, with optional time travel, WHERE and GROUP BY clauses — the
# planning query `SELECT MIN(d), MAX(d) FROM t`, not a general
# optimizer. Parsed by
# parse_metadata_select, consumed by SnapshotCatalog.sql, NOT
# route_statement — the fast path must only answer when the catalog's
# pinned head view and the latest manifest agree (the catalog tracks
# that; a bare dispatcher cannot), or a stale registration would
# return rows a simultaneous SELECT * does not.
_META_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)"
    r"(?:\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+))?"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+GROUP\s+BY\s+([\w\s,`]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_META_ITEM_RE = re.compile(
    r"^(?:COUNT\s*\(\s*\*\s*\)|(MIN|MAX|SUM|AVG)\s*\(\s*(\w+)\s*\)"
    r"|`?(\w+)`?)"
    r"(?:\s+AS\s+(\w+))?$",
    re.IGNORECASE | re.DOTALL,
)
def parse_metadata_select(
    spark: SparkSession,
    statement: str,
) -> (
    tuple[
        str,
        list[tuple[str, str | None, str]],
        tuple[str, str] | None,
        list[tuple[str, list]] | None,
        list[str] | None,
    ]
    | None
):
    """``(table, [(func, col|None, out_name), ...], travel|None,
    where|None, group|None)`` when the whole statement is a bare
    aggregate list the metadata layer COULD answer, else None.
    ``func`` is lowercased (count/min/max/sum/avg) or ``"col"`` for
    a bare column reference (legal ONLY under GROUP BY — the caller
    checks it names a group column); ``out_name`` is the alias or
    Spark's default output name for the bare call (``count(1)`` /
    ``min(col)`` / the column's own name), so a metadata answer and
    the passthrough query are column-for-column indistinguishable.
    ``travel`` carries a trailing time-travel clause as
    ``("version", "3")``, ``("tag", "gold")`` or
    ``("ts", "2026-08-15 13:00:00")`` — resolution (tag lookup,
    timestamp→id) is the caller's job against the live table, exactly
    like claiming. ``where`` is a conjunct list
    ``[(col, [value, ...]), ...]`` from ``col = literal`` /
    ``col IN (...)`` clauses, read from Spark's own parse tree
    (io/stats.sql_conjuncts) with typed literal values — whether each
    col is a PARTITION column (the only kind metadata can answer) is
    the caller's job too; any conjunct outside the shape unclaims the
    whole statement (fall through to the real query, never a guess).
    ``group`` is the GROUP BY column list — the partition-wise rollup
    shape."""
    m = _META_SELECT_RE.match(statement)
    if not m:
        return None
    items: list[tuple[str, str | None, str]] = []
    for raw in m.group(1).split(","):
        im = _META_ITEM_RE.match(raw.strip())
        if not im:
            return None
        if im.group(3) is not None:
            func, col = "col", im.group(3)
            out = im.group(4) or col
        else:
            func = (im.group(1) or "count").lower()
            col = im.group(2)
            out = im.group(4) or (
                "count(1)" if func == "count" else f"{func}({col})"
            )
        items.append((func, col, out))
    kind, val = m.group(3), m.group(4)
    if kind is None:
        travel = None
    elif kind.upper() == "VERSION":
        travel = (
            ("tag", val[1:-1]) if val.startswith("'")
            else ("version", val)
        )
    else:
        travel = ("ts", val[1:-1] if val.startswith("'") else val)
    group = None
    if m.group(6) is not None:
        # An EMPTY comma segment ("GROUP BY p," / "GROUP BY ,p") is
        # a syntax error the passthrough would raise on — unclaim
        # rather than silently answering invalid SQL.
        group = [
            c.strip().strip("`") for c in m.group(6).split(",")
        ]
        if not group or any(
            not re.match(r"^\w+$", c) for c in group
        ):
            return None
    if group is None and any(f == "col" for f, _, _ in items):
        return None  # a bare column without GROUP BY is not ours
    where = None
    if m.group(5) is not None:
        where = []
        for conj in sql_conjuncts(spark, m.group(5)):
            if conj is None or conj[1] not in ("=", "in"):
                return None  # conjunct outside the claimable shape
            where.append((conj[0], conj[2]))
    return m.group(2), items, travel, where, group


_REPARTITION_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+REPARTITION\s+BY\s+"
    r"(?:\(\s*([\w\s,`]+?)\s*\)|NONE)\s*;?\s*$",
    re.IGNORECASE,
)


def route_statement(
    spark: SparkSession,
    statement: str,
    tables: dict[str, str],
    base_dir: str | None = None,
    persisted: set | None = None,
):
    """The catalog's dispatch: ``execute_dml``'s result when the
    statement is snapshot-table DML this module handles, a DataFrame
    for DESCRIBE HISTORY, a stats dict for the maintenance
    statements (OPTIMIZE / VACUUM [RETAIN n SNAPSHOTS | n HOURS] /
    RESTORE TABLE ... TO VERSION AS OF n) and for the table-lifecycle
    statements (CREATE TABLE [PARTITIONED BY (...)] [LOCATION '...']
    AS SELECT and DROP TABLE [IF EXISTS]), else None —
    meaning PASS THROUGH to plain ``spark.sql``. DELETE/UPDATE/MERGE
    are always claimed (plain spark.sql cannot run them for this
    format, so strict errors beat silent misroutes); INSERT INTO /
    INSERT OVERWRITE and ALTER on REGISTERED snapshot tables are
    claimed; shapes outside the subset — qualified names, ALTER VIEW,
    targets not registered as snapshot tables — pass through to
    spark.sql and must keep working there. ``base_dir`` roots a CTAS
    without LOCATION
    (``<base_dir>/<name>``); CREATE mutates ``tables`` in place and
    DROP removes the entry, so a caller-owned dict stays the one
    source of truth."""
    head = statement.lstrip()[:12].upper()
    if head.startswith("CREATE"):
        m = _CREATE_RE.match(statement)
        # Claim CTAS only when the statement names a LOCATION or the
        # catalog was built with base_dir= (the snapshot-format
        # opt-in) — a plain 'CREATE TABLE t AS SELECT' against the
        # Spark catalog works through spark.sql and must keep working.
        if m and (m.group(3) or base_dir is not None):
            return _execute_create(spark, m, tables, base_dir)
        return None  # CREATE VIEW / Spark-catalog CTAS — spark.sql's
    if head.startswith("DROP"):
        m = _DROP_RE.match(statement)
        # Claim only REGISTERED snapshot tables; DROP of a spark temp
        # view (and IF EXISTS probes of unknown names) keeps passing
        # through to plain spark.sql. The regex (not a literal-space
        # head probe) decides, so 'DROP\nTABLE t' routes too.
        if m and m.group(2) in tables:
            return _execute_drop(spark, m, tables)
        return None
    if head.startswith(("DELETE", "UPDATE", "MERGE")):
        return execute_dml(spark, statement, tables)
    if head.startswith(("INSERT", "ALTER")):
        m = _INSERT_RE.match(statement)
        if m and m.group(2) in tables:
            return execute_dml(spark, statement, tables)
        m = _REPARTITION_RE.match(statement)
        if m and m.group(1) in tables:
            # ALTER TABLE t REPARTITION BY (c1, c2) | NONE — the SQL
            # spelling of the one-call partition-spec rewrite;
            # checked BEFORE the generic ALTER claim so
            # the clause never reaches _execute_alter's rename/drop/
            # type parser.
            from big_data_spark.io.table_writes import repartition_table

            cols = m.group(2)
            spec = (
                [c.strip().strip("`") for c in cols.split(",") if c.strip()]
                if cols
                else None
            )
            st = repartition_table(spark, tables[m.group(1)], spec)
            return {
                "statement_type": "REPARTITION",
                "table": m.group(1),
                **st,
            }
        m = _ALTER_RE.match(statement)
        if m and m.group(1) in tables:
            return execute_dml(spark, statement, tables)
        return None
    m = _HISTORY_RE.match(statement)
    if m and m.group(1) in tables:
        from big_data_spark.io.changes import table_history

        return table_history(spark, tables[m.group(1)])
    m = _DETAIL_RE.match(statement)
    if m and m.group(1) in tables:
        # DESCRIBE DETAIL t (Delta's spelling): one manifest
        # summary row — partition columns, live file count/bytes,
        # stats coverage, tags. Metadata-only.
        from big_data_spark.io.aggregates import table_detail

        return table_detail(spark, tables[m.group(1)])
    m = _SHOW_PARTS_RE.match(statement)
    if m and m.group(1) in tables:
        # SHOW PARTITIONS t: one row per live partition
        # leaf with typed values + n_files/total_bytes, answered from
        # manifest entry keys — Spark's own SHOW PARTITIONS errors on
        # these tables (temp views), so claiming the registered names
        # is purely additive.
        from big_data_spark.io.aggregates import show_partitions

        return show_partitions(spark, tables[m.group(1)])
    if _SHOW_TABLES_RE.match(statement):
        # SHOW SNAPSHOT TABLES: the catalog's registered
        # snapshot tables — name, dir, and whether the binding
        # persists in the warehouse registry. Metadata-only; bindings
        # are the driver-side dict, no storage reads. (Bare SHOW
        # TABLES stays spark.sql's.)
        rows = [
            (n, tables[n], n in (persisted or set()))
            for n in sorted(tables)
        ]
        return spark.createDataFrame(
            rows,
            "table_name string, table_dir string, persisted boolean",
        )
    m = _ANALYZE_RE.match(statement)
    if m and m.group(1) in tables:
        # ANALYZE TABLE t [COMPUTE STATISTICS [FOR COLUMNS c1, c2]]:
        # backfill/upgrade the manifest stats block as a
        # maintenance commit — Spark's spelling, the snapshot
        # format's semantics. Unregistered names pass through to
        # spark.sql (its catalog-table ANALYZE).
        from big_data_spark.io.aggregates import analyze_table

        cols = (
            [
                c
                for c in (
                    x.strip().strip("`")
                    for x in m.group(2).split(",")
                )
                if c
            ]
            if m.group(2)
            else None
        )
        st = dict(
            analyze_table(spark, tables[m.group(1)], stats_columns=cols)
        )
        st["statement_type"] = "ANALYZE"
        st["table"] = m.group(1)
        return st
    m = re.match(
        r"^\s*ANALYZE\s+TABLE\s+(\w+)\b", statement, re.IGNORECASE
    )
    if m and m.group(1) in tables:
        # A registered snapshot table with an ANALYZE clause outside
        # the supported subset (FOR ALL COLUMNS / NOSCAN /
        # PARTITION(...)) — raising here beats handing it to
        # spark.sql, whose TABLE_OR_VIEW_NOT_FOUND for a table this
        # catalog owns would point the user at the wrong problem.
        raise ValueError(
            "unsupported ANALYZE clause for snapshot table "
            f"{m.group(1)!r} — supported: ANALYZE TABLE t "
            "[COMPUTE STATISTICS [FOR COLUMNS c1, c2, ...]]"
        )
    m = _OPTIMIZE_RE.match(statement)
    if m and m.group(1) in tables:
        parts = None
        if m.group(2):
            # OPTIMIZE t PARTITION (ds = '2026-01-01', region = 'eu')
            # (Delta's OPTIMIZE ... WHERE, Hive's clause spelling):
            # scope the rewrite to the matching partitions — the only
            # affordable shape at 100 TB. Each pair is one `col =
            # literal` conjunct read by Spark's parser; anything else
            # fails loudly here rather than silently rewriting the
            # whole table.
            parts = {}
            for pair in _split_top_level(m.group(2)):
                conj = sql_conjuncts(spark, pair)
                if len(conj) != 1 or not conj[0] or conj[0][1] != "=":
                    raise ValueError(
                        f"OPTIMIZE PARTITION: cannot parse {pair!r} — "
                        "use `col = 'string'` or `col = number` pairs"
                    )
                col, _, (val,) = conj[0]
                parts[col] = val
        if m.group(3) or parts is not None:
            # OPTIMIZE t [PARTITION (...)] ZORDER BY (c1, c2): the
            # SQL spelling of the (optionally partition-scoped)
            # z-order / compaction rewrite (io/compact.py
            # compact_snapshot) — one atomic rewrite clustered on the
            # interleaved key.
            from big_data_spark.io.compact import compact_snapshot

            cols = (
                [
                    c.strip().strip("`")
                    for c in m.group(3).split(",")
                    if c.strip()
                ]
                if m.group(3)
                else None
            )
            st = compact_snapshot(
                spark,
                tables[m.group(1)],
                zorder_by=cols,
                partitions=parts,
            )
            return {
                "statement_type": "OPTIMIZE",
                "table": m.group(1),
                "zorder_by": cols,
                **({"partitions": parts} if parts else {}),
                **st,
            }
        from big_data_spark.io.compact import maintain_table

        st = maintain_table(spark, tables[m.group(1)])
        return {"statement_type": "OPTIMIZE", "table": m.group(1), **st}
    m = _VACUUM_RE.match(statement)
    if m and m.group(1) in tables:
        from big_data_spark.io.table_writes import vacuum_snapshots

        unit = (m.group(3) or "SNAPSHOTS").upper()
        # VACUUM t RETAIN n SNAPSHOTS (commit-count retention) or
        # RETAIN n HOURS (wall-clock retention, Delta's spelling) —
        # hours keep the keep_last=2 replay floor and
        # additionally pin the trailing time window.
        st = vacuum_snapshots(
            spark,
            tables[m.group(1)],
            keep_last=(
                int(m.group(2))
                if m.group(2) and unit.startswith("SNAPSHOT")
                else 2
            ),
            retain_hours=(
                float(m.group(2))
                if m.group(2) and unit.startswith("HOUR")
                else None
            ),
        )
        return {"statement_type": "VACUUM", "table": m.group(1), **st}
    m = _RESTORE_RE.match(statement)
    if m and m.group(1) in tables:
        from big_data_spark.io.table_writes import rollback_snapshot

        sid = rollback_snapshot(spark, tables[m.group(1)], int(m.group(2)))
        return {
            "statement_type": "RESTORE",
            "table": m.group(1),
            "snapshot_id": sid,
        }
    return None


_TRAVEL_RE = re.compile(
    # String literals first so an alias-looking fragment inside one
    # survives verbatim (same trick as the MERGE alias rewriter).
    r"'(?:[^']|'')*'"
    r"|\b(\w+)\s+(TIMESTAMP|VERSION)\s+AS\s+OF\s+('[^']*'|\d+)",
    re.IGNORECASE,
)


def _parse_ts_ms(text: str) -> int:
    """Epoch millis from a TIMESTAMP AS OF literal: a bare integer is
    epoch ms; a quoted ISO-8601 string ('2026-08-15 13:00:00', with
    or without a zone) parses via datetime.fromisoformat — naive
    strings are read as UTC, matching the manifests' epoch-ms
    ``committed_at_ms`` (documented; local-time guessing would make
    the same statement resolve different versions per machine)."""
    from datetime import datetime, timedelta, timezone

    if text.isdigit():
        return int(text)
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    # EXACT integer epoch math: float `timestamp() * 1000` truncates
    # 1ms low on ~0.6% of values (measured), which made a statement
    # quoting a commit's own timestamp flakily resolve the previous
    # version. timedelta floor-division is exact.
    return (dt - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(
        milliseconds=1
    )


def rewrite_time_travel(
    spark: SparkSession, statement: str, tables: dict[str, str]
) -> str:
    """The SQL spelling of time travel for the snapshot format:
    rewrite ``<table> VERSION AS OF <n>``, ``<table> VERSION AS OF
    '<tag>'`` and ``<table> TIMESTAMP AS OF '<ts>'|<epoch_ms>``
    fragments (plain ``spark.sql`` cannot parse them for a
    non-catalog format) into a just-registered ``<table>_v<id>`` temp
    view, resolving tags and timestamps through the manifest layer.
    Statements naming no registered snapshot table pass through
    untouched; string literals are never rewritten."""

    def _sub(m: re.Match) -> str:
        if m.group(1) is None:
            return m.group(0)  # string literal, untouched
        name, kind, val = m.group(1), m.group(2).upper(), m.group(3)
        if name not in tables:
            return m.group(0)
        from big_data_spark.io.table_reads import read_snapshot, resolve_as_of_ts
        from big_data_spark.io.tags import list_tags

        table_dir = tables[name]
        if kind == "VERSION":
            if val.startswith("'"):
                tag = val[1:-1]
                tags = list_tags(spark, table_dir)
                if tag not in tags:
                    raise ValueError(
                        f"VERSION AS OF {val}: tag {tag!r} not found "
                        f"under {name!r} (tags: {sorted(tags)})"
                    )
                sid = tags[tag]
            else:
                sid = int(val)
        else:
            if not val.startswith("'") and not val.isdigit():
                raise ValueError(
                    f"TIMESTAMP AS OF takes a quoted ISO string or "
                    f"epoch millis, got {val!r}"
                )
            sid = resolve_as_of_ts(
                spark, table_dir, _parse_ts_ms(val.strip("'"))
            )
        vname = f"{name}_v{sid}"
        read_snapshot(spark, table_dir, as_of=sid).createOrReplaceTempView(
            vname
        )
        return vname

    return _TRAVEL_RE.sub(_sub, statement)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and string literals —
    enough to separate SET assignments whose expressions contain
    function calls or quoted commas."""
    parts, depth, quote, start = [], 0, None, 0
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_assignments(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for item in _split_top_level(text):
        m = re.match(r"^(\w+)\s*=\s*(.+)$", item, re.DOTALL)
        if not m:
            raise ValueError(
                f"unsupported SET assignment {item!r} — expected "
                "'col = <expression>'"
            )
        out[m.group(1)] = m.group(2).strip()
    return out


def _parse_merge_keys(on_text: str, t_alias: str, s_alias: str) -> list[str]:
    """Equality-key conjunction 't.k = s.k AND ...' -> ['k', ...].
    merge_into joins on named keys, so both sides must name the SAME
    column; anything else in the ON clause is refused loudly."""
    keys = []
    for term in re.split(r"\s+AND\s+", on_text, flags=re.IGNORECASE):
        m = re.match(
            rf"^\s*(?:({t_alias}|{s_alias})\.)?(\w+)\s*=\s*"
            rf"(?:({t_alias}|{s_alias})\.)?(\w+)\s*$",
            term,
            re.IGNORECASE,
        )
        if not m or m.group(2).lower() != m.group(4).lower():
            raise ValueError(
                f"unsupported MERGE ON term {term.strip()!r} — the "
                "dispatcher routes equality keys only "
                "('t.col = s.col AND ...'); express richer match "
                "logic in the source view"
            )
        keys.append(m.group(2))
    return keys


def execute_dml(
    spark: SparkSession, statement: str, tables: dict[str, str]
) -> dict:
    """Run one DML statement against the snapshot tables in
    ``tables`` (name -> table_dir). Returns the routed primitive's
    stats dict (plus ``statement_type``). Raises ValueError for
    unknown tables or unsupported syntax — never a partial apply."""
    m = _DELETE_RE.match(statement)
    if m:
        from big_data_spark.io.dml import delete_where

        table_dir = _resolve(m.group(1), tables)
        st = delete_where(spark, table_dir, m.group(2), attempts=3)
        return {"statement_type": "DELETE", "table": m.group(1), **st}
    m = _UPDATE_RE.match(statement)
    if m:
        from big_data_spark.io.dml import update_where

        table_dir = _resolve(m.group(1), tables)
        st = update_where(
            spark,
            table_dir,
            m.group(3),
            _parse_assignments(m.group(2)),
            attempts=3,
        )
        return {"statement_type": "UPDATE", "table": m.group(1), **st}
    m = _MERGE_RE.match(statement)
    if m:
        return _execute_merge(spark, m, tables)
    m = _INSERT_RE.match(statement)
    if m:
        return _execute_insert(spark, m, tables)
    m = _ALTER_RE.match(statement)
    if m:
        return _execute_alter(spark, m, tables)
    raise ValueError(
        "unsupported DML statement — the dispatcher accepts "
        "DELETE FROM ... WHERE, UPDATE ... SET ... WHERE, "
        "INSERT INTO ... VALUES/SELECT, ALTER TABLE "
        "RENAME/DROP/ALTER COLUMN, and the documented MERGE INTO "
        f"subset; got: {statement.strip()[:120]!r}"
    )


def _execute_insert(
    spark: SparkSession, m: re.Match, tables: dict[str, str]
) -> dict:
    from big_data_spark.io.manifest import latest_manifest
    from big_data_spark.io.table_writes import append_with_retry

    mode, table_name, col_text, body = m.group(1, 2, 3, 4)
    overwrite = mode.upper().startswith("OVERWRITE")
    table_dir = _resolve(table_name, tables)
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"INSERT target {table_name!r} has no snapshots")
    schema = man["schema"]
    by_name = {f["name"]: f for f in schema}
    targets = (
        [c.strip() for c in col_text.split(",")]
        if col_text
        else [f["name"] for f in schema]
    )
    unknown = [c for c in targets if c not in by_name]
    if unknown:
        raise ValueError(
            f"INSERT column(s) {unknown} not in {table_name!r}'s "
            f"schema {[f['name'] for f in schema]}"
        )
    # Spark's own parser produces the row source (VALUES is a valid
    # standalone query); its output maps POSITIONALLY onto the
    # target column list, standard SQL semantics. Time-travel
    # fragments in a SELECT source resolve first, so
    # 'INSERT INTO t SELECT * FROM t VERSION AS OF 0' (the
    # restore-old-rows idiom) works through the same door.
    src = spark.sql(rewrite_time_travel(spark, body, tables))
    if len(src.columns) != len(targets):
        raise ValueError(
            f"INSERT supplies {len(src.columns)} column(s) for "
            f"{len(targets)} target(s) {targets}"
        )
    row = src.toDF(*targets)  # positional rename, collision-free
    # Cast to committed types; unlisted columns appear as typed
    # NULLs; committed column order.
    cols = [
        (
            F.col(f["name"]).cast(f["type"])
            if f["name"] in targets
            else F.lit(None).cast(f["type"])
        ).alias(f["name"])
        for f in schema
    ]
    if overwrite:
        # INSERT OVERWRITE: the row source becomes the table's FULL
        # new content as one atomic commit. A PARTITIONED table
        # keeps its partitioning — Delta's behavior — by publishing
        # through the partial writer with every prior partition
        # touched: old keys drop, the new content's partitions key
        # the manifest, and partition_col survives so later partial
        # writers (CDC mirrors, partial DML) keep working (routing
        # through write_snapshot would silently re-lay the table out
        # unpartitioned).
        from big_data_spark.io.manifest import partition_cols
        from big_data_spark.io.table_writes import (
            write_snapshot,
            write_snapshot_partial,
        )

        if partition_cols(man):
            sid = man["snapshot_id"] + 1
            write_snapshot_partial(
                row.select(*cols),
                table_dir,
                sid,
                man["partition_col"],
                list(man["entries"].keys()),
                # Fresh full content: nothing old to mask or map.
                deletes=[],
                rename_log=[],
            )
        else:
            sid = write_snapshot(row.select(*cols), table_dir)
    else:
        # Appends keep the table's generation layout (a plain append
        # onto a laid-out table is refused as mixed-layout).
        sid = append_with_retry(
            row.select(*cols), table_dir, partition_by=man["layout_by"]
        )
    # Report what actually LANDED: a parquet metadata count of the
    # committed generation — never a re-execution of the row source
    # (a non-deterministic SELECT would report rows it didn't write).
    from big_data_spark.io.layout import hadoop_fs
    from big_data_spark.io.layout import generation_dir

    gdir = generation_dir(table_dir, sid)
    fs, gp = hadoop_fs(spark, gdir)
    n = spark.read.parquet(gdir).count() if fs.exists(gp) else 0
    return {
        "statement_type": "INSERT OVERWRITE" if overwrite else "INSERT",
        "table": table_name,
        "inserted_rows": int(n),
        "snapshot_id": sid,
    }


def _execute_create(
    spark: SparkSession,
    m: re.Match,
    tables: dict[str, str],
    base_dir: str | None,
) -> dict:
    """CREATE TABLE <t> [PARTITIONED BY (c1[, c2...])] [LOCATION 'p']
    AS <select> — how a SQL user MAKES a table. The row source
    goes through Spark's own parser (time-travel fragments resolve
    first), lands as snapshot 0 via write_snapshot /
    write_snapshot_partial, and the name registers into ``tables``.
    Refuses an already-registered name and a non-empty target dir —
    CTAS creates, it never adopts or overwrites."""
    from big_data_spark.io.layout import hadoop_fs
    from big_data_spark.io.layout import generation_dir
    from big_data_spark.io.table_writes import (
        write_snapshot,
        write_snapshot_partial,
    )

    name, part_text, location, body = m.group(1, 2, 3, 4)
    if name in tables:
        raise ValueError(
            f"CREATE TABLE: {name!r} is already registered "
            f"(at {tables[name]!r}) — DROP it first, or pick a new name"
        )
    if location is None:
        if base_dir is None:
            # Defensive only: route_statement claims CTAS exclusively
            # with a LOCATION or a base_dir catalog (a plain
            # Spark-catalog CTAS passes through to spark.sql), so
            # direct callers are the only way here.
            raise ValueError(
                "CREATE TABLE needs LOCATION '<dir>' (or a catalog "
                "constructed with base_dir=) to place the table"
            )
        if name.lower() == "_catalog":
            # Reserved: <base_dir>/_catalog is the warehouse's
            # per-table binding directory — a data table
            # there would interleave with registry files.
            raise ValueError(
                "CREATE TABLE: '_catalog' is reserved for the "
                "warehouse registry — pick another name or an "
                "explicit LOCATION"
            )
        location = f"{base_dir.rstrip('/')}/{name}"
    fs, lp = hadoop_fs(spark, location)
    if fs.exists(lp) and fs.listStatus(lp):
        raise ValueError(
            f"CREATE TABLE: {location!r} exists and is not empty — "
            "CTAS never adopts or overwrites; register an existing "
            "snapshot table instead, or point at a fresh location"
        )
    from big_data_spark.io.manifest import SnapshotConflict

    src = spark.sql(rewrite_time_travel(spark, body, tables))
    try:
        if part_text:
            pcols = [
                c.strip().strip("`")
                for c in part_text.split(",")
                if c.strip()
            ]
            missing = [c for c in pcols if c not in src.columns]
            if missing:
                raise ValueError(
                    f"PARTITIONED BY column(s) {missing} not in the "
                    f"SELECT's columns {src.columns}"
                )
            # New table: no predecessor entries to reconcile away, so
            # the touched list is empty; the writer derives the entry
            # map from the written leaves. Two concurrent CTAS to one
            # location race on the one-rename dir claim and the
            # manifest commit: the loser refuses, never touching the
            # winner's generation.
            write_snapshot_partial(
                src,
                location,
                0,
                pcols[0] if len(pcols) == 1 else pcols,
                touched_keys=[],
            )
            sid = 0
        else:
            sid = write_snapshot(src, location)
    except SnapshotConflict:
        # A CONCURRENT writer committed here first — the location now
        # holds THEIR table, not our residue; deleting it would
        # destroy a committed table. The publish path already removed
        # our staged data.
        raise
    except Exception:
        # The target was empty-or-absent by the guard above and no
        # other committer is involved, so any residue is OURS: remove
        # it, or a failed CTAS (null partition key, mid-write error)
        # would leave a manifest-less non-empty dir that blocks the
        # corrected retry ("never adopts") AND refuses DROP TABLE (no
        # _manifests) — hand-cleanup territory.
        fs.delete(lp, True)
        raise
    tables[name] = location
    gdir = generation_dir(location, sid)
    fs, gp = hadoop_fs(spark, gdir)
    n = spark.read.parquet(gdir).count() if fs.exists(gp) else 0
    return {
        "statement_type": "CREATE TABLE",
        "table": name,
        "table_dir": location,
        "partitioned_by": (
            [c.strip().strip("`") for c in part_text.split(",")]
            if part_text
            else None
        ),
        "rows": int(n),
        "snapshot_id": sid,
    }


def _execute_drop(
    spark: SparkSession, m: re.Match, tables: dict[str, str]
) -> dict:
    """DROP TABLE [IF EXISTS] <t>: deregister and recursively delete
    the table dir — GUARDED: only a dir that actually carries a
    ``_manifests`` commit log is deleted (the registration could
    point anywhere; an unguarded recursive delete of a mis-registered
    path would be a data-loss foot-gun)."""
    from big_data_spark.io.layout import hadoop_fs

    name = m.group(2)
    table_dir = tables[name]
    fs, root_probe = hadoop_fs(spark, table_dir)
    if not fs.exists(root_probe):
        # The dir is already gone (removed out-of-band): DROP still
        # releases the binding — a persistent-registry entry must not
        # become permanently un-droppable.
        del tables[name]
        return {
            "statement_type": "DROP TABLE",
            "table": name,
            "table_dir": table_dir,
            "dropped": False,
        }
    fs, mp = hadoop_fs(spark, f"{table_dir}/_manifests")
    if not fs.exists(mp):
        raise ValueError(
            f"DROP TABLE {name}: {table_dir!r} has no _manifests dir "
            "— not a snapshot table; refusing the recursive delete "
            "(deregister it manually if the mapping is stale)"
        )
    _, root = hadoop_fs(spark, table_dir)
    fs.delete(root, True)
    del tables[name]
    return {
        "statement_type": "DROP TABLE",
        "table": name,
        "table_dir": table_dir,
        "dropped": True,
    }


def _execute_alter(
    spark: SparkSession, m: re.Match, tables: dict[str, str]
) -> dict:
    from big_data_spark.io.table_reads import evolve_schema

    table_name = m.group(1)
    table_dir = _resolve(table_name, tables)
    rename_old, rename_new, drop_col, widen_col, widen_type = m.group(
        2, 3, 4, 5, 6
    )
    if rename_old:
        sid = evolve_schema(
            spark, table_dir, renames={rename_old: rename_new}
        )
        op = f"RENAME {rename_old} -> {rename_new}"
    elif drop_col:
        sid = evolve_schema(spark, table_dir, drops=[drop_col])
        op = f"DROP {drop_col}"
    else:
        sid = evolve_schema(
            spark, table_dir, widens={widen_col: widen_type.lower()}
        )
        op = f"ALTER {widen_col} TYPE {widen_type.lower()}"
    return {
        "statement_type": "ALTER",
        "table": table_name,
        "operation": op,
        "snapshot_id": sid,
    }


def _resolve(name: str, tables: dict[str, str]) -> str:
    if name not in tables:
        raise ValueError(
            f"unknown snapshot table {name!r} — registered: "
            f"{sorted(tables)}"
        )
    return tables[name]


def _execute_merge(
    spark: SparkSession, m: re.Match, tables: dict[str, str]
) -> dict:
    from big_data_spark.operators.merge import merge_snapshot

    target_name = m.group(1)
    t_alias = m.group(2) or "t"
    source_name = m.group(3)
    s_alias = m.group(4) or "s"
    table_dir = _resolve(target_name, tables)
    keys = _parse_merge_keys(m.group(5), t_alias, s_alias)
    when_text = m.group(6)
    whens, pos = [], 0
    for match in _WHEN_RE.finditer(when_text):
        if when_text[pos : match.start()].strip():
            raise ValueError(
                "unparsed MERGE text before clause: "
                f"{when_text[pos:match.start()].strip()!r}"
            )
        whens.append(match.groups())
        pos = match.end()
    if not whens or when_text[pos:].strip():
        raise ValueError(
            f"unparsed MERGE WHEN clause tail: {when_text[pos:].strip()!r}"
        )
    kwargs: dict = {"insert": False}

    if t_alias == s_alias:
        raise ValueError(
            f"MERGE target and source share the alias {t_alias!r} — "
            "column references would be ambiguous"
        )
    alias_map = {t_alias: "t", s_alias: "s"}

    def _alias_expr(text: str):
        # merge_into exposes the joined row under t./s. aliases; map
        # the statement's aliases onto them in ONE pass (a sequential
        # rewrite corrupts swapped aliases: 'AS s ... AS t' would
        # first turn s.->t. and then rewrite ALL t. — original and
        # just-produced — to s., binding everything to one side).
        # String literals are skipped — both
        # single-quoted and double-quoted (Spark's ANSI-off default
        # reads "..." as a string) — so an alias-looking word inside
        # one survives verbatim.
        def _sub(m2: re.Match) -> str:
            if m2.group(0)[0] in "'\"":
                return m2.group(0)  # string literal, untouched
            return alias_map[m2.group(1)] + "."

        rewritten = re.sub(
            rf"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|"
            rf"\b({re.escape(t_alias)}|{re.escape(s_alias)})\.",
            _sub,
            text,
        )
        return F.expr(rewritten)

    saw_update = False
    for matched, pred, action in whens:
        is_matched = "NOT" not in matched.upper()
        action_up = action.strip().upper()
        if is_matched and action_up == "DELETE":
            kwargs["delete_condition"] = (
                _alias_expr(pred) if pred else F.lit(True)
            )
        elif is_matched and action_up.startswith("UPDATE SET"):
            saw_update = True
            if pred:
                kwargs["update_condition"] = _alias_expr(pred)
            set_text = action.strip()[len("UPDATE SET"):].strip()
            if set_text != "*":
                kwargs["update_exprs"] = {
                    col: _alias_expr(expr)
                    for col, expr in _parse_assignments(set_text).items()
                }
        elif not is_matched and action_up == "INSERT *":
            kwargs["insert"] = True
            if pred:
                kwargs["insert_condition"] = _alias_expr(pred)
        else:
            raise ValueError(
                f"unsupported MERGE action {action.strip()!r} for "
                f"{'MATCHED' if is_matched else 'NOT MATCHED'}"
            )
    if not saw_update:
        # merge_into defaults to update-all-shared-columns on match;
        # a statement WITHOUT an UPDATE clause must leave matched
        # (non-deleted) rows unchanged.
        kwargs["update_condition"] = F.lit(False)
    source = spark.table(source_name)
    sid = merge_snapshot(spark, table_dir, source, keys, **kwargs)
    return {
        "statement_type": "MERGE",
        "table": target_name,
        "snapshot_id": sid,
    }
