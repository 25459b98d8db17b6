"""The SQL door's statement reader: DML, DDL and maintenance
statements over snapshot tables (catalog.SnapshotCatalog.sql).

Plain ``spark.sql`` cannot run DELETE/UPDATE/MERGE for a non-catalog
format (Spark routes DML through a catalog's table capabilities, which
raw-parquet manifests don't implement). So each statement is parsed
ONCE by Spark's own parser (``sessionState().sqlParser().parsePlan``)
and routed by the type of the tree's root; names, conditions, SET
values and row sources are read from that tree — no home-grown
statement or expression grammar — and handed to the already-tested
snapshot primitives (copy-on-write rewrites, manifest commits, change
feed, time travel).

Read from Spark's parse tree (``<table>`` is a bare name):

- ``DELETE FROM <table> WHERE <predicate>``
- ``UPDATE <table> SET col = expr[, ...] WHERE <predicate>``
- ``MERGE INTO <table> [[AS] t] USING <view> [[AS] s]
     ON t.k = s.k [AND ...]
     [WHEN MATCHED [AND <pred>] THEN DELETE]
     [WHEN MATCHED [AND <pred>] THEN UPDATE SET * | col = expr[, ...]]
     [WHEN NOT MATCHED [AND <pred>] THEN INSERT *]`` — unaliased
  sides are named ``t`` and ``s``.
- ``INSERT INTO|OVERWRITE [TABLE] <table> [(col, ...)] <query>`` —
  the row source maps positionally onto the column list (or the
  committed schema), cast to the committed types, unlisted columns
  typed-NULL-padded; OVERWRITE publishes it as the full new content.
- ``ALTER TABLE <table> RENAME COLUMN a TO b | DROP COLUMN c | ALTER
  COLUMN c TYPE t`` — ``evolve_schema`` (metadata-only commit).
- ``CREATE TABLE <t> [PARTITIONED BY (c1, ...)] [LOCATION '<dir>'] AS
  <query>``, ``DROP TABLE [IF EXISTS] <t>``, ``SHOW PARTITIONS
  <table>`` and ``ANALYZE TABLE <table> COMPUTE STATISTICS [FOR
  COLUMNS c1, ...]``.
- Time travel anywhere in a statement, subqueries and CTEs included:
  ``<table> VERSION AS OF <n>|'<tag>'`` and ``<table> TIMESTAMP AS OF
  '<iso-ts>'|<epoch_ms>`` become version views resolved through the
  manifest layer (``travel_text``). The catalog's scan-free aggregate
  SELECT is read from the same tree (``metadata_select``).

Matched by regex before the parse, because Spark's grammar rejects
them: ``OPTIMIZE <table> [PARTITION (col = literal, ...)] [ZORDER BY
(c1, ...)]``, ``VACUUM <table> [RETAIN n SNAPSHOTS|HOURS]``,
``RESTORE TABLE <table> TO VERSION AS OF <n>``, ``SHOW SNAPSHOT
TABLES``, ``ALTER TABLE <table> REPARTITION BY (c1, ...) | NONE`` and
a bare ``ANALYZE TABLE <table>``. ``DESCRIBE HISTORY|DETAIL <table>``
too: Spark reads them as DESCRIBE of a column ``t`` in a table named
HISTORY / DETAIL.

DELETE/UPDATE/MERGE are always claimed, and anything outside the
subset raises a ValueError naming the unsupported fragment — a silent
partial apply is how tables get corrupted. The other statements are
claimed for registered snapshot tables only; everything else passes
through to ``spark.sql``. Reading a statement is one driver-side parse
(~2 ms for a MERGE); every data-touching decision is the routed
primitive's.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.stats import (
    and_terms,
    column_name,
    expr_conjuncts,
    literal_value,
    name_parts,
    parse_expression,
    seq_items,
)

_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
# Spark's ANALYZE grammar requires COMPUTE STATISTICS; the bare form
# is the door's own spelling of it.
_ANALYZE_BARE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(\w+)\s*;?\s*$", re.IGNORECASE
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
_REPARTITION_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+REPARTITION\s+BY\s+"
    r"(?:\(\s*([\w\s,`]+?)\s*\)|NONE)\s*;?\s*$",
    re.IGNORECASE,
)


def _col_list(text: str | None) -> list[str] | None:
    """A regex-captured ``c1, `c2`, ...`` list as names, or None."""
    if not text:
        return None
    return [c.strip().strip("`") for c in text.split(",") if c.strip()]


def route_maintenance(
    spark: SparkSession,
    statement: str,
    tables: dict[str, str],
    persisted: set | None = None,
):
    """The statements Spark's grammar rejects or misreads, matched by
    regex: a DataFrame for DESCRIBE HISTORY / DESCRIBE DETAIL / SHOW
    SNAPSHOT TABLES, a stats dict for OPTIMIZE / VACUUM [RETAIN n
    SNAPSHOTS | n HOURS] / RESTORE TABLE ... TO VERSION AS OF n /
    ALTER TABLE ... REPARTITION BY and the bare ANALYZE TABLE, else
    None. Only registered snapshot tables are claimed."""
    if _SHOW_TABLES_RE.match(statement):
        # SHOW SNAPSHOT TABLES: the catalog's registered snapshot
        # tables — name, dir, and whether the binding persists in the
        # warehouse registry. Metadata-only; bindings are the
        # driver-side dict, no storage reads.
        rows = [
            (n, tables[n], n in (persisted or set()))
            for n in sorted(tables)
        ]
        return spark.createDataFrame(
            rows,
            "table_name string, table_dir string, persisted boolean",
        )
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
    m = _ANALYZE_BARE_RE.match(statement)
    if m and m.group(1) in tables:
        return _analyze(spark, m.group(1), tables, None)
    m = _REPARTITION_RE.match(statement)
    if m and m.group(1) in tables:
        # ALTER TABLE t REPARTITION BY (c1, c2) | NONE — the SQL
        # spelling of the one-call partition-spec rewrite.
        from big_data_spark.io.table_writes import repartition_table

        st = repartition_table(
            spark, tables[m.group(1)], _col_list(m.group(2))
        )
        return {"statement_type": "REPARTITION", "table": m.group(1), **st}
    m = _OPTIMIZE_RE.match(statement)
    if m and m.group(1) in tables:
        return _optimize(spark, m, tables)
    m = _VACUUM_RE.match(statement)
    if m and m.group(1) in tables:
        from big_data_spark.io.table_writes import vacuum_snapshots

        n, unit = m.group(2), (m.group(3) or "").upper()
        # VACUUM t RETAIN n SNAPSHOTS (commit-count retention) or
        # RETAIN n HOURS (wall-clock retention, Delta's spelling) —
        # hours keep the keep_last=2 replay floor and
        # additionally pin the trailing time window.
        st = vacuum_snapshots(
            spark,
            tables[m.group(1)],
            keep_last=int(n) if n and unit.startswith("SNAPSHOT") else 2,
            retain_hours=float(n) if n and unit.startswith("HOUR") else None,
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


def _optimize(spark: SparkSession, m: re.Match, tables: dict[str, str]):
    parts = None
    if m.group(2):
        # OPTIMIZE t PARTITION (ds = '2026-01-01', region = 'eu')
        # (Delta's OPTIMIZE ... WHERE, Hive's clause spelling): scope
        # the rewrite to the matching partitions — the only affordable
        # shape at 100 TB. Each pair is one `col = literal` conjunct
        # read by Spark's parser; anything else fails loudly here
        # rather than silently rewriting the whole table.
        parts = {}
        pairs = parse_expression(spark, f"pairs({m.group(2)})")
        for pair in [None] if pairs is None else seq_items(pairs.arguments()):
            conj = [None] if pair is None else expr_conjuncts(pair)
            if len(conj) != 1 or not conj[0] or conj[0][1] != "=":
                text = m.group(2) if pair is None else pair.sql()
                raise ValueError(
                    f"OPTIMIZE PARTITION: cannot parse {text!r} — "
                    "use `col = 'string'` or `col = number` pairs"
                )
            col, _, (val,) = conj[0]
            parts[col] = val
    if m.group(3) or parts is not None:
        # OPTIMIZE t [PARTITION (...)] ZORDER BY (c1, c2): the SQL
        # spelling of the (optionally partition-scoped) z-order /
        # compaction rewrite (io/compact.py compact_snapshot) — one
        # atomic rewrite clustered on the interleaved key.
        from big_data_spark.io.compact import compact_snapshot

        cols = _col_list(m.group(3))
        st = compact_snapshot(
            spark, tables[m.group(1)], zorder_by=cols, partitions=parts
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


def parse_plan(spark: SparkSession, statement: str):
    """Spark's parse tree of ``statement`` (an unresolved JVM
    LogicalPlan), or None when Spark's grammar rejects it."""
    from pyspark.errors import ParseException

    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        return parser.parsePlan(statement)
    except ParseException:
        return None


def _span(node) -> tuple[int, int]:
    """The [start, stop] character span of a parse-tree node in the
    statement text."""
    origin = node.origin()
    return origin.startIndex().get(), origin.stopIndex().get()


def _table_name(node) -> str | None:
    """The bare (single-part) name of a table reference, else None."""
    kind = node.nodeName()
    if kind == "UnresolvedIdentifier":
        parts = seq_items(node.nameParts())
    elif kind in (
        "UnresolvedRelation", "UnresolvedTable", "UnresolvedTableOrView"
    ):
        parts = seq_items(node.multipartIdentifier())
    else:
        return None
    return parts[0] if len(parts) == 1 else None


def _target(node, tables: dict[str, str]) -> tuple[str, str]:
    """(name, table_dir) of a DML target, which must be a bare
    registered snapshot-table name."""
    name = _table_name(node)
    if name not in tables:
        raise ValueError(
            f"unknown snapshot table {node.toString().strip()!r} — "
            f"DML targets one of {sorted(tables)} by bare name"
        )
    return name, tables[name]


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


def travel_version(
    spark: SparkSession, statement: str, node, tables: dict[str, str]
) -> tuple[str, int] | None:
    """``(table, snapshot id)`` a parsed ``RelationTimeTravel`` node of
    ``statement`` pins, or None when its relation is not a registered
    snapshot table. A quoted VERSION AS OF value is a tag, a bare one a
    snapshot id (Spark hands both back as the same string, so the
    node's own text decides); TIMESTAMP AS OF takes an ISO string or
    epoch millis, resolved through the manifest layer. Raises
    ValueError for an unknown tag or an unsupported timestamp."""
    rel = node.relation()
    name = _table_name(rel)
    if name not in tables:
        return None
    from big_data_spark.io.table_reads import resolve_as_of_ts
    from big_data_spark.io.tags import list_tags

    start, stop = _span(node)
    if node.version().isDefined():
        val = node.version().get()
        if statement[stop] not in "'\"":
            return name, int(val)
        tags = list_tags(spark, tables[name])
        if val not in tags:
            raise ValueError(
                f"{statement[start:stop + 1]}: tag {val!r} not found "
                f"under {name!r} (tags: {sorted(tags)})"
            )
        return name, tags[val]
    ts = literal_value(node.timestamp().get())
    if type(ts) is int:
        ts = str(ts)
    if not isinstance(ts, str):
        raise ValueError(
            "TIMESTAMP AS OF takes a quoted ISO string or epoch "
            f"millis, got {statement[start:stop + 1]!r}"
        )
    return name, resolve_as_of_ts(spark, tables[name], _parse_ts_ms(ts))


def _travel_nodes(plan) -> list:
    """Every time-travel relation in a parse tree, subqueries and CTE
    bodies (the plan's inner children) included."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "RelationTimeTravel":
            out.append(node)
        stack.extend(seq_items(node.children()))
        stack.extend(seq_items(node.innerChildren()))
    return out


def travel_text(
    spark: SparkSession, statement: str, plan, tables: dict[str, str]
) -> str:
    """``statement`` with each time-travel relation over a registered
    snapshot table in ``plan`` (its parse tree) replaced by a
    just-registered ``<table>_v<id>`` view — the SQL spelling of time
    travel for the snapshot format, which plain ``spark.sql`` cannot
    resolve for a non-catalog table. The relations come from the
    tree, so string literals and comments are never rewritten;
    statements naming no registered snapshot table come back
    unchanged."""
    from big_data_spark.io.table_reads import read_snapshot

    splices = []
    for node in _travel_nodes(plan):
        pinned = travel_version(spark, statement, node, tables)
        if pinned is not None:
            name, sid = pinned
            vname = f"{name}_v{sid}"
            read_snapshot(
                spark, tables[name], as_of=sid
            ).createOrReplaceTempView(vname)
            splices.append((_span(node.relation())[0], _span(node)[1], vname))
    out, pos = [], 0
    for start, stop, vname in sorted(splices):
        out += [statement[pos:start], vname]
        pos = stop + 1
    return "".join(out) + statement[pos:]


def _row_source(
    spark: SparkSession, statement: str, plan, tables: dict[str, str]
) -> DataFrame:
    """The row source of an INSERT or CTAS as a DataFrame: the
    statement's query subtree exactly as Spark parsed it, read again
    from ``travel_text`` when it time-travels."""
    text = travel_text(spark, statement, plan, tables)
    if text != statement:
        plan = parse_plan(spark, text)
    rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return DataFrame(rows(spark._jsparkSession, plan.query()), spark)


_META_FUNCS = ("count", "min", "max", "sum", "avg")


def _metadata_item(expr) -> tuple[str, str | None, str] | None:
    """``(func, col|None, out_name)`` for one select item of the
    metadata-answerable shape, else None."""
    out = None
    if expr.nodeName() == "Alias":
        out, expr = expr.name(), expr.child()
    elif expr.nodeName() == "UnresolvedAlias":
        expr = expr.child()
    col = column_name(expr)
    if col is not None:
        return "col", col, out or col
    if (
        expr.nodeName() != "UnresolvedFunction"
        or expr.isDistinct()
        or expr.filter().isDefined()
        or expr.ignoreNulls()
    ):
        return None
    fname = seq_items(expr.nameParts())
    args = seq_items(expr.arguments())
    if len(fname) != 1 or len(args) != 1:
        return None
    func = fname[0].lower()
    if func == "count":  # COUNT(*) parses as COUNT(1)
        v = literal_value(args[0])
        return None if (type(v), v) != (int, 1) else (
            "count", None, out or "count(1)"
        )
    col = column_name(args[0])
    if func not in _META_FUNCS or col is None:
        return None
    return func, col, out or f"{func}({col})"


def metadata_select(plan) -> tuple | None:
    """``(table, [(func, col|None, out_name), ...], travel|None,
    where|None, group|None)`` when the parsed statement is a bare
    aggregate list over ONE table the metadata layer COULD answer
    (the planning query ``SELECT MIN(d), MAX(d) FROM t``), else None.
    ``func`` is count/min/max/sum/avg, or ``"col"`` for a bare column
    (legal ONLY under GROUP BY — the caller checks it names a group
    column); ``out_name`` is the alias or Spark's default output name
    (``count(1)`` / ``min(col)`` / the column's own name), so both
    paths are column-for-column indistinguishable. ``travel`` is the
    ``RelationTimeTravel`` node (``travel_version`` pins it).
    ``where`` is ``[(col, [value, ...]), ...]`` from ``col = literal``
    / ``col IN (...)`` conjuncts with typed values — whether each col
    is a PARTITION column is the caller's job; any other conjunct
    unclaims the statement. ``group`` is the GROUP BY column list."""
    if plan.nodeName() == "Project":
        group, exprs = None, seq_items(plan.projectList())
    elif plan.nodeName() == "Aggregate":
        group = [column_name(e) for e in seq_items(plan.groupingExpressions())]
        if None in group:
            return None
        exprs = seq_items(plan.aggregateExpressions())
    else:
        return None
    items = [_metadata_item(e) for e in exprs]
    if None in items:
        return None
    if group is None and any(f == "col" for f, _, _ in items):
        return None  # a bare column without GROUP BY is not ours
    child, where, travel = plan.child(), None, None
    if child.nodeName() == "Filter":
        where = []
        for conj in expr_conjuncts(child.condition()):
            if conj is None or conj[1] not in ("=", "in"):
                return None  # conjunct outside the claimable shape
            where.append((conj[0], conj[2]))
        child = child.child()
    if child.nodeName() == "RelationTimeTravel":
        travel, child = child, child.relation()
    name = _table_name(child)
    if child.nodeName() != "UnresolvedRelation" or name is None:
        return None
    return name, items, travel, where, group


def route_statement(
    spark: SparkSession,
    statement: str,
    tables: dict[str, str],
    base_dir: str | None = None,
    persisted: set | None = None,
):
    """The door's dispatch for callers holding only the statement:
    ``route_maintenance``, then ``route_plan`` over Spark's parse
    tree. None means PASS THROUGH to plain ``spark.sql``."""
    st = route_maintenance(spark, statement, tables, persisted)
    if st is None:
        plan = parse_plan(spark, statement)
        if plan is not None:
            st = route_plan(spark, statement, plan, tables, base_dir)
    return st


def route_plan(
    spark: SparkSession,
    statement: str,
    plan,
    tables: dict[str, str],
    base_dir: str | None = None,
):
    """Route a parsed statement by its root node: the routed
    primitive's stats dict (plus ``statement_type``), a DataFrame for
    SHOW PARTITIONS, or None — PASS THROUGH to plain ``spark.sql``
    (qualified names, ALTER VIEW, unregistered targets keep working
    there). ``base_dir`` roots a CTAS without LOCATION at
    ``<base_dir>/<name>``; CREATE adds to ``tables`` in place and DROP
    removes the entry, so a caller-owned dict stays the one source of
    truth."""
    kind = plan.nodeName()
    if kind == "CreateTableAsSelect":
        return _execute_create(spark, statement, plan, tables, base_dir)
    route = _ROUTES.get(kind)
    return None if route is None else route(spark, statement, plan, tables)


def execute_dml(
    spark: SparkSession, statement: str, tables: dict[str, str]
):
    """Run one statement of the door against the snapshot tables in
    ``tables`` (name -> table_dir) — the strict entry: anything the
    door would pass through to spark.sql raises ValueError instead.
    Never a partial apply."""
    st = route_statement(spark, statement, tables)
    if st is None:
        raise ValueError(
            "unsupported statement — see big_data_spark/sqldml.py for "
            f"the door's subset; got: {statement.strip()[:120]!r}"
        )
    return st


def _execute_delete(spark, statement, plan, tables) -> dict:
    from big_data_spark.io.dml import delete_where

    name, table_dir = _target(plan.table(), tables)
    # Spark reads a WHERE-less DELETE as `WHERE true`; only the text
    # after the table name tells them apart.
    if not statement[_span(plan.table())[1] + 1 : _span(plan)[1] + 1].strip():
        raise ValueError(
            f"DELETE FROM {name} needs a WHERE clause "
            "(WHERE true deletes every row)"
        )
    st = delete_where(spark, table_dir, plan.condition().sql(), attempts=3)
    return {"statement_type": "DELETE", "table": name, **st}


def _sets(node, value) -> dict:
    """``{col: value(expr)}`` for the SET list of an UPDATE or a MERGE
    UPDATE action."""
    out = {}
    for a in seq_items(node.assignments()):
        col = column_name(a.key())
        if col is None:
            raise ValueError(
                f"unsupported SET target {a.key().sql()!r} — expected "
                "'col = <expression>'"
            )
        out[col] = value(a.value())
    return out


def _execute_update(spark, statement, plan, tables) -> dict:
    from big_data_spark.io.dml import update_where

    name, table_dir = _target(plan.table(), tables)
    if not plan.condition().isDefined():
        raise ValueError(f"UPDATE {name} needs a WHERE clause")
    st = update_where(
        spark,
        table_dir,
        plan.condition().get().sql(),
        _sets(plan, lambda e: e.sql()),
        attempts=3,
    )
    return {"statement_type": "UPDATE", "table": name, **st}


def _side(node, default: str) -> tuple[object, str]:
    """(table reference, alias) of a MERGE side."""
    if node.nodeName() == "SubqueryAlias":
        return node.child(), node.alias()
    return node, default


def _merge_keys(cond, sides: dict[str, str]) -> list[str]:
    """Equality-key conjunction 't.k = s.k AND ...' -> ['k', ...].
    merge_into joins on named keys, so both sides must name the SAME
    column, and a qualified pair must name one column of EACH side;
    anything else in the ON clause is refused loudly."""
    keys = []
    for term in and_terms(cond):
        refs = [name_parts(k) for k in seq_items(term.children())]
        quals = [
            sides.get(r[0].lower(), "?") if r and len(r) == 2 else None
            for r in refs
        ]
        if (
            term.nodeName() != "EqualTo"
            or None in refs
            or any(len(r) > 2 for r in refs)
            or "?" in quals
            or refs[0][-1].lower() != refs[1][-1].lower()
            or (quals[0] is not None and quals[0] == quals[1])
        ):
            raise ValueError(
                f"unsupported MERGE ON term {term.sql()!r} — the door "
                "routes equality keys between the two sides only "
                "('t.col = s.col AND ...'); express richer match "
                "logic in the source view"
            )
        keys.append(refs[0][-1])
    return keys


def _requalify(spark: SparkSession, expr, sides: dict[str, str]):
    """``expr`` with every column qualified by a statement alias
    re-qualified by its merge_into side (``t`` / ``s``) — on the
    expression tree, so string literals are never touched."""
    jvm = spark._jvm
    parts = name_parts(expr)
    if parts is None:
        kids = [_requalify(spark, k, sides) for k in seq_items(expr.children())]
        return expr.withNewChildren(jvm.PythonUtils.toSeq(kids))
    if len(parts) > 1 and parts[0].lower() in sides:
        parts = [sides[parts[0].lower()], *parts[1:]]
        return jvm.org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            jvm.PythonUtils.toSeq(parts)
        )
    return expr


def _execute_merge(spark, statement, plan, tables) -> dict:
    from big_data_spark.operators.merge import merge_snapshot

    target, t_alias = _side(plan.targetTable(), "t")
    source, s_alias = _side(plan.sourceTable(), "s")
    name, table_dir = _target(target, tables)
    if _table_name(source) is None:
        raise ValueError(
            f"unsupported MERGE source {source.toString().strip()!r} — "
            "USING takes a registered view name"
        )
    if t_alias.lower() == s_alias.lower():
        raise ValueError(
            f"MERGE target and source share the alias {t_alias!r} — "
            "column references would be ambiguous"
        )
    if plan.withSchemaEvolution() or (
        not plan.notMatchedBySourceActions().isEmpty()
    ):
        raise ValueError(
            "unsupported MERGE clause: WITH SCHEMA EVOLUTION / WHEN NOT "
            "MATCHED BY SOURCE"
        )
    # merge_into exposes the joined row under t./s. aliases.
    sides = {t_alias.lower(): "t", s_alias.lower(): "s"}
    keys = _merge_keys(plan.mergeCondition(), sides)

    def _expr(e):
        return F.expr(_requalify(spark, e, sides).sql())

    def _when(action, kwarg: str, default=None):
        c = action.condition()
        if c.isDefined() or default is not None:
            kwargs[kwarg] = _expr(c.get()) if c.isDefined() else default

    kwargs: dict = {"insert": False}
    saw_update = False
    for action in seq_items(plan.matchedActions()):
        kind = action.nodeName()
        if kind == "DeleteAction":
            _when(action, "delete_condition", F.lit(True))
        elif kind in ("UpdateAction", "UpdateStarAction"):
            saw_update = True
            _when(action, "update_condition")
            if kind == "UpdateAction":
                kwargs["update_exprs"] = _sets(action, _expr)
        else:
            raise ValueError(f"unsupported MERGE action {kind} for MATCHED")
    for action in seq_items(plan.notMatchedActions()):
        if action.nodeName() != "InsertStarAction":
            raise ValueError(
                f"unsupported MERGE action {action.nodeName()} for NOT "
                "MATCHED — the door inserts with INSERT *"
            )
        kwargs["insert"] = True
        _when(action, "insert_condition")
    if not saw_update:
        # merge_into defaults to update-all-shared-columns on match;
        # a statement WITHOUT an UPDATE clause must leave matched
        # (non-deleted) rows unchanged.
        kwargs["update_condition"] = F.lit(False)
    sid = merge_snapshot(
        spark, table_dir, spark.table(_table_name(source)), keys, **kwargs
    )
    return {"statement_type": "MERGE", "table": name, "snapshot_id": sid}


def _landed_rows(spark: SparkSession, table_dir: str, sid: int) -> int:
    """Rows the generation committed at ``sid`` holds — a parquet
    metadata count, never a re-execution of the row source (a
    non-deterministic SELECT would report rows it didn't write)."""
    from big_data_spark.io.layout import generation_dir, hadoop_fs

    gdir = generation_dir(table_dir, sid)
    fs, gp = hadoop_fs(spark, gdir)
    return int(spark.read.parquet(gdir).count()) if fs.exists(gp) else 0


def _execute_insert(spark, statement, plan, tables) -> dict | None:
    from big_data_spark.io.manifest import latest_manifest
    from big_data_spark.io.table_writes import append_with_retry

    table_name = _table_name(plan.table())
    if (
        table_name not in tables
        or not plan.partitionSpec().isEmpty()
        or plan.ifPartitionNotExists()
        or plan.byName()
    ):
        return None  # not a snapshot table, or a clause spark.sql owns
    overwrite = plan.overwrite()
    table_dir = tables[table_name]
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"INSERT target {table_name!r} has no snapshots")
    schema = man["schema"]
    by_name = {f["name"]: f for f in schema}
    targets = seq_items(plan.userSpecifiedCols()) or [
        f["name"] for f in schema
    ]
    unknown = [c for c in targets if c not in by_name]
    if unknown:
        raise ValueError(
            f"INSERT column(s) {unknown} not in {table_name!r}'s "
            f"schema {[f['name'] for f in schema]}"
        )
    # The row source's output maps POSITIONALLY onto the target
    # column list, standard SQL semantics. Time travel in a SELECT
    # source resolves first, so 'INSERT INTO t SELECT * FROM t
    # VERSION AS OF 0' (the restore-old-rows idiom) works through the
    # same door.
    src = _row_source(spark, statement, plan, tables)
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
    return {
        "statement_type": "INSERT OVERWRITE" if overwrite else "INSERT",
        "table": table_name,
        "inserted_rows": _landed_rows(spark, table_dir, sid),
        "snapshot_id": sid,
    }


def _execute_create(
    spark: SparkSession,
    statement: str,
    plan,
    tables: dict[str, str],
    base_dir: str | None,
) -> dict | None:
    """CREATE TABLE <t> [PARTITIONED BY (c1[, c2...])] [LOCATION 'p']
    AS <query> — how a SQL user MAKES a table. The row source (time
    travel resolved first) lands as snapshot 0 via write_snapshot /
    write_snapshot_partial, and the name registers into ``tables``.
    Refuses an already-registered name and a non-empty target dir —
    CTAS creates, it never adopts or overwrites. Any other clause
    (USING, OPTIONS, TBLPROPERTIES, COMMENT, IF NOT EXISTS, a
    non-identity partition transform) leaves the statement to
    spark.sql, as does a CTAS with neither a LOCATION nor a base_dir:
    a plain 'CREATE TABLE t AS SELECT' against the Spark catalog works
    through spark.sql and must keep working."""
    from big_data_spark.io.layout import hadoop_fs
    from big_data_spark.io.table_writes import (
        write_snapshot,
        write_snapshot_partial,
    )

    name = _table_name(plan.name())
    spec = plan.tableSpec()
    location = spec.location().get() if spec.location().isDefined() else None
    fields = [
        list(t.references()[0].fieldNames())
        for t in seq_items(plan.partitioning())
        if t.name() == "identity"
    ]
    pcols = [f[0] for f in fields if len(f) == 1]
    if (
        len(pcols) != plan.partitioning().size()
        or name is None
        or plan.ignoreIfExists()
        or spec.provider().isDefined()
        or not spec.properties().isEmpty()
        or not spec.optionExpression().options().isEmpty()
        or spec.comment().isDefined()
        or spec.serde().isDefined()
        or spec.external()
        or (location is None and base_dir is None)
    ):
        return None
    if name in tables:
        raise ValueError(
            f"CREATE TABLE: {name!r} is already registered "
            f"(at {tables[name]!r}) — DROP it first, or pick a new name"
        )
    if location is None:
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

    src = _row_source(spark, statement, plan, tables)
    try:
        if pcols:
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
    return {
        "statement_type": "CREATE TABLE",
        "table": name,
        "table_dir": location,
        "partitioned_by": pcols or None,
        "rows": _landed_rows(spark, location, sid),
        "snapshot_id": sid,
    }


def _execute_drop(spark, statement, plan, tables) -> dict | None:
    """DROP TABLE [IF EXISTS] <t>: deregister and recursively delete
    the table dir — GUARDED: only a dir that actually carries a
    ``_manifests`` commit log is deleted (the registration could
    point anywhere; an unguarded recursive delete of a mis-registered
    path would be a data-loss foot-gun). Only REGISTERED snapshot
    tables are claimed; DROP of a spark temp view (and IF EXISTS
    probes of unknown names) keeps passing through to spark.sql."""
    from big_data_spark.io.layout import hadoop_fs

    name = _table_name(plan.child())
    if name not in tables or plan.purge():
        return None
    table_dir = tables[name]
    fs, root = hadoop_fs(spark, table_dir)
    # A dir already gone (removed out-of-band) still releases the
    # binding — a persistent-registry entry must not become
    # permanently un-droppable.
    dropped = bool(fs.exists(root))
    if dropped:
        if not fs.exists(hadoop_fs(spark, f"{table_dir}/_manifests")[1]):
            raise ValueError(
                f"DROP TABLE {name}: {table_dir!r} has no _manifests dir "
                "— not a snapshot table; refusing the recursive delete "
                "(deregister it manually if the mapping is stale)"
            )
        fs.delete(root, True)
    del tables[name]
    return {
        "statement_type": "DROP TABLE",
        "table": name,
        "table_dir": table_dir,
        "dropped": dropped,
    }


def _execute_alter(spark, statement, plan, tables) -> dict | None:
    """RENAME COLUMN / DROP COLUMN / ALTER COLUMN ... TYPE of one
    top-level column of a registered table; any other ALTER shape
    (several or nested columns, IF EXISTS, nullability, comments,
    positions, defaults) passes through."""
    from big_data_spark.io.table_reads import evolve_schema

    table_name = _table_name(plan.table())
    if table_name not in tables:
        return None
    kind = plan.nodeName()
    if kind == "RenameColumn":
        fields = [plan.column()]
    elif kind == "DropColumns":
        fields = [] if plan.ifExists() else seq_items(plan.columnsToDrop())
    else:  # AlterColumns: the TYPE change alone
        specs = seq_items(plan.specs())
        spec = specs[0]
        fields = [spec.column()] if (
            len(specs) == 1
            and spec.newDataType().isDefined()
            and spec.newNullability().isEmpty()
            and spec.newComment().isEmpty()
            and spec.newPosition().isEmpty()
            and spec.newDefaultExpression().isEmpty()
            and not spec.dropDefault()
        ) else []
    names = [seq_items(f.name()) for f in fields]
    if len(names) != 1 or len(names[0]) != 1:
        return None
    col, table_dir = names[0][0], tables[table_name]
    if kind == "RenameColumn":
        new = plan.newName()
        sid = evolve_schema(spark, table_dir, renames={col: new})
        op = f"RENAME {col} -> {new}"
    elif kind == "DropColumns":
        sid = evolve_schema(spark, table_dir, drops=[col])
        op = f"DROP {col}"
    else:
        typ = spec.newDataType().get().catalogString()
        sid = evolve_schema(spark, table_dir, widens={col: typ})
        op = f"ALTER {col} TYPE {typ}"
    return {
        "statement_type": "ALTER",
        "table": table_name,
        "operation": op,
        "snapshot_id": sid,
    }


def _show_partitions(spark, statement, plan, tables):
    """SHOW PARTITIONS t: one row per live partition leaf with typed
    values + n_files/total_bytes, answered from manifest entry keys —
    Spark's own SHOW PARTITIONS errors on these tables (temp views),
    so claiming the registered names is purely additive."""
    from big_data_spark.io.aggregates import show_partitions

    name = _table_name(plan.table())
    if name not in tables or plan.pattern().isDefined():
        return None
    return show_partitions(spark, tables[name])


def _analyze(spark, name: str, tables: dict[str, str], cols) -> dict:
    from big_data_spark.io.aggregates import analyze_table

    st = dict(analyze_table(spark, tables[name], stats_columns=cols))
    st["statement_type"] = "ANALYZE"
    st["table"] = name
    return st


def _execute_analyze(spark, statement, plan, tables) -> dict | None:
    """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, c2]:
    backfill/upgrade the manifest stats block as a maintenance commit
    — Spark's spelling, the snapshot format's semantics. Unregistered
    names pass through to spark.sql (its catalog-table ANALYZE)."""
    name = _table_name(plan.child())
    if name not in tables:
        return None
    if plan.nodeName() == "AnalyzeColumn" and not plan.allColumns():
        return _analyze(spark, name, tables, seq_items(plan.columnNames().get()))
    if plan.nodeName() == "AnalyzeColumn" or (
        not plan.partitionSpec().isEmpty() or plan.noScan()
    ):
        # A registered snapshot table with a clause outside the
        # subset (FOR ALL COLUMNS / NOSCAN / PARTITION(...)) —
        # raising here beats handing it to spark.sql, whose
        # TABLE_OR_VIEW_NOT_FOUND for a table this catalog owns would
        # point the user at the wrong problem.
        raise ValueError(
            "unsupported ANALYZE clause for snapshot table "
            f"{name!r} — supported: ANALYZE TABLE t "
            "[COMPUTE STATISTICS [FOR COLUMNS c1, c2, ...]]"
        )
    return _analyze(spark, name, tables, None)


_ROUTES = {
    "DeleteFromTable": _execute_delete,
    "UpdateTable": _execute_update,
    "MergeIntoTable": _execute_merge,
    "InsertIntoStatement": _execute_insert,
    "RenameColumn": _execute_alter,
    "DropColumns": _execute_alter,
    "AlterColumns": _execute_alter,
    "DropTable": _execute_drop,
    "ShowPartitions": _show_partitions,
    "AnalyzeTable": _execute_analyze,
    "AnalyzeColumn": _execute_analyze,
}
