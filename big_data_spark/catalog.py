"""SQL surface: the engine's tables as temp views, so users run raw
``spark.sql`` — and, where they stick to the ANSI-portable subset,
the SAME query text runs unchanged on DuckDB (the oracle engine) and
any other ANSI system.

The reference exposes only a programmatic pipeline (its queries are
hard-coded DataFrame/RDD chains, reference: Src/main.py); a user
switching engines gets a SQL front door here for free, because Spark
IS a SQL engine — registering views costs nothing and Catalyst
optimizes ``spark.sql`` text and DataFrame code identically.

Views are registered through ``read_table``, so the schema-drift
assertions and the events.ts nanosecond normalization apply to SQL
users exactly as they do to DataFrame users — two doors, one
contract. (``events.ts`` is therefore an epoch-nanosecond BIGINT in
SQL too, not a timestamp — the engine's one deliberate canonical
deviation, documented in io/readers.py.)

``queries/relational.py sql_portable_revenue`` demonstrates the
portability contract end-to-end: one SQL string, executed by Spark
through this module AND by DuckDB verbatim, hash-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_spark.io.readers import read_table
from big_data_spark.schemas import TESTDATA_SCHEMAS
from big_data_spark.session import driver_frame

# The format stamp ("v") of a persisted catalog binding file; the
# loader refuses any other value.
_BINDING_VERSION = 2


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> list[str]:
    """Register each testdata table as a session temp view named
    after the table. Returns the registered names. Idempotent —
    re-registration replaces the view (same DataFrame, memoized by
    read_table)."""
    use = names or tuple(TESTDATA_SCHEMAS)
    for n in use:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return list(use)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register the testdata views, then run ``sql`` — the one-call
    SQL door. The returned DataFrame is lazy like any other; Catalyst
    sees exactly the plan a DataFrame formulation would produce."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


def _tag_view_name(name: str, tag: str) -> str:
    """Identifier-safe view name for a tag pin: characters outside
    ASCII [A-Za-z0-9_] fold to '_' (Spark view names reject '@', '-',
    '.' and non-ASCII letters); whenever folding changed anything OR
    the tag carries uppercase (temp-view names are CASE-INSENSITIVE,
    so 'V1' and 'v1' would otherwise share one view) a short hash of
    the raw tag is appended — distinct tags can never collide on one
    view name."""
    import hashlib

    folded = "".join(
        ch if (ch.isascii() and ch.isalnum()) or ch == "_" else "_"
        for ch in tag
    )
    if folded != tag or folded != folded.lower():
        folded += "_" + hashlib.md5(tag.encode()).hexdigest()[:6]
    return f"{name}_tag_{folded}"


def register_snapshot_views(
    spark: SparkSession,
    table_dir: str,
    name: str,
    versions: str = "eager",
) -> list[str]:
    """SQL door into the LAKEHOUSE: snapshot tables — the engine's own
    table format, io/snapshot.py — become queryable views. Registers:

    - ``name``          -> the table's newest committed snapshot;
    - ``name_v{N}``     -> every committed snapshot id N (time
      travel: the ANSI-spellable stand-in for ``FOR VERSION AS OF
      n``, which plain ``spark.sql`` cannot parse for a non-catalog
      format);
    - ``name_tag_<tag>`` -> every tagged (pinned) version — the
      eval-freeze / release-baseline spelling (identifier-
      unsafe tag characters fold to '_' with a short raw-tag hash
      appended so distinct tags never collide — `_tag_view_name`);
    - ``name_history``  -> the commit log (table_history: one row
      per snapshot with generation counts, maintenance flag, added
      columns) — ``DESCRIBE HISTORY`` as a queryable view;
    - ``name_changes``  -> the full change feed since table creation
      (read_changes after_id=-1), so ``WHERE _commit_id > n`` is the
      SQL spelling of an incremental read.

    ``versions="lazy"`` skips the per-version ``name_v{N}`` loop —
    O(1) registration for long-lived tables (the eager loop is
    O(versions) temp views per call);
    time travel then goes through :func:`as_of` (or SnapshotCatalog
    .as_of, which also names the view ``name_v{N}`` on demand).

    Views are plain reads through ``read_snapshot``, so manifest
    resolution, basePath partition typing, additive-schema union and
    canonical column order all apply to SQL users identically.
    Re-registration replaces the views (call again after new
    commits). Returns the registered names, latest first."""
    from big_data_spark.io.changes import read_changes, table_history
    from big_data_spark.io.manifest import snapshot_ids
    from big_data_spark.io.table_reads import read_snapshot

    if versions not in ("eager", "lazy"):
        raise ValueError(f"versions must be 'eager'|'lazy', got {versions!r}")
    ids = snapshot_ids(spark, table_dir)
    if not ids:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    read_snapshot(spark, table_dir).createOrReplaceTempView(name)
    names = [name]
    if versions == "eager":
        from big_data_spark.io.tags import list_tags

        for sid in ids:
            vname = f"{name}_v{sid}"
            read_snapshot(
                spark, table_dir, as_of=sid
            ).createOrReplaceTempView(vname)
            names.append(vname)
        # Tag-named views: `name_tag_<tag>` reads the
        # PINNED version — the eval-freeze / release-baseline handle
        # next to the name_v{N} spellings. Eager mode only, like the
        # version views (lazy registration stays O(1) per refresh;
        # read the pin through read_snapshot(tag=) there).
        for tag, sid in sorted(list_tags(spark, table_dir).items()):
            vname = _tag_view_name(name, tag)
            read_snapshot(
                spark, table_dir, as_of=sid
            ).createOrReplaceTempView(vname)
            names.append(vname)
    names.extend(register_aux_views(spark, table_dir, name))
    return names


def register_aux_views(
    spark: SparkSession, table_dir: str, name: str
) -> list[str]:
    """(Re)register just the commit-log and change-feed views,
    ``name_history`` and ``name_changes`` — split out so the
    catalog's post-DML refresh can DEFER them: both plans are
    O(total versions) to build (the full feed reads every manifest
    and unions a DataFrame per commit), which made every MERGE or
    UPDATE through the SQL door pay for the table's entire
    history."""
    from big_data_spark.io.changes import read_changes, table_history

    table_history(spark, table_dir).createOrReplaceTempView(
        f"{name}_history"
    )
    read_changes(spark, table_dir, after_id=-1).createOrReplaceTempView(
        f"{name}_changes"
    )
    return [f"{name}_history", f"{name}_changes"]


def as_of(
    spark: SparkSession, table_dir: str, version: int, name: str | None = None
) -> DataFrame:
    """Time travel without the eager per-version view loop: the table
    at snapshot ``version``; with ``name`` also registered as the
    ``name_v{version}`` temp view (the lazy twin of the eager loop —
    one view materializes, not O(versions))."""
    from big_data_spark.io.table_reads import read_snapshot

    df = read_snapshot(spark, table_dir, as_of=version)
    if name is not None:
        df.createOrReplaceTempView(f"{name}_v{version}")
    return df


class SnapshotCatalog:
    """Name -> snapshot-table binding with a ONE-CALL SQL door that
    covers reads AND writes: ``sql()`` routes DELETE/UPDATE/MERGE
    statements through the copy-on-write DML primitives
    (big_data_spark/sqldml.py) and refreshes the table's views after
    the commit, and hands everything else to ``spark.sql`` over the
    registered views — so a SQL user can round-trip

        cat = SnapshotCatalog(spark)
        cat.register("orders_t", "/lake/orders")
        cat.sql("DELETE FROM orders_t WHERE o_orderstatus = 'X'")
        cat.sql("SELECT count(*) FROM orders_t")          # post-DML
        cat.sql("SELECT count(*) FROM orders_t_v0")       # time travel

    with SQL DML reaching the lakehouse. The dispatcher is
    driver-side statement routing only; all
    data movement stays in the audited primitives."""

    def __init__(
        self,
        spark: SparkSession,
        versions: str = "eager",
        base_dir: str | None = None,
    ):
        self.spark = spark
        self.versions = versions
        self.base_dir = base_dir  # roots CTAS without LOCATION
        self.tables: dict[str, str] = {}
        # Names whose bindings PERSIST in the warehouse registry
        # file: CREATE TABLE's effect must survive
        # the session — a SQL user who CTAS'd yesterday finds the
        # table today by constructing the catalog on the same
        # base_dir. `register()` stays ad-hoc (session-only) unless
        # asked to persist.
        self._persisted: set[str] = set()
        # Snapshot id each table's HEAD view was registered at (None
        # = unknown, e.g. a commit raced the registration): the
        # COUNT(*) metadata fast path answers ONLY when the latest
        # manifest still matches this, so it can never disagree with
        # what a simultaneous SELECT * through the pinned view
        # returns.
        self._view_sid: dict[str, int | None] = {}
        # Tables whose `_history`/`_changes` views lag the newest
        # commit (lazy mode defers their rebuild — see
        # _refresh_after_dml). They re-register on the next
        # catalog.sql statement that references them, or on an
        # explicit refresh().
        self._stale_aux: set[str] = set()
        if base_dir is not None:
            self._load_registry()

    # ----------------------------------------- warehouse registry
    #
    # Layout: ONE binding file per table name under
    # ``base_dir/_catalog/<quoted-name>.json`` holding
    # ``{"v": _BINDING_VERSION, "name", "dir"}`` — concurrent catalogs
    # on one warehouse touch DISJOINT files for disjoint names, so a
    # session's CTAS can never erase another session's binding. The
    # only remaining write-write race is two sessions persisting the
    # SAME name, where last-writer-wins is the correct semantics
    # anyway. The loader refuses a binding with any other ``"v"``.

    def _bindings_dir(self) -> str:
        return f"{self.base_dir.rstrip('/')}/_catalog"

    @staticmethod
    def _binding_file(name: str) -> str:
        """Filesystem-safe, reversible file name for a binding: every
        character outside [A-Za-z0-9_.-] percent-encodes ('%' itself
        included), so two distinct table names can never share a
        file. The authoritative name is ALSO stored inside the file —
        the loader trusts the payload, not the decode. A LEADING dot
        percent-encodes too: '.foo.json' would be filtered by the
        loader's temp/crc guard, silently vanishing the binding."""
        from urllib.parse import quote

        q = quote(name, safe="_.-")
        return ("%2E" + q[1:] if q.startswith(".") else q) + ".json"

    def _load_registry(self) -> None:
        """Bind every table the warehouse registry records and
        register its HEAD view only (one manifest read per table) —
        the full fan-out (per-version, tag, history, changes views)
        costs O(versions) manifest reads per table and is deferred to
        the first ``refresh``/DML on that table; SELECT-side time
        travel registers version views on demand through
        rewrite_time_travel. A recorded dir that is missing or has no
        committed snapshots keeps its BINDING (so DROP TABLE can
        still clean it up) but registers no view — loud on first
        SELECT rather than silently unlisted."""
        import json as _json

        from big_data_spark.io.layout import hadoop_fs, read_docs
        from big_data_spark.io.manifest import (
            format_version_error,
            latest_manifest,
        )
        from big_data_spark.io.table_reads import read_snapshot

        bound: dict[str, str] = {}
        fs, cdir = hadoop_fs(self.spark, self._bindings_dir())
        if fs.exists(cdir):
            paths = [
                st.getPath().toString()
                for st in fs.listStatus(cdir)
                if st.getPath().getName().endswith(".json")
                and not st.getPath().getName().startswith(".")
            ]  # "." filters temp files / crc sidecars
            # A file deleted between list and read (a concurrent DROP)
            # behaves as dropped. Binding files are published by
            # atomic rename, so a listed file that READS is complete.
            texts = read_docs(self.spark, paths, missing_ok=True)
            for text in texts.values():
                try:
                    doc = _json.loads(text)
                except ValueError:
                    # One corrupt binding file skips: a warehouse must
                    # not fail to load over one bad file.
                    continue
                if doc.get("v") != _BINDING_VERSION:
                    raise format_version_error(
                        self._bindings_dir(), doc.get("v"), _BINDING_VERSION
                    )
                bound[doc["name"]] = doc["dir"]
        for name, table_dir in sorted(bound.items()):
            self.tables[name] = table_dir
            self._persisted.add(name)
            man = latest_manifest(self.spark, table_dir)
            if man is None:
                continue  # no commits yet: binding kept, no view
            try:
                # Pin the head view to the EXACT id just read, so
                # _view_sid is authoritative (no registration race).
                read_snapshot(
                    self.spark, table_dir, as_of=man["snapshot_id"]
                ).createOrReplaceTempView(name)
                self._view_sid[name] = int(man["snapshot_id"])
            except ValueError:
                pass  # dir gone mid-read: binding kept, loud later

    def _save_binding(self, name: str) -> None:
        """Persist ONE name->dir binding as its own file (a replace
        ``layout.publish_doc``): at every instant the file is either
        absent, the old binding, or the new one — and no other name's
        binding is ever touched."""
        import json as _json

        from big_data_spark.io.layout import publish_doc

        body = _json.dumps(
            {"v": _BINDING_VERSION, "name": name, "dir": self.tables[name]},
            sort_keys=True,
        )
        cdir = self._bindings_dir()
        if not publish_doc(
            self.spark, f"{cdir}/{self._binding_file(name)}", body,
            replace=True,
        ):
            raise OSError(
                f"could not publish catalog binding for {name!r} "
                f"under {cdir!r}"
            )

    def _remove_binding(self, name: str) -> None:
        """Unpersist ONE binding: the binding file (and its checksum
        sidecar — ChecksumFileSystem.delete) is removed."""
        from big_data_spark.io.layout import hadoop_fs

        cdir = self._bindings_dir()
        fs, fpath = hadoop_fs(
            self.spark, f"{cdir}/{self._binding_file(name)}"
        )
        if fs.exists(fpath):
            fs.delete(fpath, False)

    def register(
        self, name: str, table_dir: str, persist: bool = False
    ) -> list[str]:
        if name.startswith("."):
            # Spark itself rejects '.foo' as a view name, and a
            # persisted leading-dot binding file would be filtered
            # by the loader's temp/crc guard — refuse up front (the
            # '_catalog' reservation's sibling).
            raise ValueError(
                f"register: table name {name!r} cannot start with "
                "'.' (not a valid view name; the registry reserves "
                "dot-prefixed files for temp/checksum artifacts)"
            )
        if (
            not persist
            and name in self._persisted
            and self.tables.get(name) != table_dir
        ):
            # A session-only rebind of a PERSISTED name would leak
            # into the registry on the next save (any later CTAS/DROP
            # writes the whole binding map) — and a later DROP TABLE
            # would then recursively delete the rebound dir. Refuse;
            # rebinding a durable name is an explicit act.
            raise ValueError(
                f"register: {name!r} is persisted in the warehouse "
                f"registry (at {self.tables[name]!r}) — pass "
                "persist=True to rebind it durably, or DROP TABLE "
                "first"
            )
        self.tables[name] = table_dir
        if persist:
            if self.base_dir is None:
                raise ValueError(
                    "register(persist=True) needs a catalog "
                    "constructed with base_dir="
                )
            self._persisted.add(name)
            self._save_binding(name)
        return self._register_views_tracked(name)

    def _latest_sid(self, name: str) -> int | None:
        from big_data_spark.io.manifest import latest_manifest

        try:
            man = latest_manifest(self.spark, self.tables[name])
        except Exception:  # noqa: BLE001 — tracking only, never fatal
            return None
        return None if man is None else int(man["snapshot_id"])

    def _register_views_tracked(self, name: str) -> list[str]:
        """Register the views and BRACKET-check which snapshot the
        head view reflects: the manifest id read before registration
        equals the one read after only if no commit raced the view
        build — on a race (or any read failure) record None, and the
        COUNT(*) fast path simply declines (the passthrough query
        through the pinned view stays authoritative)."""
        sid0 = self._latest_sid(name)
        names = register_snapshot_views(
            self.spark, self.tables[name], name, versions=self.versions
        )
        sid1 = self._latest_sid(name)
        self._view_sid[name] = (
            sid1 if sid1 is not None and sid0 == sid1 else None
        )
        return names

    def refresh(self, name: str) -> None:
        self._register_views_tracked(name)
        self._stale_aux.discard(name)

    def _refresh_after_dml(self, name: str) -> None:
        """Post-DML view refresh, O(1) in table age for lazy-mode
        catalogs: re-register the HEAD view (bracket-checked like
        _register_views_tracked) and mark `_history`/`_changes`
        stale instead of rebuilding them — their plans cost
        O(total versions) of driver time (profiled: the change-feed
        rebuild was the single largest driver slice of a MERGE, and
        it GROWS with every commit). They rebuild on the next
        catalog.sql statement that references them, or on an
        explicit refresh(). Eager-mode catalogs opted into
        O(versions) registration and keep the full rebuild; users
        reading the aux views through bare spark.sql in lazy mode
        see the pre-DML feed until one of those refresh points."""
        from big_data_spark.io.table_reads import read_snapshot

        if self.versions != "lazy":
            self.refresh(name)
            return
        sid0 = self._latest_sid(name)
        read_snapshot(self.spark, self.tables[name]).createOrReplaceTempView(
            name
        )
        sid1 = self._latest_sid(name)
        self._view_sid[name] = (
            sid1 if sid1 is not None and sid0 == sid1 else None
        )
        self._stale_aux.add(name)

    def _ensure_aux_fresh(self, statement: str) -> None:
        """Rebuild any stale `_history`/`_changes` view the statement
        references, BEFORE it parses — the lazy half of
        _refresh_after_dml's deferral."""
        if not self._stale_aux:
            return
        import re as _re

        from big_data_spark.catalog import register_aux_views

        low = statement.lower()
        for name in list(self._stale_aux):
            if _re.search(
                rf"\b{_re.escape(name.lower())}_(history|changes)\b", low
            ):
                register_aux_views(self.spark, self.tables[name], name)
                self._stale_aux.discard(name)

    def as_of(self, name: str, version: int) -> DataFrame:
        return as_of(self.spark, self.tables[name], version, name=name)

    def _drop_views(self, name: str) -> None:
        """Deregister every temp view a DROPped table owned —
        ``name``, ``name_v<N>``, ``name_tag_*``, ``name_history``,
        ``name_changes`` — so stale views can't resolve into the
        deleted dir. Views that belong to ANOTHER live registration
        (a table literally named ``orders_v2`` beside ``orders``, or
        ``orders_tag_gold`` and its own sub-views) are spared. All
        comparisons are CASE-INSENSITIVE: Spark lowercases temp-view
        names in listTables, so a verbatim match would both miss a
        mixed-case dropped table's views and fail to spare a
        mixed-case sibling's."""
        import re as _re

        def _pat(n: str):
            return _re.compile(
                rf"^{_re.escape(n)}(_tag_.+|_v\d+|_history|_changes)?$",
                _re.IGNORECASE,
            )

        pat = _pat(name)
        others = [
            _pat(o) for o in self.tables if o.lower() != name.lower()
        ]
        for tbl in self.spark.catalog.listTables():
            if (
                tbl.isTemporary
                and pat.match(tbl.name)
                and not any(o.match(tbl.name) for o in others)
            ):
                self.spark.catalog.dropTempView(tbl.name)

    @staticmethod
    def _partition_filter(man: dict, where) -> dict | None:
        """parse_metadata_select's WHERE conjuncts (typed literal
        values from Spark's parse tree) as a
        ``read_snapshot(partitions=)`` dict — or None to decline.
        Claims ONLY predicates metadata answers EXACTLY: every
        column a partition column, every literal canonicalized to
        the string Spark wrote to the dir names. Int-kind columns
        take integral literals, and string literals of plain ASCII
        digits (canonicalized, so '05' matches the '5' dir exactly as
        SQL's coercion would); string kinds take string literals only
        (a numeric would SQL-coerce '05' = 5 true while the dir string
        misses); date kinds take DATE literals or strict ISO-date
        strings (canonicalized). Anything else — float/decimal/
        timestamp/boolean keys, non-partition columns — declines: the
        rendered-string match could diverge from SQL comparison
        semantics, and the fast path promises exact passthrough
        agreement. Repeated conjuncts on one column intersect
        (``a = 1 AND a = 2`` -> empty match, SQL's empty aggregate
        row)."""
        import datetime as _dt
        import re as _re

        from big_data_spark.io.manifest import partition_cols

        # STRICT ASCII shapes only: Python's int()/fromisoformat
        # accept forms Spark's ANSI string casts reject (digit
        # underscores, Unicode digits, compact ISO dates) — claiming
        # those would answer scan-free where the passthrough raises
        # CAST_INVALID_INPUT, breaking the exact-agreement contract.
        date_lit = _re.compile(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
        pcols = set(partition_cols(man) or [])
        if not pcols:
            return None
        types = {
            f["name"]: f["type"] for f in man["schema"]
        }
        int_heads = ("tinyint", "smallint", "int", "bigint")
        out: dict[str, set[str]] = {}
        for col, lits in where:
            if col not in pcols:
                return None
            head = types.get(col, "").split("(")[0].strip().lower()
            vals: set[str] = set()
            for v in lits:
                if head in int_heads:
                    if isinstance(v, str):
                        digits = v.removeprefix("-")
                        if not (digits.isascii() and digits.isdigit()):
                            return None
                        v = int(v)
                    elif not isinstance(v, int):
                        return None
                    # The dir rendering ('05' -> '5', '-0' -> '0') —
                    # exactly what SQL coercion sees.
                    vals.add(str(v))
                elif head in ("string", "varchar", "char"):
                    if not isinstance(v, str):
                        return None
                    vals.add(v)
                elif head == "date":
                    if isinstance(v, str):
                        if not date_lit.match(v):
                            return None
                        try:
                            v = _dt.date.fromisoformat(v)
                        except ValueError:
                            return None  # e.g. month 13: Spark errors too
                    elif type(v) is not _dt.date:
                        return None  # a TIMESTAMP compares as one
                    vals.add(v.isoformat())
                else:
                    return None
            out[col] = vals if col not in out else out[col] & vals
        return {c: sorted(v) for c, v in out.items()}

    @staticmethod
    def _literal_fields(items, types):
        """[(out_name, type-ddl, nullable)] for the literal relation
        mirroring the real aggregate's output schema — the ONE
        func-to-dtype mapping, shared by the per-row renderer and
        the zero-groups branch so the empty and populated schemas
        can never drift. ``types`` maps column name to
        committed type (``agg["types"]`` and the manifest schema
        carry identical strings); None = decline (untyped column)."""
        fields: list = []
        for func, col, out in items:
            if func in ("count", "sum"):
                typ = "bigint"  # Spark's COUNT / integer-kind SUM
            elif func == "avg":
                typ = "double"
            else:  # col / min / max: the committed type
                typ = types.get(col)
                if not typ:
                    return None
            # COUNT is the one non-nullable aggregate — mirror the
            # real plan's schema exactly, nullability included.
            fields.append((out, typ, func != "count"))
        return fields

    @classmethod
    def _literal_row(cls, items, agg):
        """(values, [(out, type-ddl, nullable)]) for ONE aggregate
        fold rendered as the literal row the real query would
        return — or (None, None) to decline. ``"col"`` items (bare
        group columns) read the group's pinned partition value
        through the fold's MIN (one value per group, so min == max
        == the key, already parsed to the committed Python type)."""
        fields = cls._literal_fields(items, agg["types"])
        if fields is None:
            return None, None
        values: list = []
        for func, col, out in items:
            if func == "count":
                values.append(int(agg["rows"]))
            elif func == "col":
                values.append(agg["min"][col])
            elif func in ("min", "max"):
                values.append(agg[func][col])
            elif func == "sum":
                # Covered integer columns only — metadata_aggregate
                # OMITS (rather than raises) non-integer and
                # sums-uncovered columns, so absence means "real
                # query decides".
                if col not in agg["sum"]:
                    return None, None
                values.append(agg["sum"][col])
            else:  # avg
                if col not in agg["avg"]:
                    return None, None
                # Beyond 2^53 the metadata AVG (one exact-int->double
                # conversion, then divide) can differ from Spark's
                # incremental double accumulation in the last ulp —
                # the fast path promises EXACT passthrough agreement,
                # so it declines there (metadata_aggregate itself
                # documents the within-one-ulp tolerance).
                s = agg["sum"].get(col)
                if s is not None and abs(s) >= 2**53:
                    return None, None
                values.append(agg["avg"][col])
        return values, fields

    def _metadata_select(
        self,
        name: str,
        items,
        as_of: int | None = None,
        where=None,
        group=None,
    ) -> DataFrame | None:
        """Answer a parse_metadata_select shape from metadata only —
        a local literal relation (one row, or one row per partition
        group under GROUP BY), zero scan jobs (the optimizer rewrite
        Delta/Iceberg do in OptimizeMetadataOnlyQuery, spelled
        driver-side) — or None to fall through to the real query.
        Answers ONLY when the result provably matches what the pinned
        head view would return: metadata_aggregate's snapshot_id must
        equal the id the view was registered at; any drift (external
        writer, raced registration), any exactness refusal (MOR
        masks, stat-less generations, decimal/2^53 limits), and any
        SUM/AVG over a non-integer or sums-uncovered column falls
        through. Locally both paths sit in fixed py4j overhead; the
        shape matters at object-store scale where the scan term grows
        with the table."""
        from big_data_spark.io.aggregates import (
            metadata_aggregate,
            metadata_group_aggregate,
        )
        from big_data_spark.io.manifest import latest_manifest

        if as_of is None:
            view_sid = self._view_sid.get(name)
            if view_sid is None:
                return None
        sum_avg_cols = {
            c for f, c, _ in items if c and f in ("sum", "avg")
        }
        man = None
        if sum_avg_cols or where is not None or group is not None:
            # The cheap prechecks below decide from the committed
            # schema (one manifest read) BEFORE paying the full
            # sidecar fold for a shape that can never answer. A
            # pinned version runs the same prechecks against the
            # PINNED manifest at the same one-read cost as head.
            from big_data_spark.io.manifest import read_manifest

            try:
                man = (
                    latest_manifest(self.spark, self.tables[name])
                    if as_of is None
                    else read_manifest(
                        self.spark, self.tables[name], as_of
                    )
                )
            except Exception:  # noqa: BLE001 — passthrough decides
                return None
            if man is None:
                return None
        if sum_avg_cols:
            # Metadata SUM/AVG covers integer kinds only.
            types = {
                f["name"]: f["type"] for f in man["schema"]
            }
            int_heads = ("tinyint", "smallint", "int", "bigint")
            for c in sum_avg_cols:
                head = types.get(c, "").split("(")[0].strip().lower()
                if head not in int_heads:
                    return None
        if group is not None:
            # Partition-wise rollup: claim ONLY when every
            # GROUP BY column is a partition column and every bare
            # select item names a group column — anything else is a
            # real aggregation the stats cannot scope.
            from big_data_spark.io.manifest import partition_cols

            pcols = set(partition_cols(man) or [])
            if not set(group) <= pcols:
                return None
            if not {
                c for f, c, _ in items if f == "col"
            } <= set(group):
                return None
        elif any(f == "col" for f, _, _ in items):
            return None  # defensive: parser already unclaims this
        parts = None
        if where is not None:
            # Partition-predicate aggregates:
            # `COUNT(*) ... WHERE date = '2026-08-15'` — the
            # single most common planning query on a partitioned
            # fact table — answers from the matching live entries'
            # stats; any non-partition or inexactly-renderable
            # predicate falls through.
            parts = self._partition_filter(man, where)
            if parts is None:
                return None
        cols = sorted(
            {c for _, c, _ in items if c} | set(group or [])
        )
        try:
            if group is None:
                agg = metadata_aggregate(
                    self.spark,
                    self.tables[name],
                    columns=cols,
                    as_of=as_of,
                    partitions=parts,
                )
                snapshot_id = agg["snapshot_id"]
                aggs = [agg]
            else:
                res = metadata_group_aggregate(
                    self.spark,
                    self.tables[name],
                    list(group),
                    columns=cols,
                    partitions=parts,
                    # Reuse the precheck's manifest — no second read,
                    # and the pcols/_partition_filter prechecks and
                    # the fold see ONE consistent snapshot (`man` is
                    # always read when group is set).
                    _man=man,
                )
                snapshot_id = res["snapshot_id"]
                aggs = [g["agg"] for g in res["groups"]]
        except ValueError:
            return None
        if as_of is None and snapshot_id != view_sid:
            # A pinned version (as_of) is immutable — no drift
            # bracket needed; the HEAD answer must match the pinned
            # head view exactly.
            return None
        from pyspark.sql.types import StructField, StructType

        rows: list[tuple] = []
        fields = None
        for agg in aggs:
            values, fields = self._literal_row(items, agg)
            if values is None:
                return None
            rows.append(tuple(values))
        if fields is None:
            # ZERO groups (empty table / empty match under GROUP
            # BY): the schema still must mirror the real query's —
            # the SAME mapping as the per-row renderer, fed the
            # committed schema instead of a fold's types.
            fields = self._literal_fields(
                items,
                {
                    f["name"]: f["type"]
                    for f in man["schema"]
                },
            )
            if fields is None:
                return None
        struct = StructType(
            [
                StructField(
                    out,
                    StructType.fromDDL(f"`c` {typ}")
                    .fields[0]
                    .dataType,
                    nullable=nullable,
                )
                for out, typ, nullable in fields
            ]
        )
        # A local literal relation. Two builders:
        #
        # - JVM literals (range(1).select(lit...cast)) whenever every
        #   value is a plain scalar: no Python task at all, where the
        #   one-slice pickled RDD below runs one per action.
        #   int/float/str cross py4j by exact
        #   repr round-trip (shortest-repr doubles are bit-exact) and
        #   the cast pins the committed output type. NULLABILITY: a
        #   bare literal under-reports nullable aggregates as
        #   non-nullable, and neither when(TRUE, _) (analyzer-folded)
        #   nor .to(struct) (non-null under nullable is "compatible",
        #   kept) restores it — so the union below carries one
        #   filtered-out row whose nullable fields are typed NULLs:
        #   union nullability is the OR of its children by SQL
        #   semantics, version-stable. Bounded at 64 rows so a wide
        #   GROUP BY can't blow up the plan with unioned one-row
        #   projects.
        # - createDataFrame over one slice (session.driver_frame) for
        #   everything else: it round-trips every committed kind
        #   faithfully (naive timestamps convert through the session
        #   zone exactly as the real query's collect would;
        #   dates/decimals likewise) — fidelities the py4j literal
        #   path cannot promise (its datetime converter uses the OS
        #   zone, not the session zone) — in one task per action.
        def _scalar_safe(v) -> bool:
            if v is None or isinstance(v, (bool, str)):
                return True
            if isinstance(v, float):
                return v == v and v not in (float("inf"), float("-inf"))
            # int64-bounded only: F.lit() raises on a wider Python int
            # (an exact driver-side SUM over bigint can overflow long)
            # — out-of-range declines to the createDataFrame path so
            # the failure mode stays in one place.
            return isinstance(v, int) and -(2**63) <= v < 2**63

        if 0 < len(rows) <= 64 and all(
            _scalar_safe(v) for r in rows for v in r
        ):
            from pyspark.sql import functions as F

            parts = []
            for r in rows:
                cols = [
                    F.lit(v).cast(typ).alias(out)
                    for v, (out, typ, nullable) in zip(r, fields)
                ]
                parts.append(
                    # numPartitions=1: a bare range(1) still carries
                    # defaultParallelism splits (31 empty tasks).
                    self.spark.range(1, numPartitions=1).select(*cols)
                )
            if any(nullable for _, _, nullable in fields):
                null_cols = [
                    (F.lit(None) if nullable else F.lit(0))
                    .cast(typ)
                    .alias(out)
                    for out, typ, nullable in fields
                ]
                parts.append(
                    # numPartitions=1 for the same defaultParallelism-
                    # splits reason as the row parts (PruneFilters
                    # collapsing the WHERE false branch is an
                    # optimizer courtesy, not an invariant).
                    self.spark.range(1, numPartitions=1)
                    .select(*null_cols)
                    .where(F.lit(False))
                )
            out_df = parts[0]
            for p in parts[1:]:
                out_df = out_df.unionByName(p)
            return out_df.to(struct)
        return driver_frame(self.spark, rows, struct)

    def _travel_sid(self, name: str, travel) -> int | None | bool:
        """Snapshot id for a parsed time-travel clause against a
        registered table: None = head (no clause), an int = the
        pinned id, False = unresolvable — the fast path declines and
        the passthrough (rewrite_time_travel) raises its canonical
        error for a missing tag / pre-first-commit timestamp. Tag and
        timestamp resolution go through the SAME manifest-layer
        functions the passthrough uses, so both paths always pin the
        same version."""
        if travel is None:
            return None
        kind, val = travel
        from big_data_spark.io.table_reads import resolve_as_of_ts
        from big_data_spark.io.tags import list_tags
        from big_data_spark.sqldml import _parse_ts_ms

        try:
            if kind == "version":
                return int(val)
            if kind == "tag":
                tags = list_tags(self.spark, self.tables[name])
                return tags[val] if val in tags else False
            return resolve_as_of_ts(
                self.spark, self.tables[name], _parse_ts_ms(val)
            )
        except Exception:  # noqa: BLE001 — decline, passthrough decides
            return False

    def sql(self, statement: str):
        from big_data_spark.sqldml import (
            parse_metadata_select,
            rewrite_time_travel,
            route_statement,
        )

        self._ensure_aux_fresh(statement)
        parsed = parse_metadata_select(self.spark, statement)
        if parsed is not None:
            # Metadata-only fast path (any bare COUNT(*)/MIN/MAX/
            # SUM/AVG list, with time travel via `t VERSION AS OF n`
            # or the `t_vN` view spelling) — None means fall through
            # to the passthrough below, which stays authoritative. An exactly-registered name
            # always wins over the `_vN` interpretation (a real
            # table literally named `orders_v2` beside `orders`).
            import re as _re

            tbl, items, travel, where, grp = parsed
            base = as_of = None
            if tbl in self.tables:
                as_of = self._travel_sid(tbl, travel)
                if as_of is not False:
                    base = tbl
            elif travel is None:
                m = _re.match(r"^(\w+?)_v(\d+)$", tbl)
                if m and m.group(1) in self.tables:
                    base, as_of = m.group(1), int(m.group(2))
            if base is not None:
                fast = self._metadata_select(
                    base, items, as_of=as_of, where=where, group=grp
                )
                if fast is not None:
                    return fast

        st = route_statement(
            self.spark,
            statement,
            self.tables,
            base_dir=self.base_dir,
            persisted=self._persisted,
        )
        if isinstance(st, DataFrame):
            return st  # DESCRIBE HISTORY — a read, nothing to refresh
        if st is not None:
            if st.get("statement_type") == "DROP TABLE":
                self._drop_views(st["table"])
                self._view_sid.pop(st["table"], None)
                self._stale_aux.discard(st["table"])
                if self.base_dir is not None and (
                    st["table"] in self._persisted
                ):
                    self._persisted.discard(st["table"])
                    self._remove_binding(st["table"])
            else:
                if (
                    st.get("statement_type") == "CREATE TABLE"
                    and self.base_dir is not None
                ):
                    # CTAS persists: the binding survives the session.
                    self._persisted.add(st["table"])
                    self._save_binding(st["table"])
                # CREATE TABLE registered the name into self.tables
                # inside the dispatcher and needs its FIRST full view
                # set (the aux views must exist to be deferrable);
                # post-DML refreshes take the O(1)-in-table-age path.
                if st.get("statement_type") == "CREATE TABLE":
                    self.refresh(st["table"])
                else:
                    self._refresh_after_dml(st["table"])
            return st
        # SELECT-side time travel: 't VERSION AS OF n|tag' and
        # 't TIMESTAMP AS OF ts' rewrite to just-registered version
        # views before Spark parses the statement.
        return self.spark.sql(
            rewrite_time_travel(self.spark, statement, self.tables)
        )
