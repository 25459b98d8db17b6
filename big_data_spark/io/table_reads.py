"""Snapshot reads: ``read_snapshot`` (time travel, partition and
footer/stats pruning), ``read_entries`` (one scan per live generation,
merge-on-read delete vectors anti-joined out), the schema replay that
presents every generation in the committed schema, and
``evolve_schema`` — the metadata-only rename / drop / widen commit
whose event log that replay follows."""

from __future__ import annotations

import threading
from contextlib import contextmanager
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.layout import (
    _GEN_DIR_RE,
    _TAGS_DIR,
    _bare_expr,
    _gen_id_of,
    _read_json,
    bare_path,
    hadoop_fs,
)
from big_data_spark.io.manifest import (
    _claim_check,
    _read_manifests,
    commit_manifest,
    dir_cols,
    latest_manifest,
    read_manifest,
    select_partition_entries,
    snapshot_ids,
    successor,
)
from big_data_spark.io.sidecars import (
    _load_gen_stats,
    _prefetch_sidecars,
    _stats_covered,
)
from big_data_spark.io.tags import list_tags


_PART_TYPES_LOCK = threading.RLock()
# Depth/previous-value PER SparkSession (keyed by id): the conf is
# per-session SQLConf, so a process-global counter would skip
# disabling inference on a second session entered while the first
# holds the guard — and restore one session's previous value onto
# another.
_PART_TYPES_STATE: dict[int, list] = {}


@contextmanager
def _declared_partition_types(spark: SparkSession):
    """Scope a scan so hive partition-column values stay STRINGS and
    cast to the COMMITTED type downstream (_normalize_scan), instead
    of being type-INFERRED first. Inference-then-cast is lossy for
    numeric-looking string keys: a '00123' dir value infers as 123
    and casts back to '123' — the read would diverge from the raw
    value the manifest keys and DML attribution use (every
    manifest-driven scan, read_staged included).
    Partition discovery runs eagerly at DataFrame creation, so the
    conf only needs to cover the spark.read call. The conf is
    SESSION-GLOBAL, so entries are counted under a lock: concurrent
    guarded readers (two-thread DML/maintenance walks) keep inference
    off until the LAST one exits and the original value restores
    exactly once — an unsynchronized save/restore pair could
    re-enable inference under a racing reader (mistyping a '00123'
    key mid-scan) or leave it off for the whole session. State is
    kept per session (newSession() clones carry their own SQLConf).

    KNOWN TRADE: an UNGUARDED concurrent reader on the same session —
    a plain spark.read.parquet over its own hive layout in another
    thread — sees inference off during the guarded window (its
    partition columns come back string-typed for that read). The
    alternatives are worse: a dedicated newSession() per scan costs a
    SQLConf clone per read and breaks temp-view visibility, and an
    explicit user schema can't be derived for legacy tables without a
    committed schema. Callers mixing threads on one session should
    route their own hive reads through these guarded readers or a
    cloned session."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    sid = id(spark)
    with _PART_TYPES_LOCK:
        state = _PART_TYPES_STATE.get(sid)
        if state is None:
            state = [0, spark.conf.get(key)]
            _PART_TYPES_STATE[sid] = state
            spark.conf.set(key, "false")
        state[0] += 1
    try:
        yield
    finally:
        with _PART_TYPES_LOCK:
            state[0] -= 1
            if state[0] == 0:
                del _PART_TYPES_STATE[sid]
                spark.conf.set(key, state[1])


def resolve_as_of_ts(
    spark: SparkSession, table_dir: str, ts_ms: int
) -> int:
    """The newest snapshot id committed at or before ``ts_ms``
    (epoch millis) — timestamp time travel. Manifest reads go
    through the bulk scan (_read_manifests): one parallel job, not
    O(#commits) serial driver round trips."""
    ids = snapshot_ids(spark, table_dir)
    mans = _read_manifests(spark, table_dir, ids)
    best: int | None = None
    for sid in ids:
        if int(mans[sid]["committed_at_ms"]) <= ts_ms:
            best = sid
    if best is None:
        raise ValueError(
            f"no snapshot under {table_dir!r} committed at or before "
            f"ts {ts_ms} (oldest kept may have been vacuumed)"
        )
    return best


def _pad_to_schema(df: DataFrame, schema_fields: list[dict]) -> DataFrame:
    """Present ``df`` in the committed schema: columns an older
    generation lacks appear as TYPED nulls (an untyped F.lit(None)
    is a void column parquet refuses to write), in committed order."""
    for f in schema_fields:
        if f["name"] not in df.columns:
            df = df.withColumn(f["name"], F.lit(None).cast(f["type"]))
    return df.select(*[f["name"] for f in schema_fields])


def _gen_read_ddl(
    schema_fields: list[dict],
    rename_log: list | None,
    gen_id: int | None,
    partition_cols: list[str],
) -> str | None:
    """DDL string for an EXPLICIT per-generation read schema, or None
    when only footer inference is sound. Passing a user schema to the
    parquet reader skips the footer-inference job Spark otherwise runs
    per ``spark.read.parquet`` call — one driver round-trip per live
    generation on every snapshot read (8 of lake_merge's 13 jobs at
    bench scale were these single-task footer reads).

    The generation's PHYSICAL schema is derived from the committed
    one: each committed field's physical name reverse-replays the
    rename events committed after the generation was written, and its
    physical type may only be a ``_WIDEN_OK`` widening of the
    committed type — which the Spark 4 parquet readers promote
    natively (probed: tinyint/smallint/int -> wider ints, float ->
    double), so declaring the committed type is exact. Columns added
    after the generation read back as typed NULLs (probed), matching
    the allowMissingColumns union; later-dropped columns are simply
    absent from the schema, matching the drop replay. Dir-valued
    columns (entry partitions + generation layout; never renamed —
    protected by evolve_schema) are declared STRING so raw values like
    '00123' survive exactly as with inference disabled, cast to the
    committed type downstream in _normalize_scan as before.

    Falls back to inference (None) when: two committed fields
    derive the SAME physical name (a later column re-using a renamed-
    away name: the physical bytes belong to the OLD column and only
    the forward replay resolves it); or a later drop event's physical
    name collides with a derived one (drop-then-re-add: the file's
    column is dead data)."""
    evs = [
        ev
        for ev in (rename_log or [])
        if gen_id is None or ev[0] > gen_id
    ]
    pset = set(partition_cols)
    phys: dict[str, str] = {}
    for f in schema_fields:
        if f["name"] in pset:
            continue
        p = f["name"]
        for ev in reversed(evs):
            if ev[1] == "rename" and ev[3] == p:
                p = ev[2]
        phys[f["name"]] = p
    vals = list(phys.values())
    if len(set(vals)) != len(vals):
        return None
    if {ev[2] for ev in evs if ev[1] == "drop"} & set(vals):
        return None
    parts = []
    for f in schema_fields:
        if f["name"] in pset:
            parts.append(f"`{f['name']}` string")
        else:
            parts.append(f"`{phys[f['name']]}` {f['type']}")
    return ", ".join(parts)


def _normalize_scan(
    df: DataFrame,
    schema_fields: list[dict] | None,
    rename_log: list | None,
    gen_id: int | None = None,
) -> DataFrame:
    """Present ONE generation's physical columns in the committed
    logical schema by REPLAYING the manifest's evolution event log
    (``rename_log``: ordered ``[commit_id, kind, old, new]`` rows,
    kind 'rename' | 'drop') — only events committed AFTER this
    generation was written (``commit_id > gen_id``) apply, which
    resolves every name exactly: a later column reusing a former
    physical name, swaps across evolve calls, and drop-then-re-add
    (the old physical column is dropped by its event, never
    resurrected into the re-added column). Each rename was validated
    collision-free against the then-current schema at its commit, so
    sequential replay in commit order can never collide. Types then
    cast to the committed schema (evolve_schema admits only lossless
    widenings, so the cast cannot truncate). Callers without an
    event log pass no ``gen_id``."""
    for ev in rename_log or []:
        cid, kind, old, new = ev[0], ev[1], ev[2], ev[3]
        if gen_id is not None and cid <= gen_id:
            continue
        if old not in df.columns:
            continue
        if kind == "rename":
            if new in df.columns:
                raise ValueError(
                    f"rename replay collision: generation (id={gen_id}) "
                    f"carries both {old!r} and {new!r} at event "
                    f"commit {cid} — manifest log corrupt"
                )
            df = df.withColumnRenamed(old, new)
        elif kind == "drop":
            df = df.drop(old)
    dtypes = dict(df.dtypes)
    for f in schema_fields:
        if f["name"] in dtypes and dtypes[f["name"]] != f["type"]:
            df = df.withColumn(f["name"], F.col(f["name"]).cast(f["type"]))
    return df


# Lossless widenings evolve_schema admits (reader-side cast of old
# generations can therefore never truncate).
_WIDEN_OK = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def evolve_schema(
    spark: SparkSession,
    table_dir: str,
    renames: dict[str, str] | None = None,
    drops: list[str] | None = None,
    widens: dict[str, str] | None = None,
) -> int:
    """NON-additive schema evolution as a METADATA-ONLY commit
    (check_schema_evolution admits adds only): rename columns, drop
    columns, and widen integer/float types without touching a single
    data file. The manifest carries
    a VERSIONED event log (``rename_log``: ordered
    ``[commit_id, 'rename'|'drop', old, new]`` rows); readers replay
    onto each generation exactly the events committed after it was
    written and cast to the committed type, so a table evolved N
    times — including name swaps and a column re-using a former
    name — still reads every generation correctly. Entries, delete
    vectors and layout carry forward untouched; time travel to
    pre-evolution versions sees the old schema (each manifest carries
    only the events committed up to it).

    Refused loudly: evolving the partition/layout column (its values
    live in directory names), renaming onto an existing column,
    narrowing or any non-listed type change, unknown columns. The
    regular writers keep the ADDITIVE contract against the evolved
    schema — an old producer still writing the pre-rename schema
    fails at commit time rather than silently forking the table."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    fields = [dict(f) for f in man["schema"]]
    log = [list(ev) for ev in man["rename_log"]]
    next_id = man["snapshot_id"] + 1
    protected = set(dir_cols(man))
    by_name = {f["name"]: f for f in fields}

    for col in drops or []:
        if col in protected:
            raise ValueError(f"cannot drop partition/layout column {col!r}")
        if col not in by_name:
            raise ValueError(f"drop: unknown column {col!r}")
        fields.remove(by_name.pop(col))
        log.append([next_id, "drop", col, None])
    for old, new in (renames or {}).items():
        if old in protected:
            raise ValueError(
                f"cannot rename partition/layout column {old!r}"
            )
        if old not in by_name:
            raise ValueError(f"rename: unknown column {old!r}")
        if new in by_name:
            raise ValueError(f"rename: column {new!r} already exists")
        f = by_name.pop(old)
        f["name"] = new
        by_name[new] = f
        log.append([next_id, "rename", old, new])
    for col, new_type in (widens or {}).items():
        if col in protected:
            raise ValueError(f"cannot widen partition/layout column {col!r}")
        if col not in by_name:
            raise ValueError(f"widen: unknown column {col!r}")
        cur = by_name[col]["type"]
        if new_type not in _WIDEN_OK.get(cur, set()):
            raise ValueError(
                f"widen: {cur} -> {new_type} is not a lossless widening "
                f"(allowed: {sorted(_WIDEN_OK.get(cur, set()))})"
            )
        by_name[col]["type"] = new_type
    _claim_check(spark, table_dir, next_id)
    # Stats follow the evolution: only the COLUMNS list remaps eagerly
    # (renamed to the new logical names, dropped columns removed). The
    # immutable per-generation sidecars carry forward by path, and
    # readers replay the rename-log events committed after each
    # sidecar's names_at stamp onto its keys at load time — a rename
    # on a million-file table rewrites zero stats bytes.
    stats = man["stats"]
    if stats:
        key_map = {c: c for c in stats["columns"]}
        for col in drops or []:
            key_map.pop(col, None)
        for old, new in (renames or {}).items():
            if old in key_map:
                key_map[old] = new
        stats = {
            "columns": [
                key_map[c] for c in stats["columns"] if c in key_map
            ],
            "sidecars": dict(stats["sidecars"]),
        }
    commit_manifest(
        spark,
        table_dir,
        successor(
            man, next_id, dict(man["entries"]), schema=fields, rename_log=log
        ),
        prev_man=man,
        stats=stats,
    )
    return next_id


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    below: int | None = None,
    as_of: int | None = None,
    predicate: dict[str, tuple] | None = None,
    as_of_ts: int | None = None,
    tag: str | None = None,
    partitions: dict | None = None,
) -> DataFrame:
    """The table as of its newest snapshot (or ``as_of`` a specific
    id / strictly ``below`` an id / ``as_of_ts`` an epoch-millis
    commit timestamp / ``tag`` a pinned name — one selector at most;
    time travel and replays).

    ``partitions`` ({col: value | list-of-values}, conjunction over
    columns, disjunction within a list) prunes a PARTITIONED table at
    the MANIFEST level: only entries whose keys match enter the scan,
    so excluded partitions cost zero file listings — metadata-only
    pruning over any subset of the partition columns, the first level
    of a two-level (manifest -> footer) pruned read. Values compare
    as their string forms (the form Spark wrote to the dir names);
    the matching rows are additionally re-filtered row-level, so the
    result is exactly ``read_snapshot(...).filter(col.isin(values))``.

    One parquet scan per live data GENERATION (entries pointing into
    the same ``_data/s=<id>`` dir share a scan with ``basePath`` set,
    so hive-style partition columns written by ``partitionBy`` come
    back typed and partition-prunable), unioned by name. Pushdown and
    pruning reach every scan; compaction collapses generations.

    ``predicate`` ({col: (lo, hi)} ranges or {col: [v1, v2, ...]}
    IN-lists, conjunction; bounds numeric, string, ``datetime.date``
    or ``datetime.datetime``; IN-lists prune by their min/max
    envelope with exact ``isin`` membership in the residual) composes
    MANIFEST resolution with per-file data skipping (io/stats.py):
    only the live files whose min/max intervals can intersect the
    ranges enter the scan — the double pruning a table-format reader
    performs. Recorded sidecar stats answer first; generations
    committed without them fall back to a footer sweep. Both apply
    the one skip test, io/stats.keep_file, as ``read_pruned`` does
    for raw dirs. The predicate is re-applied
    row-level, so the result is EXACTLY ``read_snapshot(...).filter(pred)``
    (lossless; proven in tests/test_snapshot.py).
    """
    if sum(x is not None for x in (as_of, below, as_of_ts, tag)) > 1:
        raise ValueError(
            "read_snapshot takes at most ONE of as_of / below / "
            "as_of_ts / tag"
        )
    if tag is not None:
        # O(1): read the single tag file, not a listing of every tag
        # (the listing only feeds the not-found error message).
        tag_path = f"{table_dir}/{_TAGS_DIR}/{tag}.json"
        try:
            pin = _read_json(spark, tag_path)
        except Exception as exc:
            # Only a genuinely MISSING pin (never created, or deleted
            # mid-read) becomes the friendly not-found; a transient
            # I/O failure on an existing file must propagate, or a
            # caller treating not-found as permanent falls back to
            # the wrong version on an infra blip.
            fs_, tp_ = hadoop_fs(spark, tag_path)
            if fs_.exists(tp_):
                raise
            raise ValueError(
                f"tag {tag!r} not found under {table_dir!r} "
                f"(tags: {sorted(list_tags(spark, table_dir))})"
            ) from exc
        as_of = int(pin["snapshot_id"])
    elif as_of_ts is not None:
        as_of = resolve_as_of_ts(spark, table_dir, as_of_ts)
    if as_of is not None:
        man = read_manifest(spark, table_dir, as_of)
    else:
        man = latest_manifest(spark, table_dir, below=below)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    if predicate:
        from big_data_spark.io.stats import check_bound_types

        check_bound_types(
            predicate, {f["name"]: f["type"] for f in man["schema"]}
        )
    residual_parts = None
    if partitions:
        kept_entries, want = select_partition_entries(
            spark, man, partitions
        )
        man = {**man, "entries": kept_entries}
        # Row-level re-check (cheap: partition columns are constant
        # per dir) so the contract is exact even if a dir value's
        # string form differs from the typed column's render.
        residual_parts = [
            F.col(c).cast("string").isin(*sorted(vs))
            for c, vs in want.items()
        ]
    order = [f["name"] for f in man["schema"]]
    if not man["entries"]:
        # A legitimately EMPTY committed snapshot (e.g. a table whose
        # first append was an empty batch, or fully emptied partial
        # writes): readable as zero rows with the committed schema —
        # the writer published it, so the reader must not refuse it.
        ddl = ", ".join(
            f"`{f['name']}` {f['type']}" for f in man["schema"]
        )
        return spark.createDataFrame([], ddl)
    df = read_entries(
        spark,
        table_dir,
        man["entries"],
        column_order=order,
        predicate=predicate,
        deletes=man["deletes"],
        schema_fields=man["schema"],
        rename_log=man["rename_log"],
        stats=man["stats"],
        partition_cols=dir_cols(man),
    )
    if residual_parts:
        for cond in residual_parts:
            df = df.filter(cond)
    return df


def read_delete_positions(
    spark: SparkSession, table_dir: str, deletes: list[str]
) -> DataFrame:
    """(file_path, row_index) union of the live delete vectors, with
    file_path in scheme-insensitive form — the anti-join side of a
    merge-on-read scan. Small by contract (positions, not rows).
    The vector schema is fixed by the MOR writer, so the read passes
    it explicitly — no footer-inference job."""
    df = spark.read.schema("file_path string, row_index bigint").parquet(
        *[f"{table_dir}/{d}" for d in sorted(set(deletes))]
    )
    if not df.inputFiles():
        # Same loud-or-exact guard as the data scan: a live vector
        # dir always holds a file (empty vectors are unclaimed at
        # commit), so an empty listing is a racing vacuum/drop — the
        # inference path raised here; silently returning zero
        # positions would UNMASK deleted rows.
        raise ValueError(
            f"delete vectors {sorted(set(deletes))!r} under "
            f"{table_dir!r} list no files — concurrently removed "
            "during the read"
        )
    return df.select(
        _bare_expr(F.col("file_path")).alias("file_path"), "row_index"
    )


def read_entries(
    spark: SparkSession,
    table_dir: str,
    entries: dict[str, str],
    column_order: list[str] | None = None,
    predicate: dict[str, tuple] | None = None,
    deletes: list[str] | None = None,
    with_positions: bool = False,
    *,
    schema_fields: list[dict],
    rename_log: list | None = None,
    stats: dict | None = None,
    partition_cols: list[str],
) -> DataFrame:
    """``partition_cols`` (the manifest's dir-valued columns: entry
    partition columns + generation layout column) lets each
    generation read with an EXPLICIT schema (_gen_read_ddl) — zero
    footer-inference jobs.

    ``stats`` (the manifest's per-file column-stats block) routes
    ``predicate`` pruning through COMMIT-TIME metadata for covered
    generations — zero footer opens — with the distributed footer
    sweep as the fallback for generations committed without stats.
    ``schema_fields`` (the committed schema) + ``rename_log`` normalize
    each generation's
    physical columns into the committed logical schema (evolution
    event replay keyed on the generation's own commit id, widening
    cast) BEFORE the union — the evolve_schema read path.
    ``deletes`` applies merge-on-read delete vectors: every scan
    also projects the parquet ``_metadata`` (file_path, row_index)
    pair, and the union anti-joins the (broadcast) position set out —
    deleted rows never reach the caller. ``with_positions=True``
    keeps the ``_dv_path`` / ``_dv_pos`` columns on the result (the
    MOR writer and the change feed need them); default drops them."""
    if not entries:
        raise ValueError(
            f"snapshot has no live data under {table_dir!r} "
            "(fully emptied table) — handle the empty case upstream"
        )
    want_meta = bool(deletes) or with_positions
    by_gen: dict[str, list[str]] = {}
    for rel in entries.values():
        by_gen.setdefault("/".join(rel.split("/")[:2]), []).append(rel)
    kept_by_dir: dict[str, list[str]] | None = None
    if predicate:
        all_paths = sorted(
            {f"{table_dir}/{r}" for rels in by_gen.values() for r in rels}
        )
        kept_by_dir = {}
        # MANIFEST stats first: entry paths whose generation is
        # covered by the commit-time stats block prune as pure
        # driver-side metadata — zero footer opens, zero file
        # listings. Only generations committed without stats fall back
        # to the distributed footer sweep. The per-file stats live in
        # per-generation SIDECARS loaded lazily below — only for
        # generations that actually reach this read (entries are
        # already partition-pruned upstream), so a
        # partition-selective query on a million-file table touches
        # only its own generations' sidecar JSONs.
        covered_gens = _stats_covered(stats)
        stat_cols = (stats or {}).get("columns") or []
        # Typed compares need the committed schema's kind per column.
        from big_data_spark.io.stats import keep_file, stat_kind

        stat_kinds = {
            f["name"]: k
            for f in schema_fields
            if (k := stat_kind(f["type"])) is not None
        }
        session_tz = (
            spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
        )
        # A predicate column OUTSIDE the recorded stats set can only
        # prune through footers — routing covered paths through the
        # metadata would silently keep every file for that column (a
        # pruning regression vs the footer path). All-or-nothing per
        # read: stats serve only when they can answer every hinted
        # column.
        if not set(predicate) <= set(stat_cols):
            covered_gens = set()
        swept_paths: list[str] = []
        rels_by_gen: dict[str, set[str]] = {}
        path_of: dict[str, str] = {}
        for p in all_paths:
            rel = p[len(table_dir) + 1 :]
            gen = rel.split("/")[1]
            if gen not in covered_gens:
                swept_paths.append(p)
                continue
            rels_by_gen.setdefault(gen, set()).add(rel)
            path_of[rel] = p
        # Owner resolution per PARENT dir (cached), walking path
        # segments UP to the deepest live entry rel — O(#files +
        # #parents x depth), not O(#entries x #files): a 5k-leaf
        # partitioned generation would otherwise cost ~25M substring
        # probes per pruned read on the driver. ONE shared walk
        # (_owning_entry_rel) with metadata_aggregate's liveness, so
        # the two can never drift.
        pre = _prefetch_sidecars(spark, table_dir, stats, rels_by_gen)
        for g, rels_here in rels_by_gen.items():
            owner_cache: dict[str, str | None] = {}
            gen_doc = _load_gen_stats(
                spark, table_dir, stats, g, rename_log, _doc=pre.get(g)
            )
            gen_files = (gen_doc or {}).get("files") or {}
            for file_rel, per_col in gen_files.items():
                owner = _owning_entry_rel(file_rel, rels_here, owner_cache)
                if owner is None:
                    continue  # dead leaf of a partially-live generation
                if keep_file(per_col, predicate, stat_kinds, session_tz):
                    kept_by_dir.setdefault(path_of[owner], []).append(
                        f"{table_dir}/{file_rel}"
                    )
        if swept_paths:
            from big_data_spark.io.stats import prune_files_multi

            # ONE footer sweep over the uncovered paths (executor-
            # side), then regroup the kept files under their
            # generation dir so each generation still reads through
            # its own basePath. missing_ok + the rename log: a hinted
            # column may be absent from pre-evolution files (added
            # later) or live there under a former physical name — the
            # sweep resolves names per file and treats truly-missing
            # columns as unprunable instead of raising.
            keep = prune_files_multi(
                spark,
                swept_paths,
                predicate,
                rename_log=rename_log,
                missing_ok=True,
            )
            for f, k in keep.items():
                if k:
                    kept_by_dir.setdefault(
                        _owning_path(f, swept_paths), []
                    ).append(f)
    dfs = []
    for gen, rels in sorted(by_gen.items()):
        paths = sorted(f"{table_dir}/{r}" for r in set(rels))
        if kept_by_dir is not None:
            paths = sorted(
                f for p in paths for f in kept_by_dir.get(p, [])
            )
            if not paths:
                continue  # every file of this generation pruned away
        with _declared_partition_types(spark):
            # Partition dir values read as strings and cast to the
            # COMMITTED types in _normalize_scan below — inference
            # would corrupt numeric-looking string keys ('00123' ->
            # '123'). With a derivable physical schema the read skips footer
            # inference entirely (one driver job per generation saved)
            # and dir values are declared string directly.
            ddl = _gen_read_ddl(
                schema_fields, rename_log, _gen_id_of(gen), partition_cols
            )
            rdr = spark.read if ddl is None else spark.read.schema(ddl)
            if kept_by_dir is None and len(rels) == 1 and rels[0] == gen:
                part = rdr.parquet(*paths)
            else:
                part = rdr.option(
                    "basePath", f"{table_dir}/{gen}"
                ).parquet(*paths)
            if ddl is not None and not part.inputFiles():
                # LOUD-OR-EXACT: a committed generation always holds
                # >= 1 data file, so an empty listing means a racing
                # destructive op emptied the dir between manifest read
                # and scan. The inference path failed here naturally
                # ("unable to infer schema"); the explicit-schema path
                # would otherwise return a silently EMPTY scan — the
                # torn result the snapshot contract forbids.
                raise ValueError(
                    f"snapshot generation {gen!r} under {table_dir!r} "
                    "lists no data files — concurrently dropped or "
                    "vacuumed during the read"
                )
        if want_meta:
            # _metadata must be projected AT SCAN level (it is a
            # hidden per-file source column, not join-survivable).
            part = part.select(
                "*",
                F.col("_metadata.file_path").alias("_dv_path"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            )
        dfs.append(
            _normalize_scan(part, schema_fields, rename_log, _gen_id_of(gen))
        )
    if not dfs:
        # Every live file provably misses the predicate: empty result
        # with the real schema (and no data IO). Normalization params
        # carry through so an evolved table's empty result still
        # presents the COMMITTED names/types.
        df = read_entries(
            spark,
            table_dir,
            entries,
            column_order,
            schema_fields=schema_fields,
            rename_log=rename_log,
            partition_cols=partition_cols,
        ).where(F.lit(False))
        return df
    df = dfs[0]
    for other in dfs[1:]:
        # allowMissingColumns: generations written before an additive
        # schema change lack the new columns — they read as NULL, the
        # standard mergeSchema semantics. Commit-time validation
        # (check_schema_evolution) guarantees the surviving columns
        # agree in type, so the union can never silently coerce.
        df = df.unionByName(other, allowMissingColumns=True)
    if deletes:
        pos = read_delete_positions(spark, table_dir, deletes)
        df = df.join(
            F.broadcast(pos),
            (_bare_expr(F.col("_dv_path")) == pos["file_path"])
            & (F.col("_dv_pos") == pos["row_index"]),
            "left_anti",
        )
    # Typed-NULL-pad committed columns the SURVIVING generations all
    # lack — footer pruning can drop every generation that physically
    # carries a later-added column, and the residual filter /
    # column_order select below must still resolve it (an all-NULL
    # column correctly fails the range predicate: same rows as
    # full-scan-then-filter).
    df = _pad_to_schema(
        df,
        list(schema_fields)
        + (
            [
                {"name": "_dv_path", "type": "string"},
                {"name": "_dv_pos", "type": "bigint"},
            ]
            if want_meta
            else []
        ),
    )
    if column_order:
        # Canonical column order = the snapshot's committed schema
        # (generation iteration order is an implementation detail).
        keep = list(column_order) + (
            ["_dv_path", "_dv_pos"] if with_positions else []
        )
        df = df.select(*keep)
    elif want_meta and not with_positions:
        df = df.drop("_dv_path", "_dv_pos")
    if predicate:
        from big_data_spark.io.stats import range_predicate

        df = df.filter(range_predicate(predicate))
    return df


def _owning_path(file_uri: str, paths: list[str]) -> str:
    """Map a footer-sweep file URI back to the entry path that listed
    it (URI schemes may differ: the sweep returns ``file:/...`` for
    local paths; bare_path is the one shared normalizer)."""
    bare = bare_path(file_uri)
    for p in paths:
        pb = bare_path(p)
        if bare.startswith(pb.rstrip("/") + "/") or bare == pb:
            return p
    raise ValueError(f"pruned file {file_uri!r} under no entry path")


def _owning_rel(file_uri: str, table_dir: str, rels: list[str]) -> str:
    """Map a scanned file URI to the manifest entry whose dir holds
    it (scheme-insensitive via bare_path — the one normalizer, shared
    with io/fileindex — longest prefix wins, so nested entry dirs
    like _data/s=0 vs _data/s=0/_kb=1 resolve to the deeper one).

    Scan-provenance strings (input_file_name / _metadata.file_path)
    are URI-ENCODED by construction (Spark's urlEncodedPath) — a disk
    dir ``part=p 2%3Ax`` arrives as ``part=p%202%253Ax`` — while
    manifest rels hold raw disk names (matching raw names against
    provenance left DML on a partition value with a space or '%'
    matching no entry).
    The ONCE-UNQUOTED form is therefore tried first, COMPLETELY
    (longest prefix across all rels); trying the raw form first would
    mis-attribute a file whenever one partition's raw hive-escaped
    dir equals a sibling's encoded provenance ('a:b' vs 'a%3Ab' —
    review-probe confirmed). The raw pass survives only as a global
    fallback for a hypothetical unencoded provenance source, where it
    still raises loudly rather than matching nothing."""
    best: str | None = None
    for bare in (unquote(bare_path(file_uri)), bare_path(file_uri)):
        for rel in rels:
            pb = bare_path(f"{table_dir}/{rel}").rstrip("/") + "/"
            if bare.startswith(pb) and (
                best is None or len(rel) > len(best)
            ):
                best = rel
        if best is not None:
            return best
    raise ValueError(f"file {file_uri!r} under no manifest entry")


def _match_rels(hit_dirs, rels) -> set:
    """The manifest rels that own any of the scan-provenance dirs in
    ``hit_dirs`` (URI-encoded, see _owning_rel). The unquoted form
    matches first across ALL rels; the raw form is a global fallback
    PER DIR, only when the unquoted pass owned nothing — a per-pair
    fallback would alias an encoded dir onto a sibling partition's
    raw hive-escaped name even after the unquoted pass had already
    found the true owner."""
    owned: set = set()
    for g in hit_dirs:
        uq = unquote(g)
        hit = {
            rel for rel in rels if uq == rel or uq.startswith(rel + "/")
        }
        if not hit:
            hit = {
                rel for rel in rels if g == rel or g.startswith(rel + "/")
            }
        owned |= hit
    return owned


def _masked_rels(pos: DataFrame, rels) -> set:
    """The manifest rels in ``rels`` owning a file that the delete
    positions ``pos`` name. The generation/partition dir is extracted
    executor-side from each position's path, so the driver sees only
    distinct dirs."""
    hit_dirs = {
        r["_g"]
        for r in pos.select(
            F.regexp_extract("file_path", _GEN_DIR_RE, 1).alias("_g")
        )
        .distinct()
        .collect()
        if r["_g"]
    }
    return _match_rels(hit_dirs, rels)


def _owning_entry_rel(
    file_rel: str, rels_here: set[str], cache: dict[str, str | None]
) -> str | None:
    """The deepest live entry rel owning ``file_rel`` (walking parent
    segments up), or None for a dead leaf of a partially-live
    generation — THE liveness resolution, shared by read_entries'
    pruning and metadata_aggregate so the two can never disagree.
    ``cache`` memoizes per parent dir (caller-owned, per
    generation)."""
    parent = file_rel.rsplit("/", 1)[0]
    if parent not in cache:
        probe, owner = parent, None
        while True:
            if probe in rels_here:
                owner = probe
                break
            if "/" not in probe:
                break
            probe = probe.rsplit("/", 1)[0]
        cache[parent] = owner
    return cache[parent]
