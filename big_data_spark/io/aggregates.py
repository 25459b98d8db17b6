"""Answers from metadata alone: COUNT/MIN/MAX/SUM/AVG and
partition-wise rollups from the manifest plus its stats sidecars,
SHOW PARTITIONS and DESCRIBE DETAIL — and the maintenance commits
that keep those answers available: ANALYZE (stats backfill) and
sidecar consolidation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.layout import (
    _BULK_MANIFEST_THRESHOLD,
    _DATA_DIR,
    _live_gens,
    data_files,
)
from big_data_spark.io.manifest import (
    _claim_check,
    commit_manifest,
    dir_cols,
    entry_partition_values,
    latest_manifest,
    partition_cols,
    read_manifest,
    select_partition_entries,
    successor,
)
from big_data_spark.io.sidecars import (
    _SUM_INT_HEADS,
    _auto_commit_stats,
    _consolidated_stats_block,
    _load_gen_stats,
    _prefetch_sidecars,
    _stats_covered,
)
from big_data_spark.io.table_reads import _owning_entry_rel
from big_data_spark.io.tags import list_tags


def analyze_table(
    spark: SparkSession,
    table_dir: str,
    stats_columns: list[str] | None = None,
) -> dict:
    """Maintenance: backfill the manifest's per-file column stats for
    every live generation that lacks them — the explicit spelling of
    the backfill that otherwise rides along with the NEXT data commit
    (a read-mostly table could wait forever, paying the footer sweep
    on every pruned read). A generation whose doc went missing from
    its consolidated shard is re-swept too, and a table whose recorded
    column set should change re-sweeps from scratch.

    Commits ``maintenance=True`` with entries/schema/deletes carried
    verbatim — content is unchanged, the change feed skips it, and a
    concurrent writer's rename still wins the commit race (the caller
    retries like any maintenance op). Returns
    ``{analyzed_generations, covered_generations, stats_columns,
    snapshot_id}``; a fully-covered table is a NO-OP (no commit)."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    if stats_columns is not None:
        # Validate against the committed schema BEFORE committing: a
        # typo'd column would otherwise silently replace a working
        # stats block with an all-None one that every later commit
        # carries forward. Spark's own ANALYZE validates column
        # existence the same way.
        known = {f["name"] for f in man["schema"]}
        bad = [c for c in stats_columns if not c or c not in known]
        if bad or not stats_columns:
            raise ValueError(
                f"analyze_table: unknown stats column(s) {bad!r} — "
                f"committed schema has {sorted(known)!r}"
            )
    prev_stats = man["stats"]
    live_gens = sorted(_live_gens(man["entries"]))
    fresh = prev_stats is None or (
        stats_columns is not None
        and list(stats_columns) != prev_stats["columns"]
    )
    covered_before = 0
    if not fresh:
        # Covered = a loadable sidecar doc. ANALYZE is the explicit
        # gap-closer, so O(live generations) cached loads here are
        # its job, never the ordinary commit path's.
        for g in _stats_covered(prev_stats) & set(live_gens):
            if _load_gen_stats(spark, table_dir, prev_stats, g) is not None:
                covered_before += 1
    if not fresh and covered_before == len(live_gens):
        # Fully covered: the one remaining maintenance is sidecar
        # FRAGMENTATION — an append-heavy table holds one file per
        # commit, and past the process cache cap every aggregate
        # re-pays the bulk scan. Fold them into one consolidated
        # file; below the threshold, a true no-op.
        con = consolidate_stats(spark, table_dir)
        return {
            "analyzed_generations": 0,
            "covered_generations": covered_before,
            "stats_columns": list(prev_stats["columns"]),
            "snapshot_id": con["snapshot_id"],
            "merged_sidecars": con["merged_sidecars"],
        }
    stats = _auto_commit_stats(
        spark,
        table_dir,
        man["entries"],
        None if fresh else prev_stats,
        man["schema"],
        dir_cols(man),
        stats_columns,
        rename_log=man["rename_log"],
        repair_torn=True,  # ANALYZE is the explicit gap-closer
    )
    if stats is None:
        # No stat-capable columns: nothing to record, nothing to commit.
        return {
            "analyzed_generations": 0,
            "covered_generations": 0,
            "stats_columns": [],
            "snapshot_id": man["snapshot_id"],
            "merged_sidecars": 0,
        }
    # Consolidate the freshly built block in the SAME commit when the
    # sidecar file count crossed the threshold — one metadata commit
    # covers backfill AND defragmentation.
    stats, merged = _consolidated_stats_block(
        spark,
        table_dir,
        stats,
        set(live_gens),
        _CONSOLIDATE_MAX_SIDECARS,
    )
    next_id = man["snapshot_id"] + 1
    _claim_check(spark, table_dir, next_id)
    commit_manifest(
        spark,
        table_dir,
        successor(man, next_id, man["entries"], maintenance=True),
        prev_man=man,
        stats=stats,
    )
    return {
        "analyzed_generations": len(live_gens) - covered_before,
        "covered_generations": len(live_gens),
        "stats_columns": list(stats["columns"]),
        "snapshot_id": next_id,
        "merged_sidecars": merged,
    }


# Live sidecar FILES past this, ANALYZE folds them into consolidated
# shards (same bound as the bulk-prefetch threshold: below it the
# serial cached loop is already cheap).
_CONSOLIDATE_MAX_SIDECARS = _BULK_MANIFEST_THRESHOLD


def consolidate_stats(
    spark: SparkSession,
    table_dir: str,
    max_sidecars: int | None = None,
    shard_gens: int | None = None,
    shard_bytes: int | None = None,
) -> dict:
    """Maintenance: fold the live generations' LOOSE stats sidecar
    FILES (plus the tail shard) into size-capped consolidated shards
    and commit a metadata-only manifest referencing them (sharded
    and incremental).
    An append-heavy table accumulates one sidecar per commit; past
    the process cache cap (``_SIDECAR_CACHE_MAX``) every metadata
    aggregate re-pays a bulk distributed scan of them ALL — after
    consolidation the working set is ceil(live gens / shard cap)
    shard files, each read once per process, and a REPEAT pass
    rewrites only the unsealed tail (sealed full shards carry by
    reference — no O(live files) rewrite, ever). ``analyze_table``
    runs this automatically; this is the explicit spelling. At or
    below ``max_sidecars`` refoldable files it is a NO-OP (no
    commit). Returns ``{merged_sidecars, snapshot_id}``."""
    if max_sidecars is None:
        # Resolved at CALL time so tests (and operators) can tune the
        # module threshold without re-binding a default.
        max_sidecars = _CONSOLIDATE_MAX_SIDECARS
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    stats = man["stats"]
    if not stats or not stats.get("sidecars"):
        return {"merged_sidecars": 0, "snapshot_id": man["snapshot_id"]}
    new_stats, merged = _consolidated_stats_block(
        spark,
        table_dir,
        stats,
        _live_gens(man["entries"]),
        max_sidecars,
        shard_gens=shard_gens,
        shard_bytes=shard_bytes,
    )
    if merged == 0:
        return {"merged_sidecars": 0, "snapshot_id": man["snapshot_id"]}
    next_id = man["snapshot_id"] + 1
    _claim_check(spark, table_dir, next_id)
    commit_manifest(
        spark,
        table_dir,
        successor(man, next_id, man["entries"], maintenance=True),
        prev_man=man,
        stats=new_stats,
    )
    return {"merged_sidecars": merged, "snapshot_id": next_id}


def _live_stat_files(
    man: dict, gen_files: dict[str, dict]
) -> list[tuple[str, str]]:
    """(generation, file_rel) for every stats-covered file (per-gen
    file dicts in ``gen_files``, already lazily loaded) that lies
    under a LIVE entry — the same parent-walk owner resolution
    (_owning_entry_rel) read_entries uses, so metadata aggregates and
    pruned reads agree on liveness (a partially-live partitioned
    generation keeps only its live leaves)."""
    live_rels = set(man["entries"].values())
    out: list[tuple[str, str]] = []
    for g, files in gen_files.items():
        prefix = f"{_DATA_DIR}/{g}/"
        rels_here = {
            r
            for r in live_rels
            if r == f"{_DATA_DIR}/{g}" or r.startswith(prefix)
        }
        if not rels_here:
            continue
        cache: dict[str, str | None] = {}
        for file_rel in files or {}:
            if _owning_entry_rel(file_rel, rels_here, cache) is not None:
                out.append((g, file_rel))
    return out


def _agg_manifest(spark, table_dir, as_of, man, who: str) -> dict:
    """The manifest an aggregate folds: the caller's own (``_man`` —
    metadata_group_aggregate folds many groups off ONE read), a pinned
    version, or the latest. Time travel works on ANY retained
    manifest (its stats sidecars stay referenced and vacuum-protected);
    an expired or never-committed id raises the standard refusal so
    callers fall back to a real query."""
    if man is not None:
        return man
    if as_of is not None:
        try:
            return read_manifest(spark, table_dir, as_of)
        except Exception as exc:  # noqa: BLE001 — normalize refusal
            raise ValueError(
                f"{who}: no readable manifest for snapshot {as_of} "
                f"under {table_dir!r}"
            ) from exc
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    return man


def _entry_files(spark, table_dir: str, rel: str) -> tuple[int, int]:
    """(data file count, total bytes) under one live entry dir — a
    driver-side listing, no data reads."""
    sizes = [size for _, size in data_files(spark, f"{table_dir}/{rel}")]
    return len(sizes), sum(sizes)


def metadata_aggregate(
    spark: SparkSession,
    table_dir: str,
    columns: list[str] | None = None,
    as_of: int | None = None,
    partitions: dict | None = None,
    _man: dict | None = None,
) -> dict:
    """COUNT(*), per-column MIN/MAX, and SUM/AVG for integer columns,
    answered from the manifest plus its per-generation stats sidecars
    — zero data reads, zero footer opens (the Iceberg/Delta
    metadata-aggregate trick). Returns
    ``{"rows": N, "min": {col: value}, "max": {col: value},
    "sum": {col: int|None}, "avg": {col: float|None},
    "nonnull": {col: n}, "files": n, "snapshot_id": id,
    "types": {col: committed type string}}`` with values parsed back
    to Python types per the committed schema kind.

    SUM/AVG cover only columns whose CURRENT committed type is an
    integer kind (exact unbounded-int folding; float sums are
    order-dependent in Spark itself and decimals are refused
    upstream). A column appears in ``sum``/``avg``/``nonnull`` only
    when every live file recorded its sum — a column physically
    absent from some files (added by schema evolution) is left out,
    since only a real query can NULL-pad it. A per-file decimal(38,0)
    overflow at sweep time, or a fold total at/beyond 2^63 (where the
    real query's bigint SUM itself overflows), always raises —
    exactness over availability. SUM of an all-NULL column is None
    (SQL semantics); ``avg`` is the exact integer sum divided once in
    float — identical to Spark for totals inside 2^53, and within one
    ulp of Spark's double accumulation beyond it.

    REFUSES (ValueError) whenever metadata cannot answer EXACTLY —
    callers fall back to the real query:
    - merge-on-read delete vectors present (masked rows would count,
      and a masked row may hold a column's extreme) — fold_deletes
      first;
    - a live file without recorded stats/row counts (a generation
      committed without stats: run ``analyze_table``);
    - a requested column outside the recorded stats set, or without
      footer stats in some file;
    - a TIMESTAMP partition column (dir values render through the
      session; other partition columns answer MIN/MAX from the live
      entry keys themselves — and never enter SUM/AVG).
    ``columns=None`` aggregates every recorded stats column. An
    entirely-NULL column returns None min/max (SQL's MIN/MAX over
    all-NULL). Deleted-but-carried generations never count: liveness
    follows the same owner walk as pruned reads.

    ``partitions`` ({col: value | list-of-values}, the read_snapshot
    shape) scopes the whole fold to the MATCHING live entries:
    ``COUNT(*) ... WHERE date = '2026-08-15'`` on a partitioned fact
    table answers from the matching partitions' stats alone. Exact because a data file
    lives entirely inside one partition leaf, so partition-level
    pruning loses no rows and admits no extras. An empty match
    returns SQL's empty-aggregate row (0 / NULLs); an unknown or
    non-partition column refuses (ValueError) like any other
    unanswerable shape."""
    import datetime as _dt

    man = _agg_manifest(spark, table_dir, as_of, _man, "metadata_aggregate")
    if man["deletes"]:
        raise ValueError(
            "metadata_aggregate: merge-on-read delete vectors present "
            "— masked rows would be counted (and could hold extremes); "
            "run fold_deletes first or use a real query"
        )
    entries = man["entries"]
    if partitions is not None:
        # Manifest-level partition pruning (the read_snapshot
        # machinery): the fold below sees only matching entries, so
        # coverage checks, row counts, MIN/MAX and SUM/AVG all scope
        # to the selected partitions.
        entries, _ = select_partition_entries(spark, man, partitions)
    stats = man["stats"] or {}
    stat_cols = stats.get("columns") or []
    from big_data_spark.io.stats import stat_kind

    # Column validation FIRST — an empty table must refuse unknown /
    # partition / unanswerable columns exactly like a populated one
    # (a None "min" for a column that does not exist would read as a
    # real SQL NULL).
    cols = list(columns) if columns is not None else list(stat_cols)
    pcols = set(partition_cols(man) or [])
    kinds: dict[str, str] = {}
    types = {f["name"]: f["type"] for f in man["schema"]}
    part_cols: list[str] = []
    for c in cols:
        if c in pcols:
            # Partition columns answer MIN/MAX from the ENTRY KEYS
            # themselves (composing show_partitions' source instead
            # of refusing): every live entry IS a value occurrence.
            # Kinds that order reliably from the raw dir strings only; timestamp partition values render
            # through the session and are refused (rare; loud).
            k = stat_kind(types.get(c, ""))
            if k not in ("numeric", "string", "date"):
                raise ValueError(
                    f"metadata_aggregate: partition column {c!r} has "
                    f"type {types.get(c)!r} — only numeric/string/"
                    "date partition keys order reliably from entry "
                    "values; use a real query"
                )
            kinds[c] = k
            part_cols.append(c)
            continue
        if c not in stat_cols:
            raise ValueError(
                f"metadata_aggregate: {c!r} not in the recorded stats "
                f"columns {stat_cols!r} — run analyze_table with "
                "stats_columns"
            )
        if types.get(c, "").split("(")[0].strip().lower() == "decimal":
            raise ValueError(
                f"metadata_aggregate: {c!r} is decimal-typed — the "
                "stats fold stores doubles, which cannot represent "
                "every decimal exactly; use a real query"
            )
        k = stat_kind(types.get(c, ""))
        if k is None:
            raise ValueError(
                f"metadata_aggregate: column {c!r} has no orderable "
                "stats kind"
            )
        kinds[c] = k
    int_cols = [
        c
        for c in cols
        if c not in pcols
        and types.get(c, "").split("(")[0].strip().lower()
        in _SUM_INT_HEADS
    ]
    if not entries:
        return {
            "rows": 0,
            "min": {c: None for c in cols},
            "max": {c: None for c in cols},
            "sum": {c: None for c in int_cols},
            "avg": {c: None for c in int_cols},
            "nonnull": {c: 0 for c in int_cols},
            "files": 0,
            "snapshot_id": man["snapshot_id"],
            "types": {c: types.get(c) for c in cols},
        }
    if not _stats_covered(stats):
        raise ValueError(
            "metadata_aggregate: no per-file stats/row counts in the "
            "manifest — run analyze_table (or commit once) to record "
            "them"
        )
    # Every live data file must be covered by stats AND row counts.
    covered_gens = _stats_covered(stats)
    live_gen_set = _live_gens(entries)
    if not live_gen_set <= covered_gens:
        raise ValueError(
            "metadata_aggregate: generations without recorded stats "
            f"{sorted(live_gen_set - covered_gens)!r} — "
            "run analyze_table"
        )
    # Load every LIVE generation's stats — for sidecar layouts this
    # is the one place that reads them all (COUNT(*) needs every
    # file's row count); each is a small cached JSON, and the
    # manifest parse itself stayed O(#generations).
    pre = _prefetch_sidecars(spark, table_dir, stats, live_gen_set)
    loaded = {
        g: _load_gen_stats(
            spark,
            table_dir,
            stats,
            g,
            man["rename_log"],
            _doc=pre.get(g),
        )
        for g in sorted(live_gen_set)
    }
    # A covered-but-unloadable generation (its consolidated file lost
    # this gen's doc: partial replication, hand-restored backup) must
    # REFUSE — silently dropping the generation from the fold would
    # serve a wrong COUNT/MIN/MAX while the coverage gate above
    # passed.
    torn = [g for g, doc in loaded.items() if doc is None]
    if torn:
        raise ValueError(
            f"metadata_aggregate: generations {torn!r} are referenced "
            "by the stats block but their recorded docs are missing — "
            "run analyze_table to re-sweep; use a real query meanwhile"
        )
    pman = man if partitions is None else {**man, "entries": entries}
    live = _live_stat_files(
        pman,
        {g: (doc or {}).get("files") or {} for g, doc in loaded.items()},
    )

    int_heads = {"tinyint", "smallint", "int", "bigint"}

    def parse(k: str, s: str, col: str):
        if k == "numeric":
            v = float(s)
            # doubles hold integers exactly only below 2^53: a
            # snowflake-style bigint id would silently round —
            # exactness over availability (review finding).
            if abs(v) >= 2**53:
                raise ValueError(
                    f"metadata_aggregate: {col!r} value {s} exceeds "
                    "exact double range (2^53) — use a real query"
                )
            # Integer-kind columns parse back to Python int — the
            # contract is "what collect() on the equivalent real query
            # returns", and a bigint's MIN is 5, not 5.0. The 2^53
            # refusal above guarantees the intermediate double is
            # exact.
            head = types.get(col, "").split("(")[0].strip().lower()
            if head in int_heads:
                return int(v)
            return v
        if k == "date":
            return _dt.date.fromisoformat(s)
        if k == "timestamp":
            # Stats store canonical naive-UTC; PySpark's collect()
            # renders session timestamps in the DRIVER's local zone —
            # convert so metadata and real-query results agree on
            # non-UTC drivers (review finding).
            return (
                _dt.datetime.fromisoformat(s)
                .replace(tzinfo=_dt.timezone.utc)
                .astimezone()
                .replace(tzinfo=None)
            )
        if k == "timestamp_ntz":
            return _dt.datetime.fromisoformat(s)
        return s

    total = 0
    mins: dict[str, object] = {c: None for c in cols}
    maxs: dict[str, object] = {c: None for c in cols}
    for g, file_rel in live:
        doc = loaded[g]
        nr = doc["rows"].get(file_rel)
        per_col = doc["files"].get(file_rel)
        if nr is None or per_col is None:
            raise ValueError(
                f"metadata_aggregate: live file {file_rel!r} has no "
                "recorded stats/row count — run analyze_table"
            )
        total += int(nr)
        if int(nr) == 0:
            continue  # empty file: no row groups, nothing to fold
        for c in cols:
            if c in part_cols:
                continue  # folded from entry keys below
            v = per_col.get(c)
            if v == "allnull":
                continue  # contributes nothing to MIN/MAX (SQL NULLs)
            if v is None:
                raise ValueError(
                    f"metadata_aggregate: file {file_rel!r} has no "
                    f"usable footer stats for {c!r} — fall back to a "
                    "real query"
                )
            k = kinds[c]
            lo, hi = parse(k, v[0], c), parse(k, v[1], c)
            if mins[c] is None or lo < mins[c]:
                mins[c] = lo
            if maxs[c] is None or hi > maxs[c]:
                maxs[c] = hi
    # Partition-column MIN/MAX from the live entry keys: one parsed
    # value per LIVE entry — every entry has data by construction
    # (empty partitions drop out of the manifest).
    if part_cols:
        pcols_list = partition_cols(man) or []
        for key in entries:
            vals = entry_partition_values(spark, pcols_list, key)
            for c in part_cols:
                pv = parse(kinds[c], vals[c], c)
                if mins[c] is None or pv < mins[c]:
                    mins[c] = pv
                if maxs[c] is None or pv > maxs[c]:
                    maxs[c] = pv
    # SUM/AVG fold: exact Python-int accumulation over the per-file
    # decimal sums; a column is answered only when EVERY live file
    # recorded it.
    sums_out: dict[str, object] = {}
    avg_out: dict[str, object] = {}
    nnn_out: dict[str, int] = {}
    for c in int_cols:
        tot = 0
        n_tot = 0
        covered = True
        for g, file_rel in live:
            doc = loaded[g]
            if int(doc["rows"][file_rel]) == 0:
                continue  # empty file: contributes nothing
            per_s = doc["sums"].get(file_rel, {})
            per_n = doc["nonnull"].get(file_rel, {})
            if c not in per_s or c not in per_n:
                # The sweep could not record THIS column for THIS
                # file (physically absent: added by a later schema
                # evolution) — no maintenance can conjure the values;
                # only a real query (NULL-padding the column) answers.
                covered = False
                break
            n = int(per_n[c])
            s = per_s[c]
            if n == 0:
                continue  # all-null column in this file
            if s is None:
                raise ValueError(
                    f"metadata_aggregate: {c!r} overflowed the exact "
                    f"sum range in file {file_rel!r} at sweep time — "
                    "use a real query"
                )
            tot += int(s)
            n_tot += n
        if not covered:
            continue  # omitted: metadata cannot answer this column
        if n_tot == 0:
            sums_out[c] = None  # SQL SUM/AVG over all NULLs
            avg_out[c] = None
            nnn_out[c] = 0
            continue
        if abs(tot) >= 2**63:
            # The real query's bigint SUM would overflow here too —
            # both sides must go through a wider explicit cast.
            raise ValueError(
                f"metadata_aggregate: SUM({c!r}) = {tot} exceeds "
                "bigint range — use a real query with a decimal cast"
            )
        sums_out[c] = tot
        avg_out[c] = float(tot) / n_tot
        nnn_out[c] = n_tot
    return {
        "rows": total,
        "min": mins,
        "max": maxs,
        "sum": sums_out,
        "avg": avg_out,
        "nonnull": nnn_out,
        "files": len(live),
        "snapshot_id": man["snapshot_id"],
        # Committed type per requested column — callers rendering the
        # answer as a literal row (the SQL-door fast path) need the
        # exact output dtype of the equivalent real aggregate.
        "types": {c: types.get(c) for c in cols},
    }


def metadata_group_aggregate(
    spark: SparkSession,
    table_dir: str,
    group_cols: list[str],
    columns: list[str] | None = None,
    partitions: dict | None = None,
    as_of: int | None = None,
    _man: dict | None = None,
) -> dict:
    """Partition-wise GROUP BY rollup from metadata only:
    one ``metadata_aggregate`` result PER DISTINCT live combination
    of ``group_cols`` values — ``SELECT date, COUNT(*), MAX(v) FROM t
    GROUP BY date`` without touching a data file (the Iceberg
    partition-stats planning shape). ``group_cols`` must be partition
    columns; ``partitions`` pre-filters the entries exactly like
    ``metadata_aggregate(partitions=)`` (the WHERE clause). Returns
    ``{"groups": [{"values": {col: raw str}, "agg": <dict>}...],
    "snapshot_id": id}`` with groups sorted by their raw key values
    for determinism; the typed group-key value is ``agg["min"][col]``
    when ``col`` is requested in ``columns`` (one partition value per
    group, so min == max == the key).

    REFUSES (ValueError) whenever any group's fold refuses — the
    all-or-nothing contract callers need to fall back to one real
    query. Cost: ONE manifest read (or zero with ``_man``), ONE pass
    over the entry keys to bucket them per group, each generation's
    sidecar read once (process cache), then per-group dict folds
    over each group's OWN pre-filtered entries — per-group work is
    bounded by the files of the generations that own that partition,
    never a rescan of the full entry map per group. No data reads."""
    man = _agg_manifest(
        spark, table_dir, as_of, _man, "metadata_group_aggregate"
    )
    pcols = partition_cols(man) or []
    unknown = sorted(set(group_cols) - set(pcols))
    if unknown:
        raise ValueError(
            f"metadata_group_aggregate: {unknown} not in the table's "
            f"partition columns {pcols!r} — only partition-wise "
            "rollups answer from metadata; use a real query"
        )
    entries = man["entries"]
    if partitions is not None:
        entries, _ = select_partition_entries(spark, man, partitions)
    groups: dict[tuple, dict[str, str]] = {}
    group_entries: dict[tuple, dict[str, str]] = {}
    for key, rel in entries.items():
        vals = entry_partition_values(spark, pcols, key)
        gkey = tuple(vals[c] for c in group_cols)
        groups.setdefault(gkey, {c: vals[c] for c in group_cols})
        group_entries.setdefault(gkey, {})[key] = rel
    out = []
    for gkey in sorted(groups):
        # Each group's fold sees ONLY its own already-bucketed
        # entries (threaded through the manifest-reuse door), so the
        # per-group cost never includes re-filtering the full entry
        # map.
        agg = metadata_aggregate(
            spark,
            table_dir,
            columns=columns,
            _man={**man, "entries": group_entries[gkey]},
        )
        out.append({"values": groups[gkey], "agg": agg})
    return {"groups": out, "snapshot_id": man["snapshot_id"]}


def show_partitions(spark: SparkSession, table_dir: str) -> DataFrame:
    """SHOW PARTITIONS for a snapshot table: one row per LIVE
    partition leaf — the partition columns cast to the COMMITTED
    schema types (a '00123' string key stays '00123'), plus n_files /
    total_bytes so a user can spot skewed or fragmented leaves at a
    glance. Values come from manifest entry keys, counts from listing
    only live entry dirs — O(live files) driver metadata, no data
    reads. Spark's own SHOW PARTITIONS cannot answer this for these
    tables (they register as temp views), and like Spark it refuses
    unpartitioned tables loudly."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    pcols = partition_cols(man)
    if pcols is None:
        raise ValueError(
            f"SHOW PARTITIONS: table at {table_dir!r} is not "
            "partitioned"
        )
    agg: dict[tuple, list[int]] = {}
    for key, rel in man["entries"].items():
        vals = entry_partition_values(spark, pcols, key)
        cur = agg.setdefault(tuple(vals[c] for c in pcols), [0, 0])
        n, size = _entry_files(spark, table_dir, rel)
        cur[0] += n
        cur[1] += size
    types = {
        f["name"]: f["type"] for f in man["schema"]
    }
    rows = [
        (*vkey, int(n), int(b))
        for vkey, (n, b) in sorted(agg.items())
    ]
    ddl = ", ".join(f"`{c}` string" for c in pcols)
    out = spark.createDataFrame(
        rows, f"{ddl}, n_files long, total_bytes long"
    )
    return out.select(
        *[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in pcols
        ],
        "n_files",
        "total_bytes",
    )


def table_detail(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE DETAIL for a snapshot table (Delta's spelling): ONE
    row summarizing the CURRENT version — location, snapshot id,
    commit timestamp, partition columns, entry/generation counts,
    live data file count + total bytes, delete-vector / row-CDF
    presence, stats coverage (generations with manifest-embedded
    column stats / total), tag count, schema column count. File
    counts come from listing only the LIVE entry dirs — O(live files)
    driver metadata, no data reads."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    listed = [
        _entry_files(spark, table_dir, rel)
        for rel in sorted(set(man["entries"].values()))
    ]
    n_files = sum(n for n, _ in listed)
    total_bytes = sum(b for _, b in listed)
    gens = _live_gens(man["entries"])
    stats = man["stats"] or {}
    covered = len(_stats_covered(stats) & gens)
    # Distinct sidecar FILES serving the live generations: the
    # fragmentation signal behind metadata-aggregate latency —
    # `consolidate_stats`/`ANALYZE` folds a large count to 1. Cheap: manifest values only, nothing loaded.
    side = stats.get("sidecars") or {}
    live_rels = {side[g] for g in side if g in gens}
    n_side_files = len(live_rels)
    # Consolidated SHARDS among them: a user reading WHY a
    # metadata aggregate is slow (or refused) sees the shard/loose
    # split at a glance — many loose files = consolidation due.
    n_shards = sum(
        1
        for r in live_rels
        if r.rsplit("/", 1)[-1].startswith("consolidated-")
    )
    # SUM/AVG coverage: live generations whose sidecar docs load (a
    # doc lost from its consolidated shard refuses SUM/AVG until
    # ANALYZE re-sweeps it). DESCRIBE is the diagnostic surface, so
    # the O(live generations) cached loads are its job (same trade
    # analyze_table makes).
    sums_covered = sum(
        _load_gen_stats(spark, table_dir, stats, g) is not None
        for g in sorted(_stats_covered(stats) & gens)
    )
    row = (
        table_dir,
        int(man["snapshot_id"]),
        int(man["committed_at_ms"]),
        partition_cols(man) or [],
        man["layout_by"],
        len(man["entries"]),
        len(gens),
        int(n_files),
        int(total_bytes),
        len(man["deletes"]),
        bool(man["cdf"]),
        covered,
        list(stats.get("columns") or []),
        n_side_files,
        n_shards,
        sums_covered,
        len(list_tags(spark, table_dir)),
        len(man["schema"]),
    )
    return spark.createDataFrame(
        [row],
        "location string, snapshot_id int, committed_at_ms long, "
        "partition_columns array<string>, layout_by string, "
        "n_entries int, n_generations int, n_data_files int, "
        "total_bytes long, n_delete_vectors int, has_row_cdf boolean, "
        "stats_covered_generations int, stats_columns array<string>, "
        "stats_sidecar_files int, stats_consolidated_shards int, "
        "sums_covered_generations int, "
        "n_tags int, n_columns int",
    )
