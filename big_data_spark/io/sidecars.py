"""Per-generation column-stats sidecars: the commit-time generation
sweep (one listing, io/stats.file_stats per file), the immutable
sidecar files under ``_manifests/stats/`` and their process cache,
lazy per-generation loads with rename-log replay, and consolidated
shards.

The manifest carries only ``{generation: sidecar rel path}``
(``stats.sidecars``); per-file min/max, row counts and integer sums
live here — the Iceberg manifest-file / manifest-list split, which
keeps the manifest O(#generations). ``_auto_commit_stats`` builds
each commit's stats block; ANALYZE and consolidation (io/aggregates.py)
reuse the same pieces."""

from __future__ import annotations

import json
import re
import threading
import uuid

from pyspark.sql import SparkSession

from big_data_spark.io.layout import (
    _DATA_DIR,
    _STATS_SIDE_DIR,
    _live_gens,
    _read_json,
    _write_text,
    bare_path,
    data_files,
    hadoop_fs,
    read_docs,
)


# Sidecar files are IMMUTABLE (a fresh uuid name per write, the
# manifest references them by path), so a small per-process cache is
# always coherent — it saves the JSON read when many queries touch
# the same generations, and the write path primes it so the writing
# session never re-reads its own sidecars.
_SIDECAR_CACHE: dict[tuple[str, str], dict] = {}
_SIDECAR_CACHE_LOCK = threading.Lock()
# Sized so tables up to a few hundred live generations reach pure
# cache hits on repeated aggregates/pruned reads (each doc is
# O(files-per-generation) — bounded driver memory); beyond it the
# bulk prefetch re-reads per query, trading repeat cost for a
# bounded footprint.
_SIDECAR_CACHE_MAX = 512


def _write_stats_sidecar(
    spark: SparkSession,
    table_dir: str,
    gen: str,
    files: dict[str, dict],
    rows: dict[str, int],
    names_at: int,
    sums: dict[str, dict],
    nonnull: dict[str, dict],
) -> str:
    """Persist one generation's per-file stats as an immutable sidecar
    under ``_manifests/stats/`` and return its table-relative path.
    ``names_at`` pins which rename-log events are already reflected
    in the column keys (the max event commit id at sweep time);
    readers replay only LATER events, so a rename after the sweep
    stays metadata-only — no sidecar rewrite (Iceberg gets the same
    via field ids).

    No temp-then-rename: the name is unique (uuid) and the file is
    referenced only by a manifest committed strictly AFTER this write
    returns — a crash mid-write leaves an unreferenced orphan that
    vacuum reclaims, never a torn live file."""
    rel = f"{_STATS_SIDE_DIR}/{gen}-{uuid.uuid4().hex}.json"
    doc = {
        "gen": gen,
        "files": files,
        "rows": rows,
        "names_at": names_at,
        # Per-file exact integer sums + non-null counts; {} = swept
        # with no sum-capable columns.
        "sums": sums,
        "nonnull": nonnull,
    }
    _put_sidecar(spark, table_dir, rel, json.dumps(doc, sort_keys=True), doc)
    return rel


def _put_sidecar(
    spark: SparkSession, table_dir: str, rel: str, body: str, doc: dict
) -> None:
    """Write one immutable sidecar file and prime the process cache
    with its parsed ``doc`` (the writing session never re-reads it)."""
    fs, dpath = hadoop_fs(spark, f"{table_dir}/{_STATS_SIDE_DIR}")
    fs.mkdirs(dpath)
    _, fpath = hadoop_fs(spark, f"{table_dir}/{rel}")
    _write_text(fs, fpath, body)
    with _SIDECAR_CACHE_LOCK:
        _cache_put((table_dir, rel), doc)


def _cache_put(key: tuple[str, str], doc: dict) -> None:
    """Insert under ``_SIDECAR_CACHE_LOCK``, evicting the oldest entry
    at the cap."""
    if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    _SIDECAR_CACHE[key] = doc


# Cache-miss sidecar file reads this process has paid (monotonic;
# tests and the consolidation probe read it — a consolidated table's
# repeat aggregate must stay at O(1) reads, not O(generations)).
_SIDECAR_FS_READS = 0


def _read_sidecar(spark: SparkSession, table_dir: str, rel: str) -> dict:
    global _SIDECAR_FS_READS
    key = (table_dir, rel)
    with _SIDECAR_CACHE_LOCK:
        hit = _SIDECAR_CACHE.get(key)
    if hit is not None:
        return hit
    doc = _read_json(spark, f"{table_dir}/{rel}")
    with _SIDECAR_CACHE_LOCK:
        _SIDECAR_FS_READS += 1
        _cache_put(key, doc)
    return doc


def _rlog_max_id(rename_log: list | None) -> int:
    """Newest schema-evolution event commit id — the ``names_at``
    stamp for sidecars swept now: every event <= it is already
    reflected in the swept column keys."""
    return max((int(ev[0]) for ev in rename_log or []), default=0)


def _replay_sidecar_names(
    files: dict[str, dict], rename_log: list | None, names_at: int
) -> dict[str, dict]:
    """Remap a sidecar's per-file column keys through the evolution
    events committed AFTER its ``names_at`` stamp — renames follow,
    drops disappear. Keyed per event id, so a NEW column re-using a
    dropped/renamed column's former name is never confused with it:
    newer sidecars carry a higher names_at and skip the old events."""
    events = [
        ev for ev in (rename_log or []) if int(ev[0]) > names_at
    ]
    if not events:
        return files
    keys = {c for per_col in files.values() for c in per_col}
    key_map: dict[str, str | None] = {}
    for k in keys:
        name: str | None = k
        for cid, kind, old, new in events:
            if kind == "rename" and name == old:
                name = new
            elif kind == "drop" and name == old:
                name = None
                break
        key_map[k] = name
    if all(key_map[k] == k for k in keys):
        return files
    return {
        f: {
            key_map[c]: v
            for c, v in per_col.items()
            if key_map[c] is not None
        }
        for f, per_col in files.items()
    }


def _stats_covered(stats: dict | None) -> set[str]:
    """Generations the stats block covers with per-file MIN/MAX."""
    return set((stats or {}).get("sidecars") or {})


def _prefetch_sidecars(
    spark: SparkSession,
    table_dir: str,
    stats: dict | None,
    gens,
) -> dict[str, dict]:
    """Read the UNCACHED sidecars of many generations through the one
    bulk reader (``layout.read_docs``: serial for a handful, ONE
    distributed whole-file text scan above the threshold): metadata
    aggregates touch every live generation, and a 10k-generation
    table would otherwise pay 10k serial object-store round trips
    before answering. Returns {gen: doc}; a generation it leaves out
    falls back to the serial cached ``_read_sidecar``."""
    global _SIDECAR_FS_READS
    side = (stats or {}).get("sidecars") or {}
    with _SIDECAR_CACHE_LOCK:
        # DISTINCT uncached files: a consolidated sidecar is
        # referenced by MANY generations but read once.
        need: list[str] = []
        seen: set[str] = set()
        for g in gens:
            rel = side.get(g)
            if (
                rel is not None
                and rel not in seen
                and (table_dir, rel) not in _SIDECAR_CACHE
            ):
                seen.add(rel)
                need.append(rel)
    texts = read_docs(spark, [f"{table_dir}/{r}" for r in need])
    out: dict[str, dict] = {}
    raw_by_rel: dict[str, dict] = {}
    # Each doc is attributed to the rel it was READ FROM: recovering
    # it by searching side[] for any gen the doc carries mis-attributed
    # stale consolidated files (an older consolidated doc still naming
    # a gen whose side[] now points at a fresher per-gen sidecar could
    # be cached under the NEW rel and overwrite the fresh read),
    # silently dropping an ANALYZE backfill.
    for rel in need:
        text = texts.get(f"{table_dir}/{rel}")
        if text is None:
            continue  # defensive: left to the serial fallback
        doc = json.loads(text)
        raw_by_rel[rel] = doc
        if "gens" in doc:
            # Consolidated file: expand ONLY the generations whose
            # sidecar reference actually points here — a gen carried
            # by an old shard but re-swept since must come from its
            # fresher per-gen file, never this copy.
            for g, d in doc["gens"].items():
                if side.get(g) == rel:
                    out[g] = d
        elif side.get(doc.get("gen")) == rel:
            out[doc["gen"]] = doc
    # Prime the cache from the read (up to the cap): tables whose
    # generations fit become pure cache hits on every repeat query —
    # without this the bulk scan re-ran per aggregate forever;
    # oversized tables keep the bounded footprint.
    with _SIDECAR_CACHE_LOCK:
        _SIDECAR_FS_READS += len(raw_by_rel)
        for rel, doc in raw_by_rel.items():
            if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
                break
            _SIDECAR_CACHE.setdefault((table_dir, rel), doc)
    return out


def _load_gen_stats(
    spark: SparkSession,
    table_dir: str,
    stats: dict | None,
    gen: str,
    rename_log: list | None = None,
    _doc: dict | None = None,
) -> dict | None:
    """One generation's recorded stats from the stats block — LAZILY:
    one small sidecar JSON (cached) read only when a query actually
    needs this generation. None = uncovered (or a consolidated shard
    that lost this generation's doc); otherwise a dict with:

    - ``files``: {file_rel: {col: [min,max] | "allnull" | None}}
    - ``rows``:  {file_rel: n_rows}
    - ``sums``:  {file_rel: {col: exact-int-string | None}} for the
      INTEGER stat columns
    - ``nonnull``: {file_rel: {col: non-null count}}, paired with
      ``sums``

    Column keys in every per-file dict are replayed through the
    evolution events committed after the sidecar's names_at stamp."""
    side = (stats or {}).get("sidecars") or {}
    if gen not in side:
        return None
    doc = (
        _doc
        if _doc is not None
        else _read_sidecar(spark, table_dir, side[gen])
    )
    if "gens" in doc:
        # Consolidated sidecar: ONE file carries many generations'
        # docs — extract this generation's. The raw file is what's
        # cached, so every sibling generation is a pure cache hit
        # after the first read.
        doc = doc["gens"].get(gen)
        if doc is None:
            return None  # torn consolidation: behave as uncovered
    at = int(doc["names_at"])
    return {
        "files": _replay_sidecar_names(doc["files"], rename_log, at),
        "rows": doc["rows"],
        "sums": _replay_sidecar_names(doc["sums"], rename_log, at),
        "nonnull": _replay_sidecar_names(doc["nonnull"], rename_log, at),
    }


def load_generation_stats(
    spark: SparkSession, table_dir: str, man: dict, gen: str
) -> tuple[dict | None, dict | None]:
    """Public spelling of the lazy per-generation stats load — the
    (per-file column stats, per-file row counts) a manifest records
    for ``gen``, resolved through its sidecar. Tools and tests use
    this instead of reaching into the manifest dict, so the storage
    layout can evolve freely."""
    doc = _load_gen_stats(
        spark,
        table_dir,
        man["stats"],
        gen,
        rename_log=man["rename_log"],
    )
    if doc is None:
        return None, None
    return doc["files"], doc["rows"]


_STATS_MAX_COLS = 4
# Local generations at or under this many files run the per-file
# stats function in a driver loop (ms per file); larger or remote ones
# run it on executors. Patchable in tests to force the executor path
# on small fixtures.
_LOCAL_SWEEP_MAX_FILES = 64


def _default_stats_columns(
    schema_fields: list[dict], dir_cols: list[str]
) -> list[str]:
    """The LEADING stat-capable columns (schema order, capped) stats
    are recorded for by default — numeric, string, date and timestamp
    types (io/stats.stat_kind is the one type→kind mapping).
    Partition/layout columns excluded (they live in dir names, not
    file footers, and manifest entries already prune them)."""
    from big_data_spark.io.stats import stat_kind

    out: list[str] = []
    for f in schema_fields:
        if f["name"] in dir_cols:
            continue
        if stat_kind(f["type"]) is not None:
            out.append(f["name"])
            if len(out) == _STATS_MAX_COLS:
                break
    return out


_SUM_INT_HEADS = ("tinyint", "smallint", "int", "bigint")


def _sum_columns(
    columns: list[str], schema_fields: list[dict] | None
) -> list[str]:
    """The stats columns metadata SUM/AVG covers: INTEGER types only.
    Exactness is the contract — integer sums fold in unbounded Python
    ints; float/double sums are order-dependent in Spark itself and
    decimals are already refused by the stats fold — so non-integer
    columns simply never record sums."""
    types = {f["name"]: f["type"] for f in schema_fields or []}
    return [
        c
        for c in columns
        if types.get(c, "").split("(")[0].strip().lower()
        in _SUM_INT_HEADS
    ]


def _sweep_generation(
    spark: SparkSession,
    table_dir: str,
    gen_rel: str,
    columns: list[str],
    sum_cols: list[str],
    rename_log: list | None = None,
) -> tuple[dict, dict, dict, dict]:
    """One (immutable, just-written) data generation's sidecar body —
    ``(files, rows, sums, nonnull)`` keyed by table-relative file path:
    ``io/stats.file_stats`` per file (folded min/max per column, row
    count, exact integer sums + non-null counts of ``sum_cols``).
    ``sums``/``nonnull`` stay ``{}`` when no sum column resolves to a
    physical column of this generation. Swept ONCE at commit time —
    generations are immutable, so every later commit carries the
    result forward as metadata.

    The generation is listed once. Small local generations run the
    per-file function in a driver loop (ms per file); larger or remote
    ones run the same function on executors. The rename log resolves
    each column's physical name in this generation, so a generation
    backfilled after a rename records its stats under the current
    name instead of as permanently unprunable."""
    from big_data_spark.io.stats import file_stats, sweep_file_stats

    uris = [uri for uri, _ in data_files(spark, f"{table_dir}/{gen_rel}")]
    if not uris:
        return {}, {}, {}, {}
    # Listed URIs are qualified, so the scheme is on each of them.
    if uris[0].startswith("file:") and len(uris) <= _LOCAL_SWEEP_MAX_FILES:
        per_file = {
            u: file_stats(u, columns, sum_cols, rename_log) for u in uris
        }
    else:
        per_file = sweep_file_stats(spark, uris, columns, sum_cols, rename_log)
    prefix = bare_path(f"{table_dir}/").rstrip("/") + "/"
    files: dict[str, dict] = {}
    rows: dict[str, int] = {}
    sums: dict[str, dict] = {}
    nonnull: dict[str, dict] = {}
    for uri, st in per_file.items():
        b = bare_path(uri)
        rel = b[len(prefix):] if b.startswith(prefix) else uri
        files[rel] = st["bounds"]
        rows[rel] = st["rows"]
        if st["sums"] is not None:
            sums[rel] = st["sums"]
            nonnull[rel] = st["nonnull"]
    return files, rows, sums, nonnull


def _auto_commit_stats(
    spark: SparkSession,
    table_dir: str,
    entries: dict[str, str],
    prev_stats: dict | None,
    schema_fields: list[dict],
    dir_cols: list[str],
    stats_columns: list[str] | None,
    rename_log: list,
    repair_torn: bool = False,
) -> dict | None:
    """The commit's ``stats`` block: carry every already-covered live
    generation forward (an O(1) sidecar-path copy per generation —
    pure metadata, nothing loaded), sweep only the NEW ones into
    fresh sidecars — O(new files) per commit, the Iceberg write-side
    trade, and the manifest itself stays O(#generations). Returns
    None when no stat-worthy columns exist.

    ``repair_torn`` (ANALYZE) also loads each carried sidecar and
    re-sweeps a generation whose doc is missing from its consolidated
    shard."""
    gens = sorted(_live_gens(entries))
    prev_side = (prev_stats or {}).get("sidecars") or {}
    if stats_columns is not None:
        columns = list(stats_columns)
        if (
            prev_stats
            and prev_stats.get("columns") != columns
            and any(g in prev_side for g in gens)
        ):
            raise ValueError(
                "stats_columns differ from the table's recorded stats "
                f"columns {prev_stats['columns']!r} while carried "
                "generations keep the old set — change columns on a "
                "full rewrite (no carried generations) only"
            )
    elif prev_stats:
        columns = prev_stats["columns"]
    else:
        columns = _default_stats_columns(schema_fields, dir_cols)
    if not columns:
        return None
    names_at = _rlog_max_id(rename_log)
    sum_cols = _sum_columns(columns, schema_fields)
    out_side: dict[str, str] = {}

    def sweep(g: str) -> str:
        files, nrows, sums, nnn = _sweep_generation(
            spark,
            table_dir,
            f"{_DATA_DIR}/{g}",
            columns,
            sum_cols,
            rename_log=rename_log,
        )
        return _write_stats_sidecar(
            spark, table_dir, g, files, nrows, names_at,
            sums=sums, nonnull=nnn,
        )

    for g in gens:
        if g in prev_side and not (
            repair_torn
            and _load_gen_stats(spark, table_dir, prev_stats, g) is None
        ):
            # Ordinary commits carry covered generations by PATH —
            # O(1) per generation, nothing loaded, never a surprise
            # full-table re-sweep.
            out_side[g] = prev_side[g]
        else:
            out_side[g] = sweep(g)
    return {"columns": columns, "sidecars": out_side}


# Per consolidated SHARD caps: one shard carries at most this many
# generations' docs, and is cut early when its serialized body would
# exceed the byte cap (per-gen docs are O(files-per-generation), so a
# gen count alone could still build a monolithic file on a wide
# table). Size-capped shards keep every consolidation pass — and
# every driver read — bounded: a single consolidated JSON would be an
# O(live files) driver read-parse-rewrite at 10^5-10^6 files, the
# exact monolithic-metadata shape the manifest/sidecar splits exist
# to kill.
_CONSOLIDATE_SHARD_GENS = 4096
_CONSOLIDATE_SHARD_BYTES = 8 << 20

# Shard filenames are self-describing: ``consolidated-f<N>-<uuid>``
# is a FULL (sealed) shard written with N generations — never
# rewritten while at least half of them stay live — while
# ``consolidated-t<N>-<uuid>`` is the TAIL shard that keeps absorbing
# the loose per-gen files until it seals. Sealed-ness must be
# decidable from the manifest's sidecar map ALONE (no reads), so the
# writer stamps it into the name. A name without the stamp is never
# sealed: it refolds as a tail.
_SHARD_NAME_RE = re.compile(
    r"consolidated-([ft])(\d+)-[0-9a-f]+\.json$"
)


def _shard_is_sealed(rel: str, live_count: int) -> bool:
    """A shard stays untouched while it still earns its keep: a FULL
    shard whose live generations dropped below half its written count
    (mass deletes/rewrites) gets compacted with the tail instead of
    bloating every future bulk read with dead docs."""
    m = _SHARD_NAME_RE.search(rel)
    if m is None or m.group(1) != "f":
        return False
    return live_count >= max(1, int(m.group(2)) // 2)


def _write_consolidated_shard(
    spark: SparkSession,
    table_dir: str,
    gens_doc: dict[str, dict],
    full: bool,
    ser: dict[str, str] | None = None,
) -> str:
    """Write one immutable consolidated shard and prime the cache;
    returns its table-relative path. Same crash contract as per-gen
    sidecars: unique name, referenced only by a later manifest commit,
    so a mid-write death leaves an orphan for vacuum. ``ser`` carries
    per-gen docs already serialized by the binpack's size pass — the
    body is assembled from those strings instead of re-dumping every
    doc (the docs dominate consolidation CPU at scale)."""
    kind = "f" if full else "t"
    rel = (
        f"{_STATS_SIDE_DIR}/consolidated-{kind}{len(gens_doc)}-"
        f"{uuid.uuid4().hex}.json"
    )
    if ser is not None:
        body = (
            '{"gens": {'
            + ", ".join(
                f"{json.dumps(g)}: {ser[g]}" for g in sorted(gens_doc)
            )
            + "}}"
        )
    else:
        body = json.dumps({"gens": gens_doc}, sort_keys=True)
    _put_sidecar(spark, table_dir, rel, body, {"gens": gens_doc})
    return rel


def _consolidated_stats_block(
    spark: SparkSession,
    table_dir: str,
    stats: dict,
    live_gens: set[str],
    max_sidecars: int,
    shard_gens: int | None = None,
    shard_bytes: int | None = None,
) -> tuple[dict, int]:
    """(new stats block, merged file count): fold the live
    generations' loose per-generation sidecar FILES — plus the
    current tail shard and any full shard gone mostly-dead — into
    size-capped consolidated shards when more than ``max_sidecars``
    refoldable files are referenced, else return the block unchanged
    with 0. INCREMENTAL by construction:
    sealed full shards are carried by reference, so a repeat pass
    rewrites only the tail — each generation is re-copied O(shard
    cap / threshold) times over its whole life, never O(passes).
    Docs are copied RAW (names_at stamps preserved) so rename replay
    semantics are untouched; refolded files become unreferenced once
    the new manifest commits and fall to vacuum."""
    if shard_gens is None:
        shard_gens = _CONSOLIDATE_SHARD_GENS
    if shard_bytes is None:
        shard_bytes = _CONSOLIDATE_SHARD_BYTES
    side = (stats or {}).get("sidecars") or {}
    covered = [g for g in sorted(live_gens) if g in side]
    by_rel: dict[str, list[str]] = {}
    for g in covered:
        by_rel.setdefault(side[g], []).append(g)
    refold_rels = [
        rel
        for rel, gens_in in by_rel.items()
        if not _shard_is_sealed(rel, len(gens_in))
    ]
    if len(refold_rels) <= max_sidecars:
        return stats, 0
    refold_set = set(refold_rels)
    refold_gens = sorted(
        g for rel in refold_rels for g in by_rel[rel]
    )
    pre = _prefetch_sidecars(spark, table_dir, stats, refold_gens)
    gens_doc: dict[str, dict] = {}
    for g in refold_gens:
        doc = pre.get(g)
        if doc is None:
            raw = _read_sidecar(spark, table_dir, side[g])
            doc = raw["gens"].get(g) if "gens" in raw else raw
        if doc is None:
            # Torn reference: leave the block alone — analyze_table's
            # backfill is the repair path, not consolidation.
            return stats, 0
        gens_doc[g] = doc
    new_side = dict(side)
    # Greedy binpack over the sorted refold set: cut a FULL shard at
    # the gen cap or the byte cap; the remainder becomes the tail.
    # Docs serialize ONCE — the size pass's strings are reused as the
    # shard body fragments.
    ser = {
        g: json.dumps(doc, sort_keys=True)
        for g, doc in gens_doc.items()
    }
    chunk: list[str] = []
    chunk_bytes = 0
    for g in refold_gens:
        sz = len(ser[g])
        if chunk and (
            len(chunk) >= shard_gens
            or chunk_bytes + sz > shard_bytes
        ):
            rel = _write_consolidated_shard(
                spark,
                table_dir,
                {c: gens_doc[c] for c in chunk},
                full=True,
                ser=ser,
            )
            for c in chunk:
                new_side[c] = rel
            chunk, chunk_bytes = [], 0
        chunk.append(g)
        chunk_bytes += sz
    if chunk:
        rel = _write_consolidated_shard(
            spark,
            table_dir,
            {c: gens_doc[c] for c in chunk},
            full=len(chunk) >= shard_gens,
            ser=ser,
        )
        for c in chunk:
            new_side[c] = rel
    # A gen in a refolded shard that is no longer LIVE must not keep
    # pointing at the dropped file: remap it to the shard that now
    # carries its generation's nearest surviving reference — simplest
    # correct move is to drop dead-gen references to refolded rels
    # (readers only ever resolve LIVE generations).
    for g, rel in list(new_side.items()):
        if rel in refold_set and g not in gens_doc:
            del new_side[g]
    out = dict(stats)
    out["sidecars"] = new_side
    return out, len(refold_rels)
