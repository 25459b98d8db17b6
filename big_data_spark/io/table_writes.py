"""The snapshot table's writers and maintenance commits: full writes,
appends (plain and retry-and-rebase), partial per-partition writes,
partition-spec rewrites, write-audit-publish staging, rollback, and
vacuum. Every commit goes through ``manifest.successor`` — each writer
names only the manifest keys its commit changes."""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession

from big_data_spark.io.layout import (
    _CDF_DIR,
    _DATA_DIR,
    _DELETES_DIR,
    _STATS_SIDE_DIR,
    _read_json,
    _write_text,
    data_files,
    hadoop_fs,
)
from big_data_spark.io.manifest import (
    SnapshotConflict,
    _claim_check,
    _manifest_path,
    _read_manifests,
    _schema_fields,
    _unescape_path_py,
    commit_manifest,
    latest_manifest,
    partition_cols,
    partition_entry_key,
    read_manifest,
    snapshot_ids,
    spec_cols,
    successor,
)
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.io.tags import list_tags


def _walk_partition_leaves(
    spark: SparkSession, root_dir: str, pcols: list[str]
) -> dict[str, str]:
    """Map canonical entry key -> hive-escaped rel suffix
    (``c1=e1/c2=e2``) for every partition LEAF dir written under
    ``root_dir`` — the one reconciler of disk layout to manifest
    entries, shared by write_snapshot_partial and publish_staged.
    Driver-side metadata listing only (O(#partitions) statuses, the
    same budget as the manifest itself). Raises on a
    ``__HIVE_DEFAULT_PARTITION__`` dir at any level: null keys cannot
    round-trip through the manifest keys."""
    fs, rp = hadoop_fs(spark, root_dir)
    if not fs.exists(rp):
        return {}
    unesc = _unescape_path_py
    out: dict[str, str] = {}

    def rec(path, level: int, suffix: list[str], raw: list[str]) -> None:
        if level == len(pcols):
            joined = "/".join(suffix)
            key = raw[0] if len(pcols) == 1 else joined
            out[key] = joined
            return
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if not st.isDirectory() or not name.startswith(
                f"{pcols[level]}="
            ):
                continue
            escaped = name.split("=", 1)[1]
            if escaped == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    "null partition keys are not supported (they "
                    "cannot round-trip through the manifest keys)"
                )
            rec(
                st.getPath(),
                level + 1,
                suffix + [name],
                raw + [unesc(escaped)],
            )

    rec(rp, 0, [], [])
    return out


def stage_snapshot(
    df: DataFrame,
    table_dir: str,
    partition_by: str | list[str] | None = None,
) -> str:
    """WRITE-AUDIT-PUBLISH step 1: write ``df`` to a private
    ``_staging/<token>`` dir — invisible to every reader (staging is
    unreferenced by manifests) and schema-checked against the table
    NOW so an incompatible batch fails before any audit work.
    Returns the token; ``read_staged`` audits it (dq_report /
    assert_suite / ad-hoc queries), then ``publish_staged`` makes it
    visible as one atomic commit or ``abandon_staged`` discards it.
    A crashed audit leaves only staging residue for vacuum's TTL.

    On a table whose manifest entries are keyed per partition
    (``partition_col`` set — the write_snapshot_partial family), the
    batch is automatically staged partitioned on that column (an
    explicit different ``partition_by`` is refused) so publish can
    reconcile manifest entries per touched partition — the dq-gated
    ingest path for partitioned fact tables."""
    spark = df.sparkSession
    prev = latest_manifest(spark, table_dir)
    pcols = None if prev is None else partition_cols(prev)
    by = spec_cols(partition_by)
    if pcols is not None:
        if by is None:
            by = pcols
        elif by != pcols:
            raise ValueError(
                f"stage_snapshot: table is partitioned on {pcols!r} "
                f"but the batch is staged on {by!r} — manifest "
                "entries reconcile per partition, so the layouts must "
                "agree."
            )
    elif by is not None and len(by) > 1:
        raise ValueError(
            "stage_snapshot: a multi-column staging layout is only "
            "supported on a table partitioned on those columns (an "
            "unpartitioned table's layout_by is one column)"
        )
    fields = _schema_fields(df)
    check_schema_evolution((prev or {}).get("schema"), fields)
    token = uuid.uuid4().hex
    staging = f"{table_dir}/_staging/{token}"
    _parquet_writer(df, by)(staging)
    # Record the writer's DECLARED schema beside the data: a read-back
    # of the staged dir re-INFERS hive partition column types (a
    # '2026-08-15' string key comes back as date), which would make
    # publish commit — or refuse on — a schema the writer never had.
    # Hidden file ('_' prefix): every parquet scan ignores it.
    fs, _sp = hadoop_fs(spark, staging)
    _, sidecar = hadoop_fs(spark, f"{staging}/_schema.json")
    _write_text(fs, sidecar, json.dumps(fields))
    if pcols is not None:
        # Null partition keys cannot round-trip through the manifest
        # keys (same contract as write_snapshot_partial) — refuse at
        # stage time, from the dir listing alone (metadata-only; the
        # walk raises on __HIVE_DEFAULT_PARTITION__ at ANY level).
        try:
            _walk_partition_leaves(spark, staging, pcols)
        except ValueError:
            fs, spath = hadoop_fs(spark, staging)
            fs.delete(spath, True)
            raise
    return token


def read_staged(
    spark: SparkSession, table_dir: str, token: str
) -> DataFrame:
    """The staged batch, for auditing BEFORE it becomes visible —
    pair with dq assert_suite / profile_table. Reads the raw staged
    files; the batch is by construction in the current schema
    (stage_snapshot checked it)."""
    staging = f"{table_dir}/_staging/{token}"
    fs, p = hadoop_fs(spark, staging)
    if not fs.exists(p):
        raise ValueError(
            f"no staged batch {token!r} under {table_dir!r} — "
            "published, abandoned, or vacuumed"
        )
    fields = _staged_fields(spark, table_dir, token)
    # Read with the writer's DECLARED schema as an EXPLICIT user
    # schema: partition dir strings then cast directly to the
    # declared type. Inferring first and casting back is lossy for
    # numeric-looking string keys — '00123' infers as 123 and casts
    # back to '123', so the audited frame would diverge from the raw
    # dir value publish_staged keys the manifest on.
    ddl = ", ".join(f"`{f['name']}` {f['type']}" for f in fields)
    return spark.read.schema(ddl).parquet(staging).select(
        *[f["name"] for f in fields]
    )


def _staged_fields(
    spark: SparkSession, table_dir: str, token: str
) -> list[dict]:
    """The declared-schema sidecar stage_snapshot writes beside the
    staged data before it returns the token. A read-back of the staged
    dir would re-infer hive partition column types (string date keys
    come back as DATE) — a schema the writer never had — so a batch
    without it is refused, never re-inferred."""
    path = f"{table_dir}/_staging/{token}/_schema.json"
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        raise ValueError(
            f"staged batch {token!r} under {table_dir!r} has no "
            "declared-schema file (_schema.json) — re-stage it"
        )
    return _read_json(spark, path)


def _refresh_claim_mtime(spark: SparkSession, fs, dest_path) -> None:
    """Stamp a just-claimed dir with the CLAIM time: rename preserves
    mtime, so a WAP batch staged longer ago than vacuum's
    ``staging_ttl_hours`` (arbitrarily heavy audits are blessed) would
    look like stale crash residue during its claim->commit window — a
    concurrent vacuum would delete the just-claimed data and the
    commit would publish a manifest pointing at vanished files.
    setTimes is metadata-only."""
    import time as _time

    try:
        fs.setTimes(dest_path, int(_time.time() * 1000), -1)
    except Exception:
        # A FS without setTimes support: _publish's post-commit
        # existence check still turns the (now wider) race into a loud
        # SnapshotConflict instead of silent corruption.
        pass


# The per-id dir each kind of part is claimed as: _data/s=<id>,
# _deletes/d=<id>, _cdf/c=<id>.
_PART_PREFIX = {_DATA_DIR: "s", _DELETES_DIR: "d", _CDF_DIR: "c"}


def _publish(
    spark: SparkSession,
    table_dir: str,
    parts: list[tuple],
    build,
    at: tuple | None = None,
    attempts: int = 1,
    replace: bool = False,
    fields: list[dict] | None = None,
    stats_columns: list[str] | None = None,
) -> int | None:
    """THE publish path of every commit that writes files (Delta's
    rule: new files under fresh names, then one atomic log commit;
    nothing is rewritten in place).

    ``parts`` lists ``(root, write)`` pairs, ``root`` one of
    ``_data`` / ``_deletes`` / ``_cdf``; ``write`` writes the part to
    the path it is given, or is the path of a batch already staged
    under ``_staging/`` (publish_staged's token, which stays the
    caller's on failure). Each part is written ONCE to a private
    ``_staging/<uuid>`` dir; a part with no data files is dropped.
    ``build(prev, sid, staged)`` gets the predecessor, the id and the
    non-empty staged dirs by root (partition-leaf walks read those),
    and returns ``(entries, changes)`` for ``successor`` — or None to
    publish nothing. Each part is then CLAIMED as ``<root>/<x>=<sid>``
    by one rename and the manifest commits.

    ``at=(prev, sid)`` fixes the id (rewrites, explicit-id writers):
    without ``replace`` a committed ``sid`` fails fast before any
    write. ``at=None`` rebases every attempt on the freshest manifest
    (the appenders). An occupied destination belongs to another
    writer or a crash in its claim->commit window and refuses the
    claim; a ``replace`` writer owns its id (deterministic replay)
    and swaps the occupant out after its own files are staged. A lost
    race (dir claim or manifest rename) moves the claimed parts back
    to staging and rebases while ``attempts`` remain — a retry costs
    a rename, never a data rewrite. Any failure removes everything
    this call staged or claimed. ``fields`` is the batch's declared
    schema, checked (additive evolution) and committed; None inherits
    the predecessor's. Returns the committed id (None when ``build``
    published nothing)."""
    import random as _random
    import time as _time

    fs, _ = hadoop_fs(spark, table_dir)
    prev, sid = at if at is not None else (None, None)
    if at is not None:
        if not replace:
            _claim_check(spark, table_dir, sid)
        if fields is not None:
            check_schema_evolution((prev or {}).get("schema"), fields)
    staged: dict[str, str] = {}
    own: list[str] = []
    claimed: list[tuple] = []  # (staging Path, claimed Path)

    def claim(root: str, staging: str) -> None:
        rel = f"{root}/{_PART_PREFIX[root]}={sid}"
        _, sp = hadoop_fs(spark, staging)
        _, dp = hadoop_fs(spark, f"{table_dir}/{rel}")
        fs.mkdirs(dp.getParent())  # rename needs the parent to exist
        occupied = fs.exists(dp)
        if occupied and replace:
            occupied = not fs.delete(dp, True)
        if occupied or not fs.rename(sp, dp):
            raise SnapshotConflict(
                f"{rel} under {table_dir!r} is held by another writer "
                "or a crash orphan — once no writer is running, "
                "reclaim it with vacuum_snapshots(..., "
                "staging_ttl_hours=0)"
            )
        claimed.append((sp, dp))
        _refresh_claim_mtime(spark, fs, dp)

    def unclaim() -> None:
        while claimed:
            sp, dp = claimed.pop()
            if not fs.rename(dp, sp):
                # Our uncommitted part must not sit under an id it
                # does not belong to.
                raise SnapshotConflict(
                    f"lost the commit race for snapshot {sid} AND the "
                    f"rename-back of {dp.toString()!r} failed — manual "
                    "cleanup required"
                )

    try:
        for root, write in parts:
            if isinstance(write, str):
                staged[root] = write
            else:
                staged[root] = f"{table_dir}/_staging/{uuid.uuid4().hex}"
                own.append(staged[root])
                write(staged[root])
        full = {
            root: path
            for root, path in staged.items()
            if _generation_has_data(spark, path)
        }
        last_err: Exception | None = None
        for attempt in range(attempts):
            if at is None:
                if attempt:
                    # Jittered backoff: a loser re-reading the manifest
                    # before the winner's commit lands recomputes the
                    # SAME id and would burn its attempts in a tight
                    # spin (the commit window includes the stats
                    # sweep).
                    _time.sleep(
                        min(0.05 * (2 ** (attempt - 1)), 1.0)
                        * (0.5 + _random.random())
                    )
                prev = latest_manifest(spark, table_dir)
                sid = (prev["snapshot_id"] + 1) if prev else 0
                if fields is not None:
                    check_schema_evolution(
                        (prev or {}).get("schema"), fields
                    )
            built = build(prev, sid, full)
            if built is None:
                full = {}
                break
            entries, changes = built
            if fields is not None:
                changes = {"schema": fields, **changes}
            try:
                for root, path in full.items():
                    claim(root, path)
                commit_manifest(
                    spark,
                    table_dir,
                    successor(prev, sid, entries, **changes),
                    prev_man=prev,
                    replace=replace,
                    stats_columns=stats_columns,
                )
            except SnapshotConflict as exc:
                last_err = exc
                unclaim()
                continue
            done, claimed[:] = list(claimed), []
            for _sp, dp in done:
                if not fs.exists(dp):
                    # Reclaimed between rename and commit (a vacuum
                    # that listed before the mtime stamp landed): the
                    # committed manifest points at vanished data.
                    raise SnapshotConflict(
                        f"{dp.toString()!r} vanished between claim and "
                        "commit — a concurrent vacuum reclaimed it; "
                        f"manifest {sid} points at missing data and "
                        "must be rolled back"
                    )
            break
        else:
            if attempts == 1:
                raise last_err
            raise SnapshotConflict(
                f"exhausted {attempts} attempts under {table_dir!r}: "
                f"{last_err}"
            )
    except BaseException:
        try:
            unclaim()
        finally:
            for path in own:
                _, p = hadoop_fs(spark, path)
                fs.delete(p, True)
        raise
    for root, path in staged.items():
        if root not in full:
            _, p = hadoop_fs(spark, path)
            fs.delete(p, True)
    return None if built is None else sid


def _parquet_writer(df: DataFrame, by: str | list[str] | None = None):
    """The ``write(to)`` of a part: ``df`` as Parquet under ``to``,
    hive-partitioned on ``by`` (one column or an ordered list)."""
    writer = df.write.mode("error")
    if by:
        writer = writer.partitionBy(*spec_cols(by))
    return writer.parquet


def _leaf_entries(
    spark: SparkSession, staged: str | None, pcols: list[str], sid: int
) -> dict[str, str]:
    """The per-partition manifest entries of a partitioned generation
    staged at ``staged`` once it is claimed as ``_data/s=<sid>`` — one
    per written partition leaf (an empty part has none). Written dir
    names are hive-ESCAPED; ``_walk_partition_leaves`` keys them the
    way the manifest does, so a caller's pop-canonical-key /
    insert-written-key reconcile stays consistent."""
    if staged is None:
        return {}
    return {
        key: posixpath.join(_DATA_DIR, f"s={sid}", suffix)
        for key, suffix in _walk_partition_leaves(
            spark, staged, pcols
        ).items()
    }


def publish_staged(
    spark: SparkSession,
    table_dir: str,
    token: str,
    mode: str = "append",
    attempts: int = 5,
) -> int:
    """WRITE-AUDIT-PUBLISH step 3: make the audited staged batch
    visible as ONE atomic commit — ``mode="append"`` keeps every
    prior entry (the ingest shape), ``mode="replace"`` publishes the
    batch as the table's full new content. Claim-and-rebase like
    append_with_retry: each attempt renames the staged dir to
    ``_data/s=<id>`` and commits a manifest rebased on the freshest
    predecessor; losing either race re-stages and retries — a retry
    costs a directory rename, never a data rewrite, and the audited
    BYTES are exactly the published bytes (never recomputed).

    On a PARTITIONED table (manifest entries keyed per partition —
    the write_snapshot_partial family) the staged batch's partitions
    publish through the partial-write reconcile as the same one
    atomic commit: ``mode="append"`` REPLACES exactly the touched
    partitions (the staged batch is by contract each touched
    partition's full new content — partial-write semantics, the
    dq-gated ingest shape for date-partitioned fact tables) and
    carries every untouched partition forward by reference;
    ``mode="replace"`` publishes the batch as the whole table. The
    hive subdirs travel with the one generation rename, so per-
    partition byte identity holds: the audited files ARE the
    published files."""
    if mode not in ("append", "replace"):
        raise ValueError(f"mode must be append|replace, got {mode!r}")
    staging = f"{table_dir}/_staging/{token}"
    fs, staging_path = hadoop_fs(spark, staging)
    if not fs.exists(staging_path):
        raise ValueError(
            f"no staged batch {token!r} under {table_dir!r} — "
            "published, abandoned, or vacuumed"
        )
    fields = _staged_fields(spark, table_dir, token)
    # The staged batch's own hive layout (stage_snapshot's
    # partition_by materializes as one level of col=val dirs). For an
    # unpartitioned table it commits as layout_by so maintenance
    # preserves it and DML hint-skipping knows the column lives in
    # dir names; for a partitioned table the col=val dirs BECOME the
    # per-partition manifest entries.
    layout: str | None = None
    layout_cols = set()
    for st in fs.listStatus(staging_path):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            layout_cols.add(name.split("=", 1)[0])
    if len(layout_cols) == 1:
        layout = next(iter(layout_cols))

    def build(prev, sid, staged):
        pcols = None if prev is None else partition_cols(prev)
        # A replace publishes a fresh table with nothing old to mask
        # or map; appends never touch existing rows, so prior masks
        # and the rename log stay valid (rows of replaced partitions
        # go inert with their generations).
        fresh = {} if mode == "append" else {"deletes": [], "rename_log": []}
        has_data = _DATA_DIR in staged
        if pcols is not None:
            # Partitioned table: per-partition entry reconcile, the
            # write_snapshot_partial contract behind one rename. The
            # leaf walk raises on __HIVE_DEFAULT_PARTITION__ at any
            # level (null keys cannot round-trip).
            written = _leaf_entries(
                spark, staged.get(_DATA_DIR), pcols, sid
            )
            if has_data and not written:
                raise ValueError(
                    f"staged batch is laid out on "
                    f"{sorted(layout_cols) or None!r} but the table "
                    f"is partitioned on {pcols!r} — re-stage through "
                    "stage_snapshot (it partitions on the table's "
                    "columns automatically)."
                )
            entries = (
                dict(prev["entries"]) if mode == "append" else {}
            )
            entries.update(written)
            return entries, fresh
        entries = (
            dict(prev["entries"]) if (prev and mode == "append") else {}
        )
        # An append's staged layout must match the table's (same rule
        # as append_snapshot); the bytes are already written, so a
        # mismatch cannot be repaired by inheriting the table's. An
        # empty batch has no layout to check and carries the table's;
        # a replace declares its own.
        if has_data:
            if mode == "append":
                _check_layout_compatible(prev, layout, "publish_staged")
            entries["" if mode == "replace" else f"b{sid}"] = (
                f"{_DATA_DIR}/s={sid}"
            )
        if has_data or mode == "replace":
            fresh["layout_by"] = layout
        return entries, fresh

    return _publish(
        spark, table_dir, [(_DATA_DIR, staging)], build,
        attempts=attempts, fields=fields,
    )


def abandon_staged(
    spark: SparkSession, table_dir: str, token: str
) -> None:
    """Discard a staged batch that failed its audit — explicit and
    immediate (vacuum's staging TTL is the crash backstop)."""
    fs, p = hadoop_fs(spark, f"{table_dir}/_staging/{token}")
    if not fs.exists(p):
        raise ValueError(
            f"no staged batch {token!r} under {table_dir!r}"
        )
    fs.delete(p, True)


def rollback_snapshot(
    spark: SparkSession, table_dir: str, to_id: int
) -> int:
    """Restore the table to version ``to_id`` AS A NEW COMMIT
    (Delta RESTORE / Iceberg rollback): the new manifest carries the
    old version's entries, schema, delete vectors and evolution log,
    so content, names and types all revert — while history stays
    intact (the undone commits remain time-travelable until vacuum).
    The change feed reports the rollback faithfully: rows the undone
    commits added show as deletes, rows they removed show as
    re-inserts. Fails loudly when ``to_id`` is expired (its manifest
    is gone) — tag versions you may need to restore. Metadata-only:
    zero data movement."""
    man = read_manifest(spark, table_dir, to_id)
    latest = latest_manifest(spark, table_dir)
    if latest["snapshot_id"] == to_id:
        return to_id  # already there — no empty commit
    next_id = latest["snapshot_id"] + 1
    _claim_check(spark, table_dir, next_id)
    # The new commit inherits its table state from the RESTORED
    # version, not the latest one.
    commit_manifest(
        spark,
        table_dir,
        successor(man, next_id, dict(man["entries"])),
        prev_man=latest,
        # The restored version's OWN stats cover exactly its
        # generations — carrying them keeps the rollback metadata-only
        # (auto would re-sweep generations the latest version dropped).
        stats=man["stats"],
    )
    return next_id


def check_schema_evolution(
    prev_fields: list[dict] | None, new_fields: list[dict]
) -> None:
    """Enforce the ADDITIVE evolution contract at commit time: every
    column of the predecessor snapshot must still exist with the same
    type; new columns may appear (older generations read them as
    NULL). Drops, renames and type changes raise — silently narrowing
    a 100 TB table's schema is how readers discover data loss months
    later; an explicit rewrite (write_snapshot of a transformed read)
    is the loud way to do those."""
    if not prev_fields:
        return
    new_by_name = {f["name"]: f["type"] for f in new_fields}
    missing = [f["name"] for f in prev_fields if f["name"] not in new_by_name]
    changed = [
        f"{f['name']}: {f['type']} -> {new_by_name[f['name']]}"
        for f in prev_fields
        if f["name"] in new_by_name and new_by_name[f["name"]] != f["type"]
    ]
    if missing or changed:
        raise ValueError(
            "snapshot schema evolution must be additive — "
            f"dropped: {missing}, type-changed: {changed}. "
            "Rewrite the table through a full write_snapshot of an "
            "explicitly transformed read to do this on purpose."
        )


def _generation_has_data(spark: SparkSession, gdir: str) -> bool:
    """True if any data file exists anywhere under the generation dir
    (``layout.data_files``' hidden-path rule) — a driver-side listing
    that stops at the first file."""
    return next(data_files(spark, gdir), None) is not None


def _check_layout_compatible(
    prev: dict | None, new_layout: str | None, origin: str
) -> None:
    """Refuse an APPEND whose hive layout differs from the layout of
    the table's data — including a plain append onto a laid-out table
    and a laid-out append onto a plain one. A single layout_by cannot
    represent a mixed-layout table: the per-generation read schema
    declares every layout column a dir-valued string, so a generation
    that stores it as a data column fails to read (and to compact),
    and silently replacing the declared column would un-skip DML
    range hints on the old one. A table with no data entries takes
    any layout. Full rewrites (write_snapshot / compact) re-declare
    the layout on purpose."""
    if prev is None or not prev["entries"]:
        return
    if new_layout != prev["layout_by"]:
        raise ValueError(
            f"{origin}: batch partitioned on {new_layout!r} but the "
            f"table's declared layout is {prev['layout_by']!r} — a "
            "mixed-layout append is unrepresentable; use the "
            "table's layout or re-layout with a full rewrite."
        )


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    snapshot_id: int | None = None,
    replace: bool = False,
    partition_by: str | None = None,
    maintenance: bool = False,
    stats_columns: list[str] | None = None,
) -> int:
    """Full-table publish: write ``df`` as a fresh data generation,
    then commit a manifest pointing only at it. Readers see the old
    table until the commit, the new one after — never a mix; a crash
    before the commit leaves the table untouched.

    ``snapshot_id`` defaults to latest+1 (0 for a new table). Pass an
    explicit id + ``replace=True`` only from deterministic replay
    loops (foreachBatch); without ``replace`` a committed or claimed
    id is refused with SnapshotConflict. ``partition_by``
    hive-partitions the generation layout (same contract as
    append_snapshot's).
    """
    spark = df.sparkSession
    if snapshot_id is None:
        ids = snapshot_ids(spark, table_dir)
        snapshot_id = (ids[-1] + 1) if ids else 0
    prev = latest_manifest(spark, table_dir, below=snapshot_id)

    def build(prev, sid, staged):
        # A full rewrite re-declares the whole table state: the new
        # generation is written in current names with nothing masked.
        entries = {"": f"{_DATA_DIR}/s={sid}"} if staged else {}
        return entries, {
            "partition_col": None,
            "layout_by": partition_by,
            "deletes": [],
            "rename_log": [],
            "maintenance": maintenance,
        }

    return _publish(
        spark, table_dir, [(_DATA_DIR, _parquet_writer(df, partition_by))],
        build, at=(prev, snapshot_id), replace=replace,
        fields=_schema_fields(df), stats_columns=stats_columns,
    )


def _append(
    df: DataFrame,
    table_dir: str,
    partition_by: str | None,
    origin: str,
    **publish,
) -> int:
    """The one append: ``df`` becomes a new whole-generation entry
    beside EVERY predecessor entry. append_snapshot fixes the id and
    commits once; append_with_retry lets each attempt take the next
    free id."""

    def build(prev, sid, staged):
        if prev is not None and partition_cols(prev) is not None:
            raise ValueError(
                f"{origin} on a table partitioned on "
                f"{partition_cols(prev)!r} — appends are whole-"
                "generation entries; use write_snapshot_partial (or "
                "stage_snapshot/publish_staged, which reconcile per "
                "partition) for partitioned tables."
            )
        _check_layout_compatible(prev, partition_by, origin)
        entries = dict(prev["entries"]) if prev else {}
        # An empty df under partitionBy writes NO part files (dynamic
        # partition dirs only materialize for existing rows); an entry
        # pointing at that dir would poison every later read with
        # UNABLE_TO_INFER_SCHEMA. The manifest commits anyway — the id
        # advances and replay converges — just without a new entry.
        if staged:
            entries[f"b{sid}"] = f"{_DATA_DIR}/s={sid}"
        # Appends never touch existing rows: delete vectors and the
        # rename log carry; the layout is the one the check allowed.
        return entries, {"layout_by": partition_by}

    return _publish(
        df.sparkSession,
        table_dir,
        [(_DATA_DIR, _parquet_writer(df, partition_by))],
        build,
        fields=_schema_fields(df),
        **publish,
    )


def append_snapshot(
    df: DataFrame,
    table_dir: str,
    snapshot_id: int | None = None,
    replace: bool = False,
    partition_by: str | None = None,
) -> int:
    """Append-only publish: write ``df`` as a fresh data generation
    and commit a manifest keeping EVERY predecessor entry plus the new
    generation — the incremental-index primitive (per-batch cost is
    O(batch), never a rewrite of prior generations; compaction
    (io/compact.py compact_snapshot) folds generations back together
    when the union fan-in grows).

    Same replay contract as write_snapshot_partial: pass the batch id
    as ``snapshot_id`` (+ ``replace=True``) from deterministic replay
    loops — the predecessor is the newest manifest STRICTLY BELOW the
    id, so recomputing a crashed batch converges; without ``replace``
    a committed or claimed id is refused with SnapshotConflict.
    Refuses a hive-partitioned predecessor (mixing per-partition
    entries with whole-generation appends would double-count touched
    partitions).

    ``partition_by`` lays each generation out hive-partitioned on one
    column WITHOUT changing the manifest contract (the entry still
    names the whole generation; the manifest's ``partition_col``
    stays None because entries are not keyed by partition): readers
    filtering on that column get partition pruning inside every
    generation — the band-index probe pattern
    (streaming/neardup_ingest.py).
    """
    spark = df.sparkSession
    if snapshot_id is None:
        ids = snapshot_ids(spark, table_dir)
        snapshot_id = (ids[-1] + 1) if ids else 0
    prev = latest_manifest(spark, table_dir, below=snapshot_id)
    return _append(
        df, table_dir, partition_by, "append_snapshot",
        at=(prev, snapshot_id), replace=replace,
    )


def append_with_retry(
    df: DataFrame,
    table_dir: str,
    partition_by: str | None = None,
    attempts: int = 5,
) -> int:
    """Multi-writer append: commit with RETRY-AND-REBASE instead of
    append_snapshot's first-committer-wins failure, so independent
    appenders all land without caller-side logic.

    The data is written ONCE to a private ``_staging/<uuid>`` dir (no
    contention), then each attempt claims the next id by atomically
    RENAMING the staged dir to ``_data/s=<id>`` — rename refuses an
    existing destination, so two writers can never interleave into
    one generation dir — and commits a manifest rebased on the
    freshest predecessor. Losing a race at either step (dir claim or
    manifest rename) rebases and retries with the data untouched: a
    retry costs a directory rename, never a data rewrite. A refused
    or exhausted append deletes its staged dir before raising; a
    crashed writer's staged dir is invisible to readers and falls to
    ``vacuum_snapshots`` (staging is unreferenced by manifests).
    """
    return _append(
        df, table_dir, partition_by, "append_with_retry",
        attempts=attempts,
    )


def write_snapshot_partial(
    df: DataFrame,
    table_dir: str,
    snapshot_id: int,
    partition_col: str | list[str],
    touched_keys: list,
    replace: bool = False,
    maintenance: bool = False,
    deletes: list[str] | None = None,
    rename_log: list | None = None,
    stats_columns: list[str] | None = None,
) -> None:
    """Partial publish for a partitioned table: ``df`` holds the NEW
    full contents of exactly the ``touched_keys`` partitions (its
    ``partition_col`` values must be a subset of them). Untouched
    partitions carry forward from the predecessor manifest by
    reference — no data movement. A touched partition that ends up
    with no rows simply drops out of the manifest: atomically-visible
    partition deletion, no stale files, no empty-dir sentinel.

    ``partition_col`` may be an ordered LIST of columns: the table
    then partitions hive-style on every column — (date, region) fact
    layouts — with one manifest entry per leaf combination, keyed by
    the escaped ``c1=v1/c2=v2`` suffix (:func:`partition_entry_key`).
    ``touched_keys`` elements are then ordered value tuples (or
    canonical key strings, the form DML hands back from the entry
    map); single-column tables keep scalar keys and raw-value entries.

    ``deletes`` / ``rename_log`` left as None carry the predecessor's
    delete vectors and evolution log (the ``successor`` rule), so a
    caller that doesn't manage them (the CDC mirrors, any ad-hoc
    partial write) can never silently RESURRECT merge-on-read-deleted
    rows of carried partitions or strip the schema-evolution replay.
    Touched partitions' vector rows go inert with their replaced
    generations. Pass ``[]`` to clear — only correct when the written
    content already materialized the masks and current names
    (fold_deletes, compaction).

    The replay contract mirrors foreachBatch: the predecessor is the
    newest manifest STRICTLY BELOW ``snapshot_id``, so recomputing a
    crashed (or, with ``replace=True``, an already-committed) snapshot
    id from the same inputs converges to the same table.
    """
    spark = df.sparkSession
    pcols = spec_cols(partition_col)
    prev = latest_manifest(spark, table_dir, below=snapshot_id)
    # Layout-compatibility gate: carrying forward a predecessor that
    # is unpartitioned (a "" whole-table entry from
    # write_snapshot/merge_snapshot) or partitioned on DIFFERENT
    # columns would leave the old generation live alongside the new
    # per-partition entries — readers would silently see duplicate /
    # stale rows for every touched partition. Force the explicit
    # full rewrite instead.
    if prev is not None:
        prev_cols = partition_cols(prev)
        if "" in prev["entries"] or prev_cols != pcols:
            raise ValueError(
                "write_snapshot_partial on a table whose current "
                f"snapshot is {'unpartitioned' if '' in prev['entries'] else f'partitioned on {prev_cols!r}'} "
                f"(requested partition_col={partition_col!r}) — a "
                "partial write cannot atomically re-layout; publish a "
                "full write_snapshot of the re-partitioned table first."
            )
    # Canonicalize touched keys up front (scalars / value tuples /
    # canonical strings): raises on nulls and wrong arity before any
    # data is written.
    canon_keys = [
        partition_entry_key(spark, pcols, k) for k in touched_keys
    ]
    named = {
        k: v
        for k, v in (("deletes", deletes), ("rename_log", rename_log))
        if v is not None
    }

    def build(prev, sid, staged):
        entries = dict(prev["entries"]) if prev else {}
        for key in canon_keys:
            entries.pop(key, None)
        # The leaf walk raises on null partition values in df (a
        # caller bug — the touched_keys contract).
        entries.update(
            _leaf_entries(spark, staged.get(_DATA_DIR), pcols, sid)
        )
        return entries, {
            "partition_col": partition_col,
            "maintenance": maintenance,
            **named,
        }

    _publish(
        spark,
        table_dir,
        [(_DATA_DIR, _parquet_writer(df, pcols))],
        build,
        at=(prev, snapshot_id),
        replace=replace,
        fields=_schema_fields(df),
        stats_columns=stats_columns,
    )


def repartition_table(
    spark: SparkSession,
    table_dir: str,
    partition_by: str | list[str] | None,
) -> dict:
    """Partition-SPEC evolution as ONE explicit, atomic maintenance
    rewrite (chosen over Iceberg's metadata-forward per-generation
    specs): read the current
    snapshot, rewrite it hive-partitioned on the NEW column list (or
    unpartitioned for None), and publish with a single manifest
    rename carrying the new ``partition_col``.

    Why the rewrite, not metadata-forward: manifests here key ENTRIES
    by partition value, and partial replaces / WAP / DML reconcile
    against those keys — generations keyed under two specs at once
    would make "replace partition (ds=1, region=eu)" ambiguous
    against an old ds=1 entry that spans every region. Iceberg avoids
    the rewrite via field-id partition specs per manifest file, at
    the cost of per-spec split planning and residual-filter
    complexity on every read. This engine already carries the spec
    PER MANIFEST, so history is naturally preserved: time travel to
    pre-change versions reads (and prunes) under their own old spec,
    with zero read-side reconciliation code. The rewrite cost is
    explicit, one-shot, and O(table) — the same bill Iceberg defers
    to its slow path; a 100 TB table pays it as one partitioned
    distributed write.

    Contract: content is UNCHANGED (the change feed skips the commit
    — maintenance=True); merge-on-read delete vectors are
    materialized into the rewrite and cleared; the evolution log is
    cleared (files are written in current names); stats re-derive for
    the new layout (recorded columns minus the new partition
    columns). Concurrent commits during the rewrite lose nothing:
    the id is derived from the manifest read BEFORE the rewrite, so
    a racing writer makes this raise SnapshotConflict — retry.
    Returns {snapshot_id, partition_col, n_entries}."""
    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    new_pcols = spec_cols(partition_by)
    cur_pcols = partition_cols(man)
    if new_pcols == cur_pcols and not (
        new_pcols is None and man["layout_by"]
    ):
        raise ValueError(
            f"repartition_table: table is already partitioned on "
            f"{cur_pcols!r} — nothing to change"
        )
    next_id = man["snapshot_id"] + 1
    prev_stats = man["stats"]
    if prev_stats:
        # Keep an EMPTY filtered list as [] (meaning: record no
        # stats), never collapse it to None: None means "derive
        # defaults", and _auto_commit_stats would fall back to
        # prev_stats['columns'] — re-recording stats for the very
        # partition columns this filter excludes (footerless in the
        # hive-partitioned data files).
        stats_columns = [
            c
            for c in prev_stats["columns"]
            if c not in set(new_pcols or [])
        ]
    else:
        stats_columns = None
    # The new spec replaces the old partitioning AND layout; the
    # rewrite materializes delete vectors and current names.
    respec = {
        "partition_col": partition_by,
        "layout_by": None,
        "deletes": [],
        "rename_log": [],
        "maintenance": True,
    }
    if not man["entries"]:
        # Fully-emptied table: the spec change is pure metadata.
        commit_manifest(
            spark,
            table_dir,
            successor(man, next_id, {}, **respec),
            prev_man=man,
            stats_columns=stats_columns,
        )
        return {
            "snapshot_id": next_id,
            "partition_col": new_pcols,
            "n_entries": 0,
        }
    df = read_snapshot(spark, table_dir, as_of=man["snapshot_id"])
    if new_pcols:
        missing = [c for c in new_pcols if c not in df.columns]
        if missing:
            raise ValueError(
                f"repartition_table: partition column(s) {missing} "
                f"not in the table's columns {df.columns}"
            )
    n_entries = []

    def build(prev, sid, staged):
        if new_pcols:
            # NULL partition values: the leaf walk refuses loudly.
            entries = _leaf_entries(
                spark, staged.get(_DATA_DIR), new_pcols, sid
            )
        else:
            entries = {"": f"{_DATA_DIR}/s={sid}"} if staged else {}
        n_entries.append(len(entries))
        return entries, respec

    _publish(
        spark,
        table_dir,
        [(_DATA_DIR, _parquet_writer(df, new_pcols))],
        build,
        at=(man, next_id),
        fields=_schema_fields(df),
        stats_columns=stats_columns,
    )
    return {
        "snapshot_id": next_id,
        "partition_col": new_pcols,
        "n_entries": n_entries[-1],
    }


def vacuum_snapshots(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 2,
    staging_ttl_hours: float = 24.0,
    retain_hours: float | None = None,
) -> dict:
    """Expire all but the newest ``keep_last`` manifests and delete
    data generations no kept manifest references. ``keep_last >= 2``
    so a replayed batch can still read its predecessor; larger values
    keep time travel. ``retain_hours`` (Delta's retention spelling)
    ADDITIONALLY keeps every version committed inside the trailing
    window — commit-count and wall-clock retention compose, a version
    expires only when it fails BOTH. ``_staging`` dirs (every writer
    stages there first) older than ``staging_ttl_hours`` are crash
    residue and reclaimed; the TTL, and for a still-running write job
    its ``_temporary`` dir, protect live writers mid-stage."""
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2 (replay reads n-1)")
    ids = snapshot_ids(spark, table_dir)
    # Tagged snapshots are PINNED: their manifests stay readable and
    # their generations/vectors stay live past the keep_last window —
    # delete_tag releases them to the next vacuum.
    tagged = set(list_tags(spark, table_dir).values())
    expired = [i for i in ids[:-keep_last] if i not in tagged]
    retained_mans: dict[int, dict] = {}
    if retain_hours is not None and expired:
        import time as _rt

        horizon_ms = (_rt.time() - retain_hours * 3600) * 1000
        cand = _read_manifests(spark, table_dir, expired)
        # Keep the rescued manifests in hand — the _mark_live pass
        # below would otherwise re-read every one of them from
        # storage (the exact many-recent-versions case retain_hours
        # exists for).
        retained_mans = {
            sid: man
            for sid, man in cand.items()
            if int(man["committed_at_ms"]) >= horizon_ms
        }
        expired = [i for i in expired if i not in retained_mans]
    kept = [i for i in ids if i not in set(expired)]
    newest = ids[-1] if ids else -1
    live_gens = set()
    live_deletes = set()
    live_cdf = set()
    live_sidecars = set()
    def _mark_live(man: dict) -> None:
        for rel in man["entries"].values():
            live_gens.add(rel.split("/")[1])
        for rel in man["deletes"]:
            live_deletes.add(rel.split("/")[1])
        if man["cdf"]:
            live_cdf.add(man["cdf"].split("/")[1])
        for rel in (
            (man["stats"] or {}).get("sidecars") or {}
        ).values():
            live_sidecars.add(rel.rsplit("/", 1)[-1])

    for man in {
        **_read_manifests(
            spark,
            table_dir,
            [i for i in kept if i not in retained_mans],
        ),
        **retained_mans,
    }.values():
        _mark_live(man)
    # Close the pin-vs-vacuum race from THIS side: re-read the tags
    # AFTER computing the kill list —
    # a pin that landed since the first read pulls its id back into
    # the kept set before anything is deleted. tag_snapshot's own
    # post-pin manifest check covers the opposite interleaving, so
    # the only remaining window is a pin landing between this line
    # and the manifest delete below — the same check-vs-delete
    # instant _claim_check accepts.
    late_pins = set(list_tags(spark, table_dir).values()) - tagged
    if late_pins:
        rescued = [i for i in expired if i in late_pins]
        expired = [i for i in expired if i not in late_pins]
        for sid in rescued:
            kept.append(sid)
            _mark_live(read_manifest(spark, table_dir, sid))
    fs, _ = hadoop_fs(spark, table_dir)
    for sid in expired:
        _, mp = hadoop_fs(spark, _manifest_path(table_dir, sid))
        fs.delete(mp, False)
    import time as _time

    stale_cutoff = (_time.time() - staging_ttl_hours * 3600) * 1000

    def _sweep(sub: str, live: set) -> list[str]:
        """Delete the ``<id>``-suffixed dirs under ``sub`` (data
        generations, delete vectors, CDF sidecars) no kept manifest
        references. In-flight-writer guard: an id ABOVE the newest
        committed manifest belongs to a writer in its claim -> commit
        window (every writer stages first, so nothing is written
        under ``sub`` until its one-rename claim); deleting it would
        make that writer commit a manifest pointing at vanished data.
        Such dirs are left alone — UNLESS older than the staging TTL:
        a live claimant's claim->commit window is seconds, so a stale
        above-newest dir is a crashed claimant whose id would
        otherwise block every future committer forever (next_id keeps
        resolving to it)."""
        removed = []
        fs_, path = hadoop_fs(spark, f"{table_dir}/{sub}")
        if not fs_.exists(path):
            return removed
        for st in fs_.listStatus(path):
            name = st.getPath().getName()
            if not st.isDirectory() or name in live:
                continue
            try:
                dir_id = int(name.split("=", 1)[1])
            except (IndexError, ValueError):
                dir_id = None
            if (
                dir_id is not None
                and dir_id > newest
                and st.getModificationTime() >= stale_cutoff
            ):
                continue
            fs_.delete(st.getPath(), True)
            removed.append(name)
        return removed

    removed = _sweep(_DATA_DIR, live_gens)
    removed_dv = _sweep(_DELETES_DIR, live_deletes)
    removed_cdf = _sweep(_CDF_DIR, live_cdf)
    removed_sidecars = []
    stdir = f"{table_dir}/{_STATS_SIDE_DIR}"
    fs, stpath = hadoop_fs(spark, stdir)
    if fs.exists(stpath):
        for st in fs.listStatus(stpath):
            name = st.getPath().getName()
            if st.isDirectory() or name in live_sidecars:
                continue
            # A sidecar is written BEFORE the manifest that references
            # it — a fresh unreferenced file may belong to a committer
            # mid claim->commit window. The staging TTL that protects
            # in-flight generations protects these too; older
            # unreferenced ones are crash/retry orphans.
            if st.getModificationTime() >= stale_cutoff:
                continue
            fs.delete(st.getPath(), False)
            removed_sidecars.append(name)
    removed_staging = []
    sdir = f"{table_dir}/_staging"
    fs, spath = hadoop_fs(spark, sdir)
    if fs.exists(spath):
        for st in fs.listStatus(spath):
            if not st.isDirectory() or (
                st.getModificationTime() >= stale_cutoff
            ):
                continue
            # A staged write whose df.write job is still running keeps
            # Spark's _temporary work area inside for the job's whole
            # duration — which can exceed any TTL. Never reclaim such
            # a dir regardless of age; the TTL applies only to
            # COMPLETE staged dirs (an abandoned audit, a crashed
            # writer).
            _, tmp = hadoop_fs(
                spark, f"{st.getPath().toString()}/_temporary"
            )
            if fs.exists(tmp):
                continue
            fs.delete(st.getPath(), True)
            removed_staging.append(st.getPath().getName())
    return {
        "expired_manifests": expired,
        "removed_generations": removed,
        "removed_delete_vectors": removed_dv,
        "removed_cdf": removed_cdf,
        "removed_stat_sidecars": removed_sidecars,
        "removed_staging": removed_staging,
    }
