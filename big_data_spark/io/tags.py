"""Named version pins (Iceberg-style tags) under ``_tags/``: a pinned
snapshot stays readable through ``read_snapshot(tag=)`` and is kept
alive by ``vacuum_snapshots`` past its ``keep_last`` window."""

from __future__ import annotations

import json
import uuid

from pyspark.sql import SparkSession

from big_data_spark.io.compact import hadoop_fs
from big_data_spark.io.layout import _TAGS_DIR, _read_json, _write_text
from big_data_spark.io.manifest import (
    SnapshotConflict,
    _manifest_path,
    snapshot_ids,
)


def _atomic_overwrite_local(
    spark: SparkSession, fs, parent_dir: str, tmp_path, final_path, tag: str
) -> bool:
    """Replace ``final_path`` with ``tmp_path`` in ONE atomic
    same-directory rename on a local (file://) filesystem — java.nio
    ``ATOMIC_MOVE|REPLACE_EXISTING``, the overwrite-rename Hadoop's
    ``FileSystem.rename`` lacks. Checksum sidecars need care: the
    local FS is a ChecksumFileSystem, so a stale ``.{name}.crc``
    beside the swapped-in data would fail readers' verification.
    The crcs are DELETED, never moved: a delete-crc / move-data /
    move-crc sequence lets two concurrent movers pair one mover's
    data with the OTHER's crc (ChecksumException on every later
    read); with both sidecars removed the moved pin simply reads
    unverified — the safe state a missing crc means — and
    last-data-move-wins holds for any interleaving."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway

    def _nio_move(src: str, dst: str) -> None:
        opts = gw.new_array(jvm.java.nio.file.CopyOption, 2)
        opts[0] = jvm.java.nio.file.StandardCopyOption.REPLACE_EXISTING
        opts[1] = jvm.java.nio.file.StandardCopyOption.ATOMIC_MOVE
        jvm.java.nio.file.Files.move(
            jvm.java.io.File(src).toPath(),
            jvm.java.io.File(dst).toPath(),
            opts,
        )

    tmp_name = tmp_path.getName()
    dst_crc = f"{parent_dir}/.{tag}.json.crc"
    _, dst_crc_p = hadoop_fs(spark, dst_crc)
    if fs.exists(dst_crc_p):
        fs.delete(dst_crc_p, False)
    try:
        _nio_move(tmp_path.toUri().getPath(), final_path.toUri().getPath())
    except Exception:
        # A failed move (permissions, FS without real atomic replace)
        # must not strand the temp pin + its crc sidecar in _tags/ —
        # nothing vacuums there. The existing pin is untouched by a
        # failed ATOMIC_MOVE, so cleanup is safe.
        if fs.exists(tmp_path):
            fs.delete(tmp_path, False)
        raise
    src_crc = f"{parent_dir}/.{tmp_name}.crc"
    _, src_crc_p = hadoop_fs(spark, src_crc)
    if fs.exists(src_crc_p):
        fs.delete(src_crc_p, False)
    return True


def tag_snapshot(
    spark: SparkSession,
    table_dir: str,
    tag: str,
    snapshot_id: int | None = None,
    replace: bool = False,
) -> int:
    """Pin a NAME to a snapshot id (Iceberg-style tag): readers can
    `read_snapshot(tag=...)` it, and ``vacuum_snapshots`` keeps a
    tagged version's manifest + data alive past the keep_last window
    — the retention handle for audits, eval-set freezes, and
    release baselines ("train v3 read exactly THIS"). Defaults to
    the newest snapshot. Write-temp-then-rename under ``_tags/``:
    first writer wins unless ``replace=True`` (moving a tag is an
    explicit act). Returns the pinned id."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", tag):
        raise ValueError(
            f"tag {tag!r} must be 1-64 chars of [A-Za-z0-9._-] "
            "starting alphanumeric"
        )
    ids = snapshot_ids(spark, table_dir)
    if not ids:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    sid = ids[-1] if snapshot_id is None else snapshot_id
    if sid not in ids:
        raise ValueError(
            f"snapshot {sid} not found under {table_dir!r} "
            f"(committed: {ids})"
        )
    tdir = f"{table_dir}/{_TAGS_DIR}"
    fs, tpath = hadoop_fs(spark, tdir)
    fs.mkdirs(tpath)
    tmp = f"{tdir}/.tmp-{uuid.uuid4().hex}"
    _, tmp_path = hadoop_fs(spark, tmp)
    pin = json.dumps({"tag": tag, "snapshot_id": sid}, sort_keys=True)
    _write_text(fs, tmp_path, pin)
    _, final = hadoop_fs(spark, f"{tdir}/{tag}.json")
    # replace=True on a LOCAL filesystem moves the pin with ONE atomic
    # overwrite-rename (java.nio ATOMIC_MOVE): no transient not-found
    # window for readers, and a crash can never release the pin —
    # either the old pin or the new one exists at every instant. Two
    # concurrent movers are last-completed-wins, both succeed.
    if (
        replace
        and fs.exists(final)
        and (fs.getUri().getScheme() or "file") == "file"
    ):
        renamed = _atomic_overwrite_local(
            spark, fs, tdir, tmp_path, final, tag
        )
    else:
        # Non-local FS without an overwrite-rename primitive keeps the
        # documented delete-then-rename fallback: readers can hit a
        # transient not-found between the two ops, and a crash between
        # them RELEASES the pin (the next vacuum may expire the
        # formerly pinned version's data) — re-tag after recovering.
        # Two concurrent replace=True movers are last-completed-wins:
        # the loser's rename fails because the winner's file landed
        # after our delete, so retry ONCE after re-deleting (round-10
        # advice: without the retry the loser got the misleading
        # first-writer-conflict error).
        if replace and fs.exists(final):
            fs.delete(final, False)
        renamed = fs.rename(tmp_path, final)
        if not renamed and replace:
            if fs.exists(final):
                fs.delete(final, False)
            renamed = fs.rename(tmp_path, final)
    if not renamed:
        fs.delete(tmp_path, False)
        raise SnapshotConflict(
            f"tag {tag!r} already exists under {table_dir!r} — "
            "pass replace=True to move it"
        )
    # Pin-vs-vacuum race check: a vacuum running between the id
    # validation above and the rename landing may have expired the
    # target (the tag wasn't visible to its list_tags yet). Verify
    # the pinned manifest still exists AFTER the pin is visible.
    # vacuum_snapshots re-reads the tags AFTER computing its kill
    # list and rescues late pins, so the two checks overlap: the only
    # losing interleaving left is a pin landing in the instant
    # between vacuum's re-read and its manifest delete AND the vacuum
    # deleting in the instant after this check passes — two
    # check-vs-delete instants that would both have to line up.
    _, mp = hadoop_fs(spark, _manifest_path(table_dir, sid))
    if not fs.exists(mp):
        fs.delete(final, False)
        raise SnapshotConflict(
            f"snapshot {sid} was vacuumed while tagging {tag!r} — "
            "re-tag from a currently kept version"
        )
    return sid


def delete_tag(spark: SparkSession, table_dir: str, tag: str) -> None:
    fs, p = hadoop_fs(spark, f"{table_dir}/{_TAGS_DIR}/{tag}.json")
    if not fs.exists(p):
        raise ValueError(f"tag {tag!r} not found under {table_dir!r}")
    fs.delete(p, False)


def list_tags(spark: SparkSession, table_dir: str) -> dict[str, int]:
    """tag -> pinned snapshot id (directory listing, no data reads)."""
    fs, p = hadoop_fs(spark, f"{table_dir}/{_TAGS_DIR}")
    if not fs.exists(p):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not name.endswith(".json") or name.startswith("."):
            continue
        body = _read_json(spark, st.getPath().toString())
        out[body["tag"]] = int(body["snapshot_id"])
    return out
