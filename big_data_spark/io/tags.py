"""Named version pins (Iceberg-style tags) under ``_tags/``: a pinned
snapshot stays readable through ``read_snapshot(tag=)`` and is kept
alive by ``vacuum_snapshots`` past its ``keep_last`` window."""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from big_data_spark.io.layout import (
    _TAGS_DIR,
    _read_json,
    hadoop_fs,
    publish_doc,
)
from big_data_spark.io.manifest import (
    SnapshotConflict,
    _manifest_path,
    snapshot_ids,
)


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
    # publish_doc's rules: replace=True moves the pin with ONE atomic
    # overwrite-rename on the local FS (a crash never releases it);
    # elsewhere delete-then-rename, where a crash between the two
    # RELEASES the pin (the next vacuum may expire the formerly pinned
    # version's data) — re-tag after recovering. Concurrent movers are
    # last-completed-wins and both succeed.
    final = f"{table_dir}/{_TAGS_DIR}/{tag}.json"
    pin = json.dumps({"tag": tag, "snapshot_id": sid}, sort_keys=True)
    if not publish_doc(spark, final, pin, replace=replace):
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
    fs, mp = hadoop_fs(spark, _manifest_path(table_dir, sid))
    if not fs.exists(mp):
        _, pin_path = hadoop_fs(spark, final)
        fs.delete(pin_path, False)
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
