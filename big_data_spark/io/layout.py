"""The snapshot table directory's on-disk layout: the fixed subdir
names (``_manifests``, ``_data``, ``_deletes``, ``_cdf``, ``_tags``,
``_manifests/stats``), the ``_data/s=<id>`` generation path helpers,
and the one small-JSON metadata reader every table-format module
shares (local files in-process, everything else off the Hadoop FS).
Knows paths, not the manifest's contents."""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.compact import hadoop_fs

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "_data"
_DELETES_DIR = "_deletes"
_CDF_DIR = "_cdf"
_TAGS_DIR = "_tags"
# Per-generation column-stats sidecars: the manifest itself carries
# only {generation: sidecar rel path} — the per-FILE min/max + row
# counts live in one immutable JSON per generation under this dir,
# written once when the generation is first swept and referenced by
# path forever after. This keeps the manifest O(#generations) instead
# of O(live files) serialized per commit and parsed per read (the
# Iceberg manifest-file / manifest-list split, Delta's checkpoint
# sidecars).
_STATS_SIDE_DIR = f"{_MANIFEST_DIR}/stats"


# The generation (plus partition subdirs) a data file path lies in —
# the capture group of an executor-side regexp_extract.
_GEN_DIR_RE = r"(_data/s=\d+(?:/[^/]*=[^/]*)*)/"


def _bare_expr(col):
    """Column-level twin of bare_path: scheme-insensitive file path
    for joining delete-vector positions against scan metadata."""
    return F.regexp_replace(col, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")


# Whether a session's fs.defaultFS is the LOCAL filesystem, cached
# per session id (one py4j round trip to find out, then free).
_LOCAL_DEFAULT_FS: dict[int, bool] = {}


def _os_path(spark: SparkSession, path: str) -> str | None:
    """A plain-OS path for ``path`` when it PROVABLY lives on the
    local filesystem — else None (caller stays on the Hadoop FS API).
    ``file:`` URIs with no authority qualify outright; scheme-less
    paths qualify only when the session's ``fs.defaultFS`` is the
    local FS (a scheme-less path on an HDFS-defaulted cluster names a
    REMOTE file — never fast-path it). Why: the metadata layer reads
    many small JSON files (manifests, sidecars, tag pins) per
    operation, and each Hadoop-API read costs 4-6 py4j round trips
    (~60 ms measured on this host) where the OS read is ~0.1 ms —
    O(versions) driver wall per catalog refresh at stake. METADATA
    READS ONLY: writes stay on the Hadoop API, whose atomic-rename
    CAS and crc handling are the commit protocol's arbiter."""
    if path.startswith("file://"):
        rest = path[len("file://") :]
        # Empty authority (file:///x) is local; a host component is
        # somebody else's filesystem.
        return rest if rest.startswith("/") else None
    if path.startswith("file:/"):
        return path[len("file:") :]
    if "://" in path or path.startswith("file:"):
        return None
    key = id(spark)
    loc = _LOCAL_DEFAULT_FS.get(key)
    if loc is None:
        try:
            loc = str(
                spark.sparkContext._jsc.hadoopConfiguration().get(
                    "fs.defaultFS", "file:///"
                )
            ).startswith("file:")
        except Exception:  # noqa: BLE001 — any doubt: Hadoop path
            loc = False
        _LOCAL_DEFAULT_FS[key] = loc
    return path if loc else None


def _write_text(fs, path, body: str) -> None:
    """Create (or overwrite) the Hadoop-FS file ``path`` holding
    ``body`` — the one writer of the format's small metadata files;
    callers own the atomicity (unique names or temp-then-rename)."""
    out = fs.create(path, True)
    try:
        out.write(bytearray(body.encode("utf-8")))
    finally:
        out.close()


def _read_json(spark: SparkSession, path: str) -> dict:
    """One small JSON file — the shared reader for manifests, tag
    pins, and cursors-style metadata. Local files read in-process
    (no py4j); everything else off the Hadoop FS. Both paths raise
    on a missing file (FileNotFoundError / Py4JJavaError — callers
    probe existence first or catch broadly)."""
    lp = _os_path(spark, path)
    if lp is not None:
        with open(lp, encoding="utf-8") as f:
            return json.load(f)
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


# Below this many manifests a serial driver loop beats a Spark job
# (one job costs ~100ms of scheduling; a local metadata read ~1ms —
# the crossover on an object store is far lower, so this is
# conservative toward the distributed path where it matters).
_BULK_MANIFEST_THRESHOLD = 32


def bare_path(uri: str) -> str:
    """Scheme-insensitive path form ('file:///tmp/x' == '/tmp/x') —
    for COMPARISON only; I/O always uses original URIs."""
    return re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/", uri)


def _gen_id_of(path: str) -> int | None:
    """Snapshot id a generation was committed at, parsed from the
    ``_data/s=<id>`` segment of a path — accepts both manifest-
    relative entry paths and full file URIs (the ONE parser of this
    layout, shared with io/stats.py's footer-sweep kernel). None for
    paths outside the generation layout (legacy entries; treated as
    predating every evolution event)."""
    m = re.search(rf"(?:^|/){_DATA_DIR}/s=(\d+)(?:/|$)", path)
    return int(m.group(1)) if m else None


def _live_gens(entries: dict[str, str]) -> set[str]:
    """Live ``s=<id>`` generation names referenced by manifest
    entries — ONE derivation for commit stats, ANALYZE coverage,
    metadata aggregates and DESCRIBE DETAIL."""
    return {
        rel.split("/")[1]
        for rel in entries.values()
        if rel.startswith(f"{_DATA_DIR}/")
    }


def generation_dir(table_dir: str, snapshot_id: int) -> str:
    return f"{table_dir}/{_DATA_DIR}/s={snapshot_id}"
