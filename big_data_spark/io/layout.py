"""The snapshot table directory's on-disk layout and the table
format's file-system rules; knows paths, not manifest contents:
the fixed subdir names and ``_data/s=<id>`` generation paths; the
``hadoop_fs`` seam every metadata mutation goes through;
``publish_doc``, the one publisher of named metadata documents
(manifests, tag pins, catalog bindings, cursors, centroid pins);
``_read_json`` / ``read_docs``, the readers of one document or many;
and ``data_files``, which files under a dir are data."""

from __future__ import annotations

import json
import re
import uuid
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

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


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via Hadoop's FS API — the one
    place the py4j boilerplate lives; works identically for local
    paths, HDFS and object stores."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _not_found(exc: Exception) -> bool:
    """Whether a read failed because the file does not exist (the
    local read's FileNotFoundError or Hadoop's FileNotFoundException)."""
    if isinstance(exc, Py4JJavaError):
        return (
            exc.java_exception.getClass().getName()
            == "java.io.FileNotFoundException"
        )
    return isinstance(exc, FileNotFoundError)


def _write_text(fs, path, body: str) -> None:
    """Create (or overwrite) the Hadoop-FS file ``path`` holding
    ``body`` in place — only for names unique to their writer
    (sidecars, shards, a staged ``_schema.json``, temp files)."""
    out = fs.create(path, True)
    try:
        out.write(bytearray(body.encode("utf-8")))
    finally:
        out.close()


def _atomic_overwrite_local(
    spark: SparkSession, fs, tmp_path, final_path, parent: str,
    tmp_name: str, name: str,
) -> None:
    """Replace ``final_path`` with ``tmp_path`` in ONE atomic
    same-directory rename on a local (file://) filesystem — java.nio
    ``ATOMIC_MOVE|REPLACE_EXISTING``, the overwrite-rename Hadoop's
    ``FileSystem.rename`` lacks. Checksum sidecars need care: the
    local FS is a ChecksumFileSystem, so a stale ``.{name}.crc``
    beside the swapped-in data would fail readers' verification.
    The crcs are DELETED, never moved: a delete-crc / move-data /
    move-crc sequence lets two concurrent movers pair one mover's
    data with the OTHER's crc (ChecksumException on every later
    read); with both sidecars removed the moved document simply reads
    unverified — the safe state a missing crc means — and
    last-data-move-wins holds for any interleaving."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    opts = gw.new_array(jvm.java.nio.file.CopyOption, 2)
    opts[0] = jvm.java.nio.file.StandardCopyOption.REPLACE_EXISTING
    opts[1] = jvm.java.nio.file.StandardCopyOption.ATOMIC_MOVE
    _, dst_crc = hadoop_fs(spark, f"{parent}/.{name}.crc")
    if fs.exists(dst_crc):
        fs.delete(dst_crc, False)
    try:
        jvm.java.nio.file.Files.move(
            jvm.java.io.File(tmp_path.toUri().getPath()).toPath(),
            jvm.java.io.File(final_path.toUri().getPath()).toPath(),
            opts,
        )
    except Exception:
        # A failed move (permissions, FS without real atomic replace)
        # must not strand the temp file + its crc sidecar — nothing
        # vacuums metadata dirs. The existing document is untouched
        # by a failed ATOMIC_MOVE, so cleanup is safe.
        if fs.exists(tmp_path):
            fs.delete(tmp_path, False)
        raise
    _, src_crc = hadoop_fs(spark, f"{parent}/.{tmp_name}.crc")
    if fs.exists(src_crc):
        fs.delete(src_crc, False)


def publish_doc(
    spark: SparkSession, path: str, body: str, replace: bool = False
) -> bool:
    """Publish the metadata document ``path`` atomically: write
    ``body`` to a ``.tmp-<uuid>-<name>`` file beside it, then rename
    that into place, so readers never see a torn document. Callers
    keep only their policy for a False.

    Create-only (default): rename refuses an existing destination, so
    the first publisher wins and a later one gets False (its temp file
    removed). ``replace=True`` on the local FS is ONE atomic
    overwrite-rename: a crash leaves the old or the new document.
    Other file systems lack one and fall back to delete-then-rename:
    readers can hit a transient not-found, a crash in between leaves
    no document, and a concurrent replacer whose rename loses to a
    winner's re-deletes and retries ONCE (last-completed-wins)."""
    parent, name = path.rsplit("/", 1)
    fs, final = hadoop_fs(spark, path)
    fs.mkdirs(final.getParent())
    tmp_name = f".tmp-{uuid.uuid4().hex}-{name}"
    _, tmp = hadoop_fs(spark, f"{parent}/{tmp_name}")
    _write_text(fs, tmp, body)
    if replace and (fs.getUri().getScheme() or "file") == "file":
        _atomic_overwrite_local(spark, fs, tmp, final, parent, tmp_name, name)
        return True
    if replace and fs.exists(final):
        fs.delete(final, False)
    renamed = fs.rename(tmp, final)
    if not renamed and replace:
        if fs.exists(final):
            fs.delete(final, False)
        renamed = fs.rename(tmp, final)
    if not renamed:
        fs.delete(tmp, False)
    return renamed


def _read_text(spark: SparkSession, path: str) -> str:
    """One small metadata file's text. Local files read in-process
    (no py4j); everything else off the Hadoop FS. Raises on a missing
    file (``_not_found`` recognizes both forms)."""
    lp = _os_path(spark, path)
    if lp is not None:
        with open(lp, encoding="utf-8") as f:
            return f.read()
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _read_json(spark: SparkSession, path: str) -> dict:
    """One small JSON file — the shared reader for manifests, tag
    pins, bindings, centroid pins and sidecars."""
    return json.loads(_read_text(spark, path))


# Below this many documents a serial driver loop beats a Spark job
# (one job costs ~100ms of scheduling; a local metadata read ~1ms —
# the crossover on an object store is far lower, so this is
# conservative toward the distributed path where it matters).
_BULK_MANIFEST_THRESHOLD = 32


def read_docs(
    spark: SparkSession, paths: list[str], missing_ok: bool = False
) -> dict[str, str]:
    """{path: text} for many small metadata documents, keyed by the
    requested path. Up to the threshold they read serially on the
    driver; above it ONE distributed whole-file text scan fetches
    them in parallel on the executors — at 10k documents the serial
    walk is 10k sequential object-store round trips. A missing file
    raises (the scan job fails), or with ``missing_ok`` is left out
    of the result. Callers parse: what a corrupt document means is
    theirs to decide."""
    paths = list(dict.fromkeys(paths))
    out: dict[str, str] = {}

    def serial() -> dict[str, str]:
        for p in paths:
            try:
                out[p] = _read_text(spark, p)
            except (OSError, Py4JJavaError) as exc:
                if not (missing_ok and _not_found(exc)):
                    raise
        return out

    if len(paths) <= _BULK_MANIFEST_THRESHOLD:
        return serial()
    reader = spark.read.option("wholetext", "true")
    if missing_ok:
        reader = reader.option("ignoreMissingFiles", "true")
    try:
        rows = (
            reader.text(paths)
            .select(F.input_file_name().alias("path"), "value")
            .collect()
        )
    except AnalysisException as exc:
        # Spark checks every path exists before planning the scan,
        # which ignoreMissingFiles does not cover: a file removed
        # since the caller listed it is read around serially.
        if not (missing_ok and exc.getCondition() == "PATH_NOT_FOUND"):
            raise
        return serial()
    by_name: dict[str, list[str]] = {}
    for p in paths:
        by_name.setdefault(p.rsplit("/", 1)[-1], []).append(p)
    for r in rows:
        # input_file_name is a qualified, percent-encoded URI; match
        # it back on the basename, then on the path suffix.
        got = "/" + bare_path(unquote(r["path"])).lstrip("/")
        for p in by_name.get(got.rsplit("/", 1)[-1], ()):
            want = re.sub("/+", "/", bare_path(p)).lstrip("/")
            if got.endswith("/" + want):
                out[p] = r["value"]
                break
    return out


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule for one path component: ``.`` always
    hides; ``_`` hides unless the name holds ``=`` (a layout dir such
    as ``_bb=3``, not ``_SUCCESS`` or ``_temporary``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(spark: SparkSession, dir_path: str):
    """Yield ``(uri, length)`` for every data file under ``dir_path``
    (a directory or one file) from ONE recursive listing — a file
    counts unless some path component below ``dir_path`` is hidden
    (``_hidden``). Nothing for a missing dir. Lazy, so a caller that
    needs only the first file stops the listing there."""
    fs, root = hadoop_fs(spark, dir_path)
    try:
        it = fs.listFiles(root, True)
    except Py4JJavaError as exc:
        if _not_found(exc):
            return
        raise
    base = bare_path(fs.makeQualified(root).toString()).rstrip("/") + "/"
    while it.hasNext():
        st = it.next()
        uri = st.getPath().toString()
        bp = bare_path(uri)
        below = (
            bp[len(base):] if bp.startswith(base) else bp.rsplit("/", 1)[-1]
        )
        if not any(_hidden(c) for c in below.split("/") if c):
            yield uri, st.getLen()


def bare_path(uri: str) -> str:
    """Scheme-insensitive path form ('file:///tmp/x' == '/tmp/x') —
    for COMPARISON only; I/O always uses original URIs."""
    return re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/", uri)


def _gen_id_of(path: str) -> int:
    """Snapshot id a generation was committed at, parsed from the
    ``_data/s=<id>`` segment of a path — accepts both manifest-
    relative entry paths and full file URIs (the ONE parser of this
    layout, shared with io/stats.py's footer-sweep kernel). Every
    manifest entry lies in the layout (``read_manifest`` refuses any
    other), so a path outside it raises."""
    m = re.search(rf"(?:^|/){_DATA_DIR}/s=(\d+)(?:/|$)", path)
    if m is None:
        raise ValueError(f"{path!r} is outside the {_DATA_DIR}/s=<id> layout")
    return int(m.group(1))


def _live_gens(entries: dict[str, str]) -> set[str]:
    """Live ``s=<id>`` generation names referenced by manifest
    entries — ONE derivation for commit stats, ANALYZE coverage,
    metadata aggregates and DESCRIBE DETAIL."""
    return {rel.split("/")[1] for rel in entries.values()}


def generation_dir(table_dir: str, snapshot_id: int) -> str:
    return f"{table_dir}/{_DATA_DIR}/s={snapshot_id}"
