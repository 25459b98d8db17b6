"""Small-file compaction — the table-maintenance pass a 100 TB lake
runs constantly.

Streaming sinks, frequent micro-batch appends and over-parallel
writers all leave parquet directories with thousands of KB-sized
files; every subsequent scan then pays one task + one footer read +
one object-store GET per file, and the NameNode/manifest holds one
entry each. Compaction rewrites a directory to files near a target
size in ONE distributed job:

- file inventory via Hadoop's FileSystem API (works on local paths
  here and on HDFS/object stores unchanged — the same listing the
  scan planner uses);
- target partition count = ceil(total_bytes / target_file_bytes),
  scaled by an output/input size ratio (parquet re-encoding usually
  shrinks small files: bigger row groups, better dictionary reuse);
- ``coalesce`` when merely merging (narrow, NO shuffle — each output
  task concatenates a set of input splits), ``repartition`` only
  when asked to re-cluster by columns (one shuffle, buys
  partition-pruned or co-located downstream reads);
- optional ``sortWithinPartitions`` so min/max column statistics
  stay tight and downstream predicate pushdown keeps skipping row
  groups.

Writes go to a NEW directory: object stores have no atomic in-place
rewrite, so the swap (rename / manifest flip) stays with the caller
— the engine never deletes source data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from big_data_spark.io.layout import _DATA_DIR, data_files, hadoop_fs


def parquet_inventory(spark: SparkSession, path: str) -> dict:
    """File inventory of a parquet directory: n_files, total_bytes,
    and how many files sit under 1/4 of a healthy 128 MB target —
    the 'is this table fragmented?' probe."""
    sizes = [size for _, size in data_files(spark, path)]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "n_small_files": sum(size < (128 << 20) // 4 for size in sizes),
    }


def zorder_key(cols: list[str], bits: int = 16) -> "F.Column":
    """Z-order (Morton) key: bit-interleaving of ``len(cols)``
    non-negative integer columns, ``bits`` bits each.

    Output bit ``j * n_cols + i`` is bit ``j`` of column ``i``, so
    sorting by the key gives every column locality at once — the
    multi-dimensional layout single-column sorting can't provide:
    a range-partitioned rewrite on the key yields files whose min/max
    span is narrow on EVERY interleaved column, and parquet's
    row-group statistics then prune scans filtered on any of them.

    Columns must already be in [0, 2^bits) — rank or bucket them
    first (percent_rank * (2^bits - 1) is the standard normalizer
    for skewed or unbounded domains). Values outside the range fail
    loudly rather than silently aliasing into wrong buckets.

    Built as ONE SQL string (bits * n_cols shift-mask-or terms): pure
    JVM integer arithmetic, whole-stage-codegen friendly, no Python.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns (use a plain sort for 1)")
    if bits * n > 63:
        raise ValueError(f"{bits} bits x {n} cols exceeds a signed 64-bit key")
    checks = " AND ".join(
        f"(CAST({c} AS BIGINT) >= 0 AND CAST({c} AS BIGINT) < {1 << bits})"
        for c in cols
    )
    terms = [
        f"shiftleft(shiftright(CAST({c} AS BIGINT), {j}) & 1, {j * n + i})"
        for i, c in enumerate(cols)
        for j in range(bits)
    ]
    cols_desc = ", ".join(cols).replace("'", "")
    return F.expr(
        f"CASE WHEN {checks} THEN ({' + '.join(terms)}) "
        f"ELSE CAST(assert_true(false, 'zorder_key: [{cols_desc}] out of "
        f"[0, 2^{bits}) — rank/bucket first') AS BIGINT) END"
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    size_ratio: float = 1.0,
) -> dict:
    """Rewrite the parquet directory at ``src`` into ``dst`` with
    files near ``target_file_bytes``.

    Without ``cluster_by`` the plan is scan -> coalesce(n) -> write:
    narrow, shuffle-free — each output task concatenates input
    splits, so compacting a 100 TB table moves every byte exactly
    once with no exchange. With ``cluster_by`` the rewrite
    repartitions on those columns (one shuffle) so equal keys land
    in the same files — that is a layout INVESTMENT: downstream
    joins/aggregations on the key read co-located data, and min/max
    stats prune hard. ``sort_within`` additionally orders rows inside
    each output file for tight row-group statistics.

    With ``zorder_by`` (mutually exclusive with ``cluster_by``) the
    rewrite range-partitions and sorts on the Morton key of those
    columns (normalized to [0, 2^zorder_bits) by min/max scaling), so
    every file's min/max span is narrow on EVERY listed column —
    scans filtered on any of them prune files and row groups. One
    shuffle plus the rank window; the layout investment for tables
    queried along several independent dimensions.

    ``size_ratio`` estimates output/input bytes (re-encoded parquet
    from tiny files usually lands below 1.0); the returned dict
    reports the decision so callers can log it.
    """
    if target_file_bytes < 1 << 20:
        raise ValueError(f"target_file_bytes must be >= 1 MiB, got {target_file_bytes}")
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    inv = parquet_inventory(spark, src)
    if inv["n_files"] == 0:
        raise ValueError(f"no parquet data files under {src!r}")
    n_out = max(1, math.ceil(inv["total_bytes"] * size_ratio / target_file_bytes))
    df: DataFrame = spark.read.parquet(src)
    out = _compaction_plan(
        df, n_out, cluster_by, sort_within, zorder_by, zorder_bits
    )
    out.write.mode("error").parquet(dst)
    return {
        **inv,
        "n_output_files": n_out,
        "clustered": bool(cluster_by),
        "zordered": bool(zorder_by),
    }


def _with_zorder_key(
    df: DataFrame, zorder_by: list[str], zorder_bits: int
):
    """``df`` plus a ``_zkey`` Morton-interleave column; returns
    ``(keyed_df, helper_cols_to_drop)``.

    Normalizes each dimension into [0, 2^bits) by linear min/max
    scaling: ONE map-side-combinable aggregate for all bounds,
    broadcast back as a 1-row join — fully distributed (a
    percent_rank window would be exact under skew but funnels the
    whole table through one task; wrong trade for a maintenance
    pass). Heavy skew degrades locality, not correctness —
    pre-bucket skewed columns if it matters. Bounds are GLOBAL even
    for a partitioned rewrite: scaling is monotone, so within-
    partition ordering is identical; per-partition bounds would only
    tighten spans when partitions cover very different ranges."""
    from pyspark.sql import functions as F

    # Validate dimensions UP FRONT: an unsupported type otherwise
    # dies mid-rewrite inside Spark's double cast (ANSI
    # CAST_INVALID_INPUT) — loud and early beats a job failure.
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal",
    }
    stringy = {"string", "varchar", "char"}
    temporal = {"date", "timestamp", "timestamp_ntz"}
    dtypes = dict(df.dtypes)

    def dim_expr(c: str):
        """The column as a double z-dimension. STRING columns (Delta's
        approach) map through a truncated fixed-width
        binary prefix: the first 7 UTF-8 bytes, hex-encoded and
        right-'0'-padded to 14 nibbles, read as one 56-bit integer —
        MONOTONE with the lexicographic byte order on that prefix
        (the padding is what keeps 'b' above 'abc'; unpadded values
        compare by length first). Ties beyond 7 bytes collapse to one
        bucket: truncation trades tail resolution for a bounded key,
        exactly the z-order trade for long common prefixes.

        DATE/TIMESTAMP columns (with typed skipping) map to
        epoch day/microsecond counts — event time is THE most common
        clustering dimension on a fact table. ntz values route
        through the session-tz cast Spark itself applies; a DST fold
        can merge two wall-clock instants into one scaled value,
        which degrades locality at that hour only, never ordering
        soundness."""
        head = dtypes[c].split("(")[0]
        if head in stringy:
            return F.conv(
                F.rpad(
                    F.substring(F.hex(F.encode(F.col(c), "UTF-8")), 1, 14),
                    14,
                    "0",
                ),
                16,
                10,
            ).cast("double")
        if head == "date":
            return F.unix_date(F.col(c)).cast("double")
        if head in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    for c in zorder_by:
        if c not in dtypes:
            raise ValueError(f"zorder_by: unknown column {c!r}")
        if dtypes[c].split("(")[0] not in numeric | stringy | temporal:
            raise ValueError(
                f"zorder_by: column {c!r} has type {dtypes[c]} — "
                "z-order dimensions must be numeric, string, date or "
                "timestamp (the key is a min/max-scaled interleave; "
                "strings cluster by a truncated binary prefix)"
            )
    top = (1 << zorder_bits) - 1
    bounds = df.agg(
        *[
            f
            for c in zorder_by
            for f in (
                F.min(dim_expr(c)).alias(f"_zmin_{c}"),
                F.max(dim_expr(c)).alias(f"_zmax_{c}"),
            )
        ]
    )
    norm = df.join(F.broadcast(bounds))
    for c in zorder_by:
        span = F.col(f"_zmax_{c}") - F.col(f"_zmin_{c}")
        scaled = F.when(
            span > 0,
            (dim_expr(c) - F.col(f"_zmin_{c}")) / span,
        ).otherwise(F.lit(0.0))
        norm = norm.withColumn(
            f"_zr_{c}", F.round(scaled * top).cast("bigint")
        )
    keyed = norm.withColumn(
        "_zkey",
        zorder_key([f"_zr_{c}" for c in zorder_by], bits=zorder_bits),
    ).drop(
        *[f"_zmin_{c}" for c in zorder_by],
        *[f"_zmax_{c}" for c in zorder_by],
    )
    helpers = ["_zkey"] + [f"_zr_{c}" for c in zorder_by]
    return keyed, helpers


def _compaction_plan(
    df: DataFrame,
    n_out: int,
    cluster_by: list[str] | None,
    sort_within: list[str] | None,
    zorder_by: list[str] | None,
    zorder_bits: int,
) -> DataFrame:
    """The shared rewrite plan: coalesce (narrow merge) / repartition
    (cluster) / range-partition-on-Morton-key (z-order), plus an
    optional within-file sort for tight row-group statistics."""
    if zorder_by:
        keyed, helpers = _with_zorder_key(df, zorder_by, zorder_bits)
        out = (
            keyed.repartitionByRange(n_out, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop(*helpers)
        )
    elif cluster_by:
        out = df.repartition(n_out, *cluster_by)
    else:
        out = df.coalesce(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    return out


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    size_ratio: float = 1.0,
    partitions: dict | None = None,
) -> dict:
    """Compact a SNAPSHOT table (io/snapshot.py) in place, atomically:
    read the current snapshot, rewrite it as one fresh data
    generation via the same planning as ``compact_parquet``, and
    publish with a single manifest rename. This closes the swap that
    ``compact_parquet`` leaves to the caller — readers see the old
    layout until the commit and the new one after; a crash mid-rewrite
    leaves only an unreferenced generation for ``vacuum_snapshots``.

    For a bucket-partitioned snapshot (e.g. the CDC mirror), the
    rewrite folds every accumulated generation back into ONE while
    preserving the partition column — after many touched-bucket
    batches this is the pass that caps the number of live generations
    a read must union.

    ``partitions`` ({col: value | list-of-values}, the read_snapshot
    spelling) scopes the rewrite to MATCHING partitions of a
    partitioned table (Delta's ``OPTIMIZE ... WHERE``):
    only their entries are read and rewritten (cost O(selected), the
    only affordable shape at 100 TB — a day's hot partitions, not
    the table); untouched partitions carry by reference, delete
    vectors and the evolution log carry forward (rewritten files'
    vector rows go inert; untouched partitions' masks still apply),
    and the commit is maintenance (change feed silent).
    """
    from big_data_spark.io.layout import generation_dir
    from big_data_spark.io.manifest import (
        latest_manifest,
        partition_cols,
        select_partition_entries,
    )
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import (
        write_snapshot,
        write_snapshot_partial,
    )

    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    touched_keys = list(man["entries"].keys())
    scoped = partitions is not None
    if scoped:
        if partition_cols(man) is None:
            raise ValueError(
                "compact_snapshot(partitions=): table is not "
                "partitioned — omit partitions for the full rewrite"
            )
        kept, _ = select_partition_entries(spark, man, partitions)
        if not kept:
            raise ValueError(
                f"compact_snapshot(partitions=): no live partitions "
                f"match {partitions!r}"
            )
        touched_keys = list(kept.keys())
        inv_entries = set(kept.values())
    else:
        inv_entries = set(man["entries"].values())
    inv = {"n_files": 0, "total_bytes": 0, "n_small_files": 0}
    for rel in inv_entries:
        part = parquet_inventory(spark, f"{table_dir}/{rel}")
        for k in inv:
            inv[k] += part[k]
    if inv["n_files"] == 0:
        raise ValueError(f"no parquet data files under {table_dir!r}")
    n_out = max(
        1, math.ceil(inv["total_bytes"] * size_ratio / target_file_bytes)
    )
    # Read the data AS OF the manifest we carry forward, and derive
    # next_id from that SAME manifest — a commit landing during the
    # (long) rewrite then collides on the id and raises
    # SnapshotConflict instead of being silently dropped (lost-update
    # race; one version, inventory + data + touched keys).
    df = read_snapshot(
        spark,
        table_dir,
        as_of=man["snapshot_id"],
        partitions=partitions,
    )
    next_id = man["snapshot_id"] + 1
    pcols = partition_cols(man)
    if pcols:
        if cluster_by:
            raise ValueError(
                "cluster_by not supported for a partitioned snapshot "
                "— the partition column already fixes the coarse "
                "layout; use zorder_by to cluster WITHIN partitions"
            )
        if zorder_by:
            # Z-order WITHIN each partition (Delta's OPTIMIZE ZORDER
            # on partitioned tables): range-split on
            # (partition..., Morton key) so every task holds one
            # contiguous slice of one-or-few partitions sorted by the
            # interleave — each written file is narrow on EVERY
            # z-column and footer stats prune point/range reads
            # inside the partition dirs the manifest already prunes.
            overlap = sorted(set(zorder_by) & set(pcols))
            if overlap:
                raise ValueError(
                    f"zorder_by includes partition column(s) "
                    f"{overlap} — they are constant within each "
                    "partition dir; list only the within-partition "
                    "dimensions"
                )
            from pyspark.sql import functions as F

            keyed, helpers = _with_zorder_key(df, zorder_by, zorder_bits)
            out = (
                keyed.repartitionByRange(
                    n_out,
                    *[F.col(c) for c in pcols],
                    F.col("_zkey"),
                )
                .sortWithinPartitions(*pcols, "_zkey")
                .drop(*helpers)
            )
        else:
            out = df.repartition(n_out, *pcols)
            if sort_within:
                out = out.sortWithinPartitions(*sort_within)
        write_snapshot_partial(
            out,
            table_dir,
            next_id,
            man["partition_col"],
            touched_keys,
            maintenance=True,
            # Full rewrite of every partition from the masked,
            # committed-schema read: vectors and the evolution log
            # are materialized into the new files — clear both (the
            # unpartitioned branch's write_snapshot does the same).
            # A SCOPED rewrite must CARRY both instead: untouched
            # partitions still need their masks and their rename
            # replay (the rewritten files' vector rows go inert with
            # the replaced generations; the new generation's id is
            # above every logged event, so no replay applies to it).
            **({} if scoped else {"deletes": [], "rename_log": []}),
        )
    elif man["layout_by"]:
        # Generations are hive-partitioned on a layout column (e.g.
        # the band index's _bb bucket, append_snapshot(partition_by=));
        # preserve it so partition-pruned probes survive maintenance.
        # One task per layout value -> one file per partition dir.
        layout = man["layout_by"]
        if cluster_by or zorder_by:
            raise ValueError(
                "cluster_by/zorder_by not supported for a layout-"
                "partitioned snapshot — the layout column fixes it"
            )
        out = df.repartition(layout)
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        write_snapshot(
            out,
            table_dir,
            snapshot_id=next_id,
            partition_by=layout,
            maintenance=True,
        )
        # The layout fixes the file count (one per partition dir),
        # not the size heuristic — report what was actually written
        # so maintenance automation sizing follow-ups isn't misled.
        n_out = parquet_inventory(
            spark, generation_dir(table_dir, next_id)
        )["n_files"]
    else:
        out = _compaction_plan(
            df, n_out, cluster_by, sort_within, zorder_by, zorder_bits
        )
        write_snapshot(out, table_dir, snapshot_id=next_id, maintenance=True)
    return {**inv, "n_output_files": n_out, "snapshot_id": next_id}


def binpack_snapshot(
    spark: SparkSession,
    table_dir: str,
    small_bytes: int = 32 << 20,
) -> dict:
    """INCREMENTAL compaction for append-style snapshot tables: fold
    only the SMALL data generations (each under ``small_bytes``
    total) into one fresh generation, carrying every large generation
    forward in the manifest BY REFERENCE — zero data movement for
    them. This is the Iceberg-style bin-pack maintenance pass: a
    continuously-appending table (the incremental dedup indexes, a
    streaming lake) accretes a long tail of tiny per-batch
    generations, and folding the TAIL costs O(tail) instead of
    ``compact_snapshot``'s O(table) — the difference between a
    maintenance pass you can run hourly and one you schedule.

    Commits with ``maintenance=True`` (invisible to read_changes) and
    preserves a ``layout_by`` hive layout. No-op (returns
    ``{"folded": 0, ...}``) when fewer than two small generations
    exist. Untouched generations stay byte-identical (tested).
    """
    from pyspark.sql import functions as F

    from big_data_spark.io.manifest import (
        dir_cols,
        latest_manifest,
        partition_cols,
    )
    from big_data_spark.io.table_reads import _pad_to_schema, read_entries
    from big_data_spark.io.table_writes import _parquet_writer, _publish

    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    if partition_cols(man) is not None:
        raise ValueError(
            "binpack_snapshot is for append-style tables; a "
            f"{partition_cols(man)!r}-partitioned table folds "
            "per-partition through compact_snapshot"
        )
    sized = {
        key: (rel, parquet_inventory(spark, f"{table_dir}/{rel}"))
        for key, rel in man["entries"].items()
    }
    small = {
        key: rel
        for key, (rel, inv) in sized.items()
        if inv["total_bytes"] < small_bytes
    }
    if len(small) < 2:
        return {
            "folded": 0,
            "kept": len(man["entries"]),
            "snapshot_id": man["snapshot_id"],
        }
    # Same-manifest id derivation as _rewrite_where/compact_snapshot:
    # an intervening commit collides -> SnapshotConflict, never a
    # silent drop of its entries from the folded manifest.
    next_id = man["snapshot_id"] + 1
    # _pad_to_schema: TYPED null-pad to the committed schema — a
    # small tail that entirely predates an added column must not
    # produce a void column parquet refuses to write.
    # Merge-on-read vectors apply to the folded data; the list is
    # carried VERBATIM in the commit — rows referencing the folded
    # (now dropped) generations become inert, rows for kept
    # generations keep masking (fold_deletes clears the list).
    df = _pad_to_schema(
        read_entries(
            spark,
            table_dir,
            small,
            deletes=man["deletes"],
            schema_fields=man["schema"],
            rename_log=man["rename_log"],
            partition_cols=dir_cols(man),
        ),
        man["schema"],
    )
    layout = man["layout_by"]
    # write_snapshot would commit entries = {"": gen} (full table);
    # here the folded generation joins the carried-forward big ones,
    # so publish the generation with the merged entry map.
    out = df.repartition(layout) if layout else df.coalesce(
        max(
            1,
            sum(
                inv["total_bytes"]
                for key, (rel, inv) in sized.items()
                if key in small
            )
            // (128 << 20)
            + 1,
        )
    )

    kept = {
        key: rel for key, rel in man["entries"].items() if key not in small
    }

    def build(prev, sid, staged):
        # An all-rows-MOR-deleted tail stages nothing: no new entry.
        entries = dict(kept)
        if staged:
            entries[f"b{sid}"] = f"{_DATA_DIR}/s={sid}"
        return entries, {"maintenance": True}

    _publish(
        spark,
        table_dir,
        [(_DATA_DIR, _parquet_writer(out, layout))],
        build,
        at=(man, next_id),
    )
    return {"folded": len(small), "kept": len(kept), "snapshot_id": next_id}


def maintain_table(
    spark: SparkSession,
    table_dir: str,
    small_bytes: int = 32 << 20,
    max_generations: int = 32,
    keep_last: int = 8,
) -> dict:
    """The one-call maintenance pass (the OPTIMIZE job a scheduler
    runs per table): in dependency order,

    1. fold fragmentation — ``binpack_snapshot`` for append-style
       tables (O(small tail)); full ``compact_snapshot`` for
       bucket-partitioned tables once live generations exceed
       ``max_generations``;
    2. rebuild every Bloom file index under ``<table>/_index`` whose
       ``covers`` lags the current snapshot (AFTER folding — a
       rewrite changes file names, which is exactly when indexes go
       stale);
    3. ``vacuum_snapshots(keep_last)`` on the table and each index.

    Returns a bounded action report; every step is atomic on its own,
    so a crash mid-pass leaves a consistent table and the next pass
    picks up where it stopped. Size ``keep_last`` by the RUNBOOK
    retention contract (longest reader / feed-cursor lag).
    """
    from big_data_spark.io.fileindex import write_bloom_index
    from big_data_spark.io.dml import fold_deletes
    from big_data_spark.io.layout import _live_gens
    from big_data_spark.io.manifest import (
        latest_manifest,
        partition_cols,
        snapshot_ids,
    )
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import vacuum_snapshots

    man = latest_manifest(spark, table_dir)
    if man is None:
        raise ValueError(f"no committed snapshots under {table_dir!r}")
    report: dict = {}
    gens = _live_gens(man["entries"])
    # Materialize merge-on-read delete vectors FIRST: the rewrite
    # passes below then see a mask-free table, and the Bloom index
    # rebuild cannot index masked rows.
    report["deletes_folded"] = fold_deletes(spark, table_dir)
    if partition_cols(man) is not None:
        if len(gens) > max_generations:
            report["compacted"] = compact_snapshot(spark, table_dir)
        else:
            report["compacted"] = None
    else:
        report["binpacked"] = binpack_snapshot(
            spark, table_dir, small_bytes=small_bytes
        )
    idx_root = f"{table_dir}/_index"
    fs, ipath = hadoop_fs(spark, idx_root)
    rebuilt = []
    if fs.exists(ipath):
        current = snapshot_ids(spark, table_dir)[-1]
        for st in fs.listStatus(ipath):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("bloom__")):
                continue
            col = name[len("bloom__"):]
            idx_dir = f"{idx_root}/{name}"
            row = (
                read_snapshot(spark, idx_dir)
                .select("covers", "m", "k")
                .first()
            )
            if row is None:
                # EMPTY committed index (built over an empty table):
                # its sizing is unrecoverable — rebuild with defaults
                # so the index becomes useful once the table has data.
                write_bloom_index(spark, table_dir, col)
                rebuilt.append(col)
                continue
            if row["covers"] < current:
                # Rebuild with the index's OWN sizing — silently
                # dropping a custom m/k to the defaults would degrade
                # the false-positive rate after every maintenance.
                write_bloom_index(
                    spark, table_dir, col, m=row["m"], k=row["k"]
                )
                rebuilt.append(col)
    report["indexes_rebuilt"] = rebuilt
    report["vacuum"] = vacuum_snapshots(
        spark, table_dir, keep_last=keep_last
    )
    if fs.exists(ipath):
        for st in fs.listStatus(ipath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("bloom__"):
                vacuum_snapshots(
                    spark, f"{idx_root}/{name}", keep_last=2
                )
    return report
