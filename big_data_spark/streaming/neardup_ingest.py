"""Incremental NEAR-duplicate dedup for the ingest loop.

The batch pipeline (pipeline/corpus.py near-dedup stage) re-runs
MinHash+LSH over the WHOLE corpus: O(corpus) per run. A production
training-data pipeline ingests continuously, so this module maintains
the LSH state as atomic snapshot tables (io/snapshot.py) and makes
each batch pay only for ITSELF:

- ``index_dir/shingles`` — (doc_id, shingles): the exact-verify side.
- ``index_dir/bands``    — (doc_id, band, bucket): the LSH band index.
- ``index_dir/pairs``    — (doc_a, doc_b, jaccard): verified near-dup
  pairs, append-only audit/parity trail.
- ``index_dir/clusters`` — (doc_id, root): one row per ingested doc,
  appended by the doc's OWN batch and never rewritten.
- ``index_dir/merges``   — (loser, winner): cluster re-rootings. When
  a new doc bridges two existing clusters the smaller root wins; the
  loser's members are NOT rewritten — readers resolve the final root
  through the transitive closure of this (tiny) table.

Per batch N (``ingest_neardup_batch``):

1. shingle + band ONLY the new docs — O(batch) compute;
2. candidates = new-bands x new-bands (within-batch) UNION new-bands
   x stored-bands (band+bucket equi-join; the new side broadcasts, so
   the stored index is probed map-side — no corpus shuffle). Old x old
   pairs were found by their own batches, by construction;
3. exact-Jaccard verify on candidates only (the shared
   queries/llm.py kernel — the two paths cannot drift);
4. close new pairs into clusters: old endpoints resolve to their
   CURRENT roots (closure over ``merges``), connected components run
   over the SMALL graph of {new docs} U {touched roots} — O(batch),
   never O(corpus); new docs append to ``clusters``, re-rooted old
   roots append to ``merges``;
5. every state append commits through ``append_snapshot`` with
   ``snapshot_id = batch N`` and the standard strictly-below replay
   contract: a crashed/replayed batch recomputes from the N-1 state
   and replace-commits, converging to the same tables.

Equivalence with the batch pass: a pair (a, b) with a ingested before
b shares the same deterministic band buckets in both paths, so it
becomes a candidate exactly when b's batch arrives; verification is
the same kernel; and the per-batch component closure with
min-root + merge chaining yields root(x) = min(component(x)) — the
same canonical labels batch ``connected_components`` assigns (proven
in tests/test_neardup_ingest.py on the real documents table).

100 TB notes: per-batch WRITES are O(batch) (append-only generations;
earlier generations are never touched — asserted in tests). The one
corpus-sized READ is the band-index probe, ~50 B/doc/band (~0.1% of
corpus bytes) and map-side only; compaction (compact_snapshot) folds
the append fan-in, and a bucket-hash layout co-locates the probe if
even that scan matters. The clusters table is only ever read through
a broadcast semi-join against the batch's touched ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.manifest import latest_manifest
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.io.table_writes import append_snapshot
from big_data_spark.lineage import truncate_lineage


# Band rows carry a _bb = hash(band, bucket) % _N_BAND_PARTS column
# and each generation is written hive-partitioned on it, so the
# per-batch probe reads only the partitions holding the batch's own
# band keys — the index scan shrinks toward O(batch) for small
# batches instead of O(index).
_N_BAND_PARTS = 32


def _read_state(
    spark: SparkSession, index_dir: str, table: str, below: int | None
) -> DataFrame | None:
    tdir = f"{index_dir}/{table}"
    man = latest_manifest(spark, tdir, below=below)
    if man is None:
        return None
    if table == "bands":
        # The probe equi-joins stored buckets against this engine's
        # xxhash64 longs: an index whose bucket column has another
        # type would fail mid-join with Spark's CAST_INVALID_INPUT.
        types = {f["name"]: f["type"] for f in man["schema"]}
        if types.get("bucket") != "bigint":
            raise ValueError(
                f"near-dup band index at {index_dir!r} stores bucket as "
                f"{types.get('bucket')!r}, not bigint — rebuild the "
                f"index at {index_dir!r} from source"
            )
    return read_snapshot(spark, tdir, as_of=man["snapshot_id"])


def read_neardup_clusters(
    spark: SparkSession, index_dir: str, below: int | None = None
) -> DataFrame:
    """(doc_id, root) with roots RESOLVED through the merge closure —
    root is the minimum doc_id of the doc's near-dup component, the
    same label batch connected-components assigns. ``root == doc_id``
    is the canonical keeper."""
    clusters = _read_state(spark, index_dir, "clusters", below)
    if clusters is None:
        raise ValueError(f"no ingested batches under {index_dir!r}")
    merges = _read_state(spark, index_dir, "merges", below)
    if merges is None:
        return clusters
    # Transitive closure of the (tiny) merge-event table: every root
    # that ever lost or won sits in one component whose minimum is the
    # final winner. Reuse the CC operator — merges has O(#merge
    # events) rows, so this is bounded work regardless of corpus size.
    from big_data_spark.operators.components import connected_components

    resolved = connected_components(
        merges, src="loser", dst="winner"
    ).select(F.col("id").alias("root"), F.col("component").alias("final"))
    return (
        clusters.join(F.broadcast(resolved), "root", "left")
        .select(
            "doc_id",
            F.coalesce("final", "root").alias("root"),
        )
    )


def neardup_keep(
    spark: SparkSession, index_dir: str, below: int | None = None
) -> DataFrame:
    """(doc_id, near_keep): True for each component's canonical
    (minimum-id) doc — the incremental twin of the batch pipeline's
    ``near_keep`` survival column."""
    return read_neardup_clusters(spark, index_dir, below=below).select(
        "doc_id", (F.col("doc_id") == F.col("root")).alias("near_keep")
    )


def ingest_neardup_batch(
    batch_docs: DataFrame, index_dir: str, batch_id: int
) -> dict:
    """Fold one batch of (doc_id, text) rows into the near-dup index.
    Returns bounded bookkeeping counts (new docs / pairs / merges).

    Docs whose ``doc_id`` is already indexed are skipped (at-least-once
    delivery across distinct batch ids is safe); a REPLAY of the same
    ``batch_id`` reads the strictly-below state, so it recomputes and
    replace-commits the same generations (idempotent)."""
    from big_data_spark.queries.llm import (
        minhash_band_rows,
        minhash_shingles,
        verify_jaccard_pairs,
    )

    spark = batch_docs.sparkSession
    new = batch_docs.select("doc_id", "text").dropDuplicates(["doc_id"])
    prior_clusters = _read_state(spark, index_dir, "clusters", batch_id)
    if prior_clusters is not None:
        new = new.join(
            prior_clusters.select("doc_id"), "doc_id", "left_anti"
        )
    sh_new = truncate_lineage(minhash_shingles(new), eager=True)
    bands_new = truncate_lineage(
        minhash_band_rows(sh_new).withColumn(
            "_bb",
            F.pmod(F.xxhash64("band", "bucket"), F.lit(_N_BAND_PARTS)).cast(
                "int"
            ),
        ),
        eager=True,
    )

    a, b = bands_new.alias("a"), bands_new.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    bands_old = _read_state(spark, index_dir, "bands", batch_id)
    sh_old = _read_state(spark, index_dir, "shingles", batch_id)
    if bands_old is not None:
        # Partition-pruned probe: the batch's distinct _bb values are
        # bounded driver metadata (<= _N_BAND_PARTS ints).
        bb_vals = [
            r["_bb"] for r in bands_new.select("_bb").distinct().collect()
        ]
        bands_old = bands_old.filter(F.col("_bb").isin(bb_vals))
        n, o = bands_new.alias("n"), bands_old.alias("o")
        # Broadcast the BATCH side: the stored index is probed
        # map-side — the only corpus-sized touch in the whole batch.
        cross = (
            F.broadcast(n)
            .join(
                o,
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_a"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias(
                    "doc_b"
                ),
            )
        )
        candidates = within.unionByName(cross).distinct()
        sh_all = sh_new.unionByName(sh_old)
    else:
        candidates = within.distinct()
        sh_all = sh_new
    pairs_new = truncate_lineage(
        verify_jaccard_pairs(candidates, sh_all, sh_all), eager=True
    )

    # --- close the new pairs into clusters ---------------------------
    new_ids = sh_new.select("doc_id")
    ends = (
        pairs_new.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs_new.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    old_ends = ends.join(new_ids, "doc_id", "left_anti")
    if prior_clusters is not None:
        cur = read_neardup_clusters(spark, index_dir, below=batch_id)
        old_roots = truncate_lineage(
            old_ends.join(cur, "doc_id"), eager=True
        )  # (doc_id, root) — O(touched), resolved
    else:
        old_roots = None
    # Edge endpoints mapped: new doc -> itself, old doc -> current root.
    edges = pairs_new.select("doc_a", "doc_b")
    if old_roots is not None:
        ra = old_roots.select(
            F.col("doc_id").alias("doc_a"), F.col("root").alias("root_a")
        )
        rb = old_roots.select(
            F.col("doc_id").alias("doc_b"), F.col("root").alias("root_b")
        )
        edges = (
            edges.join(F.broadcast(ra), "doc_a", "left")
            .join(F.broadcast(rb), "doc_b", "left")
            .select(
                F.coalesce("root_a", "doc_a").alias("src"),
                F.coalesce("root_b", "doc_b").alias("dst"),
            )
        )
    else:
        edges = edges.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
    # Self-loops keep isolated new docs in the output (CC contract).
    edges = edges.unionByName(
        new_ids.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
    )
    from big_data_spark.operators.components import connected_components

    comp = truncate_lineage(
        connected_components(edges, src="src", dst="dst"), eager=True
    )  # (id, component=min over {new docs} U {touched roots})
    clusters_new = (
        new_ids.join(comp, new_ids.doc_id == comp.id)
        .select("doc_id", F.col("component").alias("root"))
    )
    if old_roots is not None:
        merges_new = (
            old_roots.select(F.col("root").alias("loser"))
            .distinct()
            .join(comp, F.col("loser") == comp.id)
            .filter(F.col("component") != F.col("loser"))
            .select("loser", F.col("component").alias("winner"))
        )
    else:
        merges_new = None

    # --- commit (append-only; replay converges via below-reads) ------
    counts = {
        "batch_id": batch_id,
        "new_docs": sh_new.count(),
        "new_pairs": pairs_new.count(),
        "merges": merges_new.count() if merges_new is not None else 0,
    }
    if counts["new_docs"]:
        append_snapshot(
            sh_new, f"{index_dir}/shingles", snapshot_id=batch_id, replace=True
        )
        # One file per partition dir per batch (repartition on the
        # layout key), not #tasks x #partitions tiny files.
        append_snapshot(
            bands_new.repartition("_bb"),
            f"{index_dir}/bands",
            snapshot_id=batch_id,
            replace=True,
            partition_by="_bb",
        )
        append_snapshot(
            clusters_new,
            f"{index_dir}/clusters",
            snapshot_id=batch_id,
            replace=True,
        )
    if counts["new_pairs"]:
        append_snapshot(
            pairs_new, f"{index_dir}/pairs", snapshot_id=batch_id, replace=True
        )
    if counts["merges"]:
        append_snapshot(
            merges_new, f"{index_dir}/merges", snapshot_id=batch_id, replace=True
        )
    return counts


def run_neardup_ingest(
    stream_docs: DataFrame, index_dir: str, checkpoint: str
) -> None:
    """Drain a (doc_id, text) stream (availableNow) into the near-dup
    index — the streaming twin of the batch pipeline's near-dedup
    stage, with per-batch cost O(batch) instead of O(corpus)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_neardup_batch(batch_df, index_dir, batch_id)

    query = (
        stream_docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
