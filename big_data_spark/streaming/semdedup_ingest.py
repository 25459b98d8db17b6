"""Incremental SEMANTIC dedup (SemDeDup) for the ingest loop — the
embedding-space sibling of streaming/neardup_ingest.py, completing
the incremental dedup family (exact: streaming/ingest.py; textual
near-dup: neardup_ingest.py; semantic: here).

The batch pass (queries/llm.py q_dedup_semantic) re-blocks the whole
embedding table per run. Here the frozen-IVF state lives in snapshot
tables under ``index_dir`` and each batch pays O(batch x touched
cells), never O(corpus^2):

- ``index_dir/vectors`` — (vec_id, cell, embedding): every ingested
  vector with its frozen-quantizer cell assignment, append-only.
- ``index_dir/prune``   — (vec_id, cell, cosine): one row per
  (dropped vector, earlier-id near-dup neighbor) pair found so far,
  append-only; readers aggregate to the batch pass's prune list
  (n_dups, max_cosine).
- ``index_dir/centroids.json`` — the PINNED coarse quantizer. The
  first batch writes whatever centroids it was given (default: the
  frozen 16 of operators/ivf_centroids.py; pass a corpus-scaled
  ``ivf_build`` result for a production index); every later batch
  loads the pinned set and REFUSES a conflicting override — cell
  assignments must come from one quantizer for the life of the
  index.

Per batch N (``ingest_semdedup_batch``):

1. assign cells for the NEW vectors only (pinned centroids, one
   narrow pass);
2. within each TOUCHED cell, compare new vectors against (stored +
   new) cell-mates with rectangular BLAS kernels whose per-task
   group is BOUNDED BY CONSTRUCTION: the stored side chunks at
   ``budget`` rows (operators/blockpairs.py chunked_new_vs_members),
   so a cell that outgrows executor memory splits into more chunk
   groups instead of killing the task. Stored cells the batch does
   not touch are never read (cell-pruned semi-join);
3. exact JVM re-score of the (tiny) candidate set, keep cosine >=
   NEARDUP_COSINE, orient pairs (lower id survives, SemDeDup's
   keep-min-id rule) and append the loser rows to ``prune``. A new
   vector with a SMALLER id than a stored near-dup retroactively
   prunes the stored one — exactly what the batch pass would have
   decided on the union;
4. commits use ``append_snapshot`` with ``snapshot_id = N`` and the
   strictly-below replay contract (idempotent replays, safe
   redelivery under new batch ids via an anti-join on vec_id).

End-state equivalence with the batch pass is exact and tested
(tests/test_semdedup_ingest.py; registry row ``semdedup_incremental``
shares q_dedup_semantic's DuckDB oracle): the candidate predicate
(same cell, cosine >= threshold, lower id earlier) is symmetric in
arrival order, and every cross-batch pair is examined when its later
member arrives.

100 TB notes: per-task memory is budget-bounded regardless of cell
population (an unbounded applyInPandas cell block cannot occur by
construction); the per-batch
read of touched cells is a broadcast semi-join over the cell column
— bucket the vectors table by cell if even that scan matters;
``prune`` aggregates lazily on read so batch writes stay O(new
pairs). Cell count is an INDEX parameter now, not a hardwired
constant: train corpus-scaled centroids with operators/ann.ivf_build
and pass them to the first batch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_spark.io.layout import _read_json, hadoop_fs, publish_doc
from big_data_spark.io.manifest import snapshot_ids
from big_data_spark.io.table_reads import read_snapshot
from big_data_spark.io.table_writes import append_snapshot
from big_data_spark.lineage import truncate_lineage
from big_data_spark.operators.blockpairs import (
    BLOCK_ROW_BUDGET,
    chunked_new_vs_members,
)
from big_data_spark.session import ensure_executor_package


def _read_state(
    spark: SparkSession, index_dir: str, table: str, below: int | None
) -> DataFrame | None:
    tdir = f"{index_dir}/{table}"
    ids = snapshot_ids(spark, tdir)
    if below is not None:
        ids = [i for i in ids if i < below]
    if not ids:
        return None
    return read_snapshot(spark, tdir, as_of=ids[-1])


def pinned_centroids(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """The index's one quantizer: load the pinned centroid set, or
    pin ``centroids`` (default: the frozen literals) atomically on
    first use. A later call passing a DIFFERENT set raises — mixing
    quantizers would scatter one vector's neighbors across cells and
    silently miss near-dups."""
    path = f"{index_dir}/centroids.json"
    fs, hpath = hadoop_fs(spark, path)
    if fs.exists(hpath):
        pinned = _read_json(spark, path)
        if centroids is not None and pinned != centroids:
            raise ValueError(
                f"index under {index_dir!r} is pinned to "
                f"{len(pinned)} centroids; refusing a conflicting "
                f"{len(centroids)}-centroid override — rebuild the "
                "index to re-quantize"
            )
        return pinned
    if centroids is None:
        from big_data_spark.operators.ivf_centroids import IVF_CENTROIDS

        centroids = IVF_CENTROIDS
    if not publish_doc(spark, path, json.dumps(centroids)):
        # Another instance pinned first — adopt theirs (idempotent
        # replays write identical bytes; a genuine conflict surfaces
        # on the equality check above next call).
        return pinned_centroids(spark, index_dir, centroids)
    return centroids


def ingest_semdedup_batch(
    batch_vecs: DataFrame,
    index_dir: str,
    batch_id: int,
    centroids: list[list[float]] | None = None,
    budget: int = BLOCK_ROW_BUDGET,
) -> dict:
    """Fold one batch of (vec_id, embedding) rows into the semantic
    dedup index. Returns bounded bookkeeping counts. ``centroids``
    pins the quantizer on the FIRST batch (see pinned_centroids);
    ``budget`` bounds the per-task member-chunk size of the pair
    kernel."""
    from big_data_spark.operators.ann import (
        ivf_cell_from_dists,
        ivf_dists_expr,
    )
    from big_data_spark.queries.llm import NEARDUP_COSINE, _dot

    spark = batch_vecs.sparkSession
    ensure_executor_package(spark)
    cents = pinned_centroids(spark, index_dir, centroids)
    new = batch_vecs.select("vec_id", "embedding").dropDuplicates(
        ["vec_id"]
    )
    stored = _read_state(spark, index_dir, "vectors", batch_id)
    if stored is not None:
        new = new.join(stored.select("vec_id"), "vec_id", "left_anti")
    assigned = truncate_lineage(
        new.select(
            "vec_id",
            "embedding",
            ivf_dists_expr(cents).alias("dists"),
        ).select(
            "vec_id", "embedding", ivf_cell_from_dists("dists").alias("cell")
        ),
        eager=True,
    )
    candidates = chunked_new_vs_members(
        assigned,
        stored.select("vec_id", "cell", "embedding")
        if stored is not None
        else None,
        budget=budget,
    )
    # Exact JVM re-score (same expression as the batch pass) so the
    # emitted cosines and the >= cut match the oracle bit-for-bit.
    if stored is not None:
        touched = assigned.select("cell").distinct()
        members = (
            stored.join(F.broadcast(touched), "cell", "left_semi")
            .select("vec_id", "cell", "embedding")
            .unionByName(assigned.select("vec_id", "cell", "embedding"))
        )
    else:
        members = assigned
    va = members.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")
    )
    vb = members.select(
        F.col("vec_id").alias("id_b"),
        "cell",
        F.col("embedding").alias("emb_b"),
    )
    cosine = F.round(
        _dot(F.col("emb_a"), F.col("emb_b"))
        / (
            F.sqrt(_dot(F.col("emb_a"), F.col("emb_a")))
            * F.sqrt(_dot(F.col("emb_b"), F.col("emb_b")))
        ),
        6,
    )
    prune_new = truncate_lineage(
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(F.col("id_b").alias("vec_id"), "cell", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COSINE),
        eager=True,
    )
    counts = {
        "batch_id": batch_id,
        "new_vectors": assigned.count(),
        "new_prune_rows": prune_new.count(),
    }
    if counts["new_vectors"]:
        append_snapshot(
            assigned.select("vec_id", "cell", "embedding"),
            f"{index_dir}/vectors",
            snapshot_id=batch_id,
            replace=True,
        )
    if counts["new_prune_rows"]:
        append_snapshot(
            prune_new,
            f"{index_dir}/prune",
            snapshot_id=batch_id,
            replace=True,
        )
    return counts


def read_semdedup_prune(
    spark: SparkSession, index_dir: str, below: int | None = None
) -> DataFrame:
    """The prune list in the batch pass's exact shape: one row per
    DROPPED vector with (vec_id, cell, n_dups, max_cosine) — n_dups
    counts its earlier-id near-dup neighbors across all batches."""
    prune = _read_state(spark, index_dir, "prune", below)
    if prune is None:
        raise ValueError(f"no pruned vectors recorded under {index_dir!r}")
    return (
        prune.groupBy("vec_id", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("vec_id")
    )


def semdedup_keep(
    spark: SparkSession, index_dir: str, below: int | None = None
) -> DataFrame:
    """(vec_id, sem_keep): False for every vector the index has
    pruned — the incremental twin of prepare_corpus's ``sem_keep``
    survival column."""
    vectors = _read_state(spark, index_dir, "vectors", below)
    if vectors is None:
        raise ValueError(f"no ingested batches under {index_dir!r}")
    prune = _read_state(spark, index_dir, "prune", below)
    out = vectors.select("vec_id")
    if prune is None:
        return out.select("vec_id", F.lit(True).alias("sem_keep"))
    dropped = prune.select("vec_id").distinct().withColumn(
        "_d", F.lit(True)
    )
    return out.join(dropped, "vec_id", "left").select(
        "vec_id", F.col("_d").isNull().alias("sem_keep")
    )


def run_semdedup_ingest(
    stream_vecs: DataFrame,
    index_dir: str,
    checkpoint: str,
    centroids: list[list[float]] | None = None,
    budget: int = BLOCK_ROW_BUDGET,
) -> None:
    """Drain a (vec_id, embedding) stream (availableNow) into the
    semantic dedup index."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_semdedup_batch(
            batch_df, index_dir, batch_id, centroids=centroids,
            budget=budget,
        )

    query = (
        stream_vecs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
