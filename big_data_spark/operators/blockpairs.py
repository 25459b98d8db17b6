"""Memory-BOUNDED block-local pair generation for embedding dedup —
the chunked replacement for a groupBy(cell)
.applyInPandas all-pairs kernel materializes an ENTIRE cell in one
task (AQE cannot split an applyInPandas group), so a cell that
outgrows executor memory kills the task no matter how the rest of
the plan scales.

Here the group key is ``(block, chunk_i, chunk_j)`` instead of
``block``: each block's members hash into ``ceil(|block| / budget)``
chunks, every unordered chunk pair becomes its own applyInPandas
group, and each group holds at most ~2 x budget rows BY CONSTRUCTION
— per-task memory is bounded regardless of block population, and the
emitted candidate set is IDENTICAL (each unordered row pair lands in
exactly one chunk-pair group, proven in tests/test_blockpairs.py
against the unchunked kernel on a deliberately hot cell).

Cost shape: a block of m rows replicates each row to n_chunks =
ceil(m / budget) groups, so shuffled rows are m^2 / budget — the
same O(m^2) pair work the matmul already pays, divided across
bounded tasks instead of concentrated in one. With m <= budget
(every block small) n_chunks = 1 and the plan degenerates to the
original single-group-per-block shape: zero overhead beyond the
per-block count join.

Used by queries/llm.py (SemDeDup, label-blocked near-dup, LSH-bucket
scoring) and streaming/semdedup_ingest.py (the rectangular
new-vs-members incremental kernel, which bounds the STORED side —
the one that grows with the corpus; the new side is bounded by the
micro-batch trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows per chunk. At 4096 rows x 64-dim float64 a chunk matrix is
# ~2 MiB and a chunk-pair matmul temporary ~128 MiB peak upper bound
# (4096^2 doubles) — comfortably inside an executor-thread budget.
BLOCK_ROW_BUDGET = 4096


def _pair_thresholds():
    from big_data_spark.queries.llm import NEARDUP_COSINE, NEARDUP_MARGIN

    return NEARDUP_COSINE - NEARDUP_MARGIN


def _chunk_pair_kernel(pdf):
    """One chunk-pair group: triangle all-pairs when ci == cj, else
    the ci x cj rectangle. Emits oriented (id_a < id_b) candidates
    with cosine >= threshold - margin; every unordered pair of the
    parent block appears in exactly one group, so the union over
    groups equals the unchunked all-pairs scan."""
    import numpy as np
    import pandas as pd

    thr = _pair_thresholds()
    empty = pd.DataFrame({"id_a": [], "id_b": []}, dtype="int64")
    if len(pdf) < 2:
        return empty
    ci = int(pdf["_ci"].iloc[0])
    cj = int(pdf["_cj"].iloc[0])
    if ci == cj:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(pdf), k=1)
        keep = cos[ia, ib] >= thr
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]]}
        )
    a = pdf[pdf["_chunk"] == ci]
    b = pdf[pdf["_chunk"] == cj]
    if len(a) == 0 or len(b) == 0:
        return empty
    ma = np.stack(a["embedding"].to_numpy()).astype("float64")
    mb = np.stack(b["embedding"].to_numpy()).astype("float64")
    na = np.sqrt((ma * ma).sum(axis=1))
    nb = np.sqrt((mb * mb).sum(axis=1))
    cos = (ma @ mb.T) / np.outer(na, nb)
    rows, cols = np.nonzero(cos >= thr)
    ia = a["vec_id"].to_numpy()[rows]
    ib = b["vec_id"].to_numpy()[cols]
    return pd.DataFrame(
        {
            "id_a": np.minimum(ia, ib),
            "id_b": np.maximum(ia, ib),
        }
    )


def chunked_pair_candidates(
    df: DataFrame,
    block_cols: list[str],
    budget: int = BLOCK_ROW_BUDGET,
    total_rows: int | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from all-pairs cosine within each
    block of ``df`` (columns: vec_id, embedding, *block_cols), with
    per-task group size bounded by ~2 x ``budget`` rows.

    Plan: one map-side-combinable count per block (broadcast back),
    hash rows into chunks, expand each row to its n_chunks chunk-pair
    groups with a JVM-side transform/explode (no Python in the
    expansion), then one Arrow kernel per bounded group.

    ``total_rows``: a caller-known row count (many callers have one
    from an eager lineage truncation). When it is <= ``budget``,
    every block trivially fits one chunk, so the per-block count job
    and its broadcast join are SKIPPED entirely (that fixed overhead
    was paid even when every block was under budget) — identical output, one less job. Above budget the
    counted path runs unchanged."""
    if budget < 2:
        raise ValueError(f"budget must be >= 2, got {budget}")
    if total_rows is not None and total_rows <= budget:
        single = df.select(
            *block_cols,
            "vec_id",
            "embedding",
            F.lit(0).cast("int").alias("_chunk"),
            F.lit(0).cast("int").alias("_ci"),
            F.lit(0).cast("int").alias("_cj"),
        )
        return single.groupBy(*block_cols, "_ci", "_cj").applyInPandas(
            _chunk_pair_kernel, "id_a bigint, id_b bigint"
        )
    counts = df.groupBy(*block_cols).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(budget))
        .cast("int")
        .alias("_n_chunks")
    )
    chunked = (
        df.join(F.broadcast(counts), list(block_cols))
        .withColumn(
            "_chunk",
            F.pmod(F.xxhash64("vec_id"), F.col("_n_chunks")).cast("int"),
        )
        # Row in chunk c participates in group (x, c) for x <= c and
        # (c, x) for x > c — exactly n_chunks groups, each unordered
        # chunk pair exactly once.
        .withColumn(
            "_cc",
            F.expr(
                "explode(transform(sequence(0, _n_chunks - 1), x -> "
                "if(x <= _chunk, struct(x AS ci, _chunk AS cj), "
                "struct(_chunk AS ci, x AS cj))))"
            ),
        )
        .select(
            *block_cols,
            "vec_id",
            "embedding",
            "_chunk",
            F.col("_cc.ci").alias("_ci"),
            F.col("_cc.cj").alias("_cj"),
        )
    )
    return chunked.groupBy(*block_cols, "_ci", "_cj").applyInPandas(
        _chunk_pair_kernel, "id_a bigint, id_b bigint"
    )


def _new_vs_chunk_kernel(pdf):
    """One (cell, member-chunk) group of the incremental rectangular
    scan: ALL new rows of the cell x ONE bounded chunk of members,
    plus the new x new triangle in chunk 0 only (so each new-new pair
    emits exactly once). Candidate set identical to the unchunked
    rectangular kernel."""
    import numpy as np
    import pandas as pd

    thr = _pair_thresholds()
    empty = pd.DataFrame({"id_a": [], "id_b": []}, dtype="int64")
    new = pdf[pdf["_new"]]
    if len(new) == 0:
        return empty
    parts = []
    mem = pdf[~pdf["_new"]]
    m_new = np.stack(new["embedding"].to_numpy()).astype("float64")
    n_new = np.sqrt((m_new * m_new).sum(axis=1))
    ids_new = new["vec_id"].to_numpy()
    if len(mem) > 0:
        m_mem = np.stack(mem["embedding"].to_numpy()).astype("float64")
        n_mem = np.sqrt((m_mem * m_mem).sum(axis=1))
        cos = (m_new @ m_mem.T) / np.outer(n_new, n_mem)
        rows, cols = np.nonzero(cos >= thr)
        ia = ids_new[rows]
        ib = mem["vec_id"].to_numpy()[cols]
        keep = ia != ib
        parts.append(
            pd.DataFrame(
                {
                    "id_a": np.minimum(ia[keep], ib[keep]),
                    "id_b": np.maximum(ia[keep], ib[keep]),
                }
            )
        )
    if int(pdf["_chunk"].iloc[0]) == 0 and len(new) > 1:
        cos = (m_new @ m_new.T) / np.outer(n_new, n_new)
        ia, ib = np.triu_indices(len(new), k=1)
        keep = cos[ia, ib] >= thr
        parts.append(
            pd.DataFrame(
                {
                    "id_a": np.minimum(
                        ids_new[ia[keep]], ids_new[ib[keep]]
                    ),
                    "id_b": np.maximum(
                        ids_new[ia[keep]], ids_new[ib[keep]]
                    ),
                }
            )
        )
    if not parts:
        return empty
    return (
        pd.concat(parts, ignore_index=True)
        .drop_duplicates(ignore_index=True)
    )


def chunked_new_vs_members(
    new_df: DataFrame,
    stored_df: DataFrame | None,
    cell_col: str = "cell",
    budget: int = BLOCK_ROW_BUDGET,
) -> DataFrame:
    """(id_a, id_b) candidates between NEW vectors and (stored + new)
    cell-mates, with the STORED side chunked at ``budget`` rows per
    group — the side that grows with the corpus. The new side (one
    micro-batch) replicates to each of its cell's member chunks; at
    n_chunks = 1 (cell members fit one chunk) the plan equals the
    unchunked rectangular scan.

    Both inputs carry (vec_id, embedding, cell). ``stored_df`` = None
    is the first batch: pure new x new."""
    if budget < 2:
        raise ValueError(f"budget must be >= 2, got {budget}")
    if stored_df is None:
        counts = new_df.select(F.col(cell_col)).distinct().withColumn(
            "_n_chunks", F.lit(1)
        )
        stored_chunked = None
    else:
        touched = new_df.select(cell_col).distinct()
        stored_touched = stored_df.join(
            F.broadcast(touched), cell_col, "left_semi"
        )
        counts = (
            stored_touched.groupBy(cell_col)
            .agg(
                F.greatest(
                    F.lit(1),
                    F.ceil(F.count(F.lit(1)) / F.lit(budget)).cast("int"),
                ).alias("_n_chunks")
            )
            # Cells only the NEW batch touches have no stored rows:
            # one chunk (the new x new triangle still needs a group).
            .unionByName(
                touched.withColumn("_n_chunks", F.lit(1))
            )
            .groupBy(cell_col)
            .agg(F.max("_n_chunks").alias("_n_chunks"))
        )
        stored_chunked = (
            stored_touched.join(F.broadcast(counts), cell_col)
            .withColumn(
                "_chunk",
                F.pmod(F.xxhash64("vec_id"), F.col("_n_chunks")).cast(
                    "int"
                ),
            )
            .withColumn("_new", F.lit(False))
            .select(cell_col, "vec_id", "embedding", "_chunk", "_new")
        )
    new_rep = (
        new_df.join(F.broadcast(counts), cell_col)
        .withColumn(
            "_chunk",
            F.explode(F.expr("sequence(0, _n_chunks - 1)")),
        )
        .withColumn("_chunk", F.col("_chunk").cast("int"))
        .withColumn("_new", F.lit(True))
        .select(cell_col, "vec_id", "embedding", "_chunk", "_new")
    )
    block = (
        new_rep
        if stored_chunked is None
        else new_rep.unionByName(stored_chunked)
    )
    return block.groupBy(cell_col, "_chunk").applyInPandas(
        _new_vs_chunk_kernel, "id_a bigint, id_b bigint"
    )
