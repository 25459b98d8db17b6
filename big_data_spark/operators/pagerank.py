"""PageRank as pure DataFrame iteration — the weighted-importance
twin of the label-propagation connected components
(operators/components.py), and the template for any fixed-point
computation done Spark-right:

- the build phase is TWO jobs: one eager checkpoint of the
  degree-annotated edge table (degree via a window over the deduped
  edges — no build join), one eager checkpoint of the vertex table
  whose single aggregate also answers "how many vertices" and "does
  any dangling vertex exist" (a dangling probe as a separate
  anti-join job was measured at +2 jobs per run for nothing);
- each iteration is ONE shuffle: per-edge contributions union a
  zero row per vertex, grouped by destination (map-side combinable
  sum). The union replaces the textbook second join
  (vertices LEFT JOIN contribs) that only existed to resurrect
  contribution-less vertices — the zero rows do that inside the
  SAME aggregate — and is SKIPPED outright when the build-time
  vertex aggregate proves no vertex lacks in-edges (any symmetrized
  graph): then the union is a data no-op that would still cost a
  vertex-table scan stage per iteration.
  The ranks side of the contribution join is hinted
  broadcast ONLY when the driver-known vertex count is under
  ``broadcast_vertices`` — the count is already on the driver, so
  the gate costs nothing, and a forced broadcast of a billion-vertex
  rank table would fail outright at scale (never hint blind);
- dangling mass (vertices with no out-edges) is collected as a
  1-row aggregate and redistributed uniformly — without it the
  ranks leak and stop summing to 1. On a dangling-free graph (e.g.
  any symmetrized one) the probe is free (see above) and the
  per-iteration aggregate disappears entirely;
- lineage is truncated every ``truncate_every`` iterations through
  the session knob (big_data_spark.lineage) — an un-truncated
  20-iteration plan is exponentially large and the reason naive
  DataFrame PageRank falls over, but a checkpoint EVERY iteration
  buys nothing except one scheduled job per round (the dominant
  cost at small scale);
- convergence is count-based (how many vertices moved more than
  ``tol``), checked every ``check_every`` rounds so the job isn't
  action-bound each step — a scalar count is the only thing that
  ever reaches the driver, same discipline as components().
  ``tol=0`` disables the checks: a FROZEN iteration count, the mode
  cross-engine oracles need (queries/relational.py pagerank_topn).

At 100 TB the edge table is the big side: pre-partition edges by src
once (they are iteration-invariant), and every per-iteration join
co-locates on that partitioning; ranks are the small, changing side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_spark.lineage import truncate_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    check_every: int = 5,
    truncate_every: int = 2,
    broadcast_vertices: int = 5_000_000,
) -> DataFrame:
    """(vertex, rank) with ranks summing to 1. Directed edges;
    duplicate edges count once (dedup is explicit below so callers
    can't silently double-weight).

    Stops at ``max_iter`` or when NO vertex's rank moved more than
    ``tol`` over one iteration (checked every ``check_every``
    iterations — each check is an extra action). ``tol=0`` runs
    exactly ``max_iter`` iterations with no convergence actions.

    ``broadcast_vertices``: hint the rank table broadcast in the
    per-iteration join while the vertex count stays under this bound
    (a rank row is ~16 bytes, so the default ~5M rows is ~80 MB —
    executor-safe); above it, AQE picks the strategy."""
    # Checkpoint the degree-annotated deduped edge list FIRST: the
    # vertex table and every per-iteration join derive from it —
    # untruncated, each would replay the caller's full edge
    # derivation (scans, joins, unions). Degree comes from a window
    # over the same shuffle-by-src the dedup already did, not a
    # groupBy+self-join.
    ed = truncate_lineage(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        ),
        eager=True,
    )
    # One vertex table answering membership AND "is it a source":
    # dangling vertices are exactly those never appearing as src, so
    # the max(is_src) flag makes the dangling probe part of the same
    # single aggregate that counts vertices — no separate probe job.
    verts = truncate_lineage(
        ed.select(F.col("src").alias("v"), F.lit(1).alias("is_src"))
        .unionByName(ed.select(F.col("dst").alias("v"), F.lit(0).alias("is_src")))
        .groupBy("v")
        # min(is_src)=1 <=> the vertex NEVER appears as a dst, i.e.
        # it has no in-edges — the only vertices the per-iteration
        # zero-row union exists to resurrect (see below). Same single
        # aggregate, so the probe is free.
        .agg(
            F.max("is_src").alias("is_src"),
            F.min("is_src").alias("only_src"),
        ),
        # Lazy on purpose: the counts aggregate right below is the
        # materializing job (it reads every vertex anyway), so the
        # build phase pays two actions, not three.
    )
    counts = verts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(1 - F.col("is_src")).alias("n_dangling"),
        F.sum("only_src").alias("n_no_in"),
    ).first()
    n = counts["n"]
    if n == 0:
        return verts.select(F.col("v").alias("vertex"), F.lit(0.0).alias("rank"))
    has_dangling = (counts["n_dangling"] or 0) > 0
    # A vertex with no in-edges receives no contribution row, so the
    # groupBy would drop it from the rank table entirely — the zero
    # union keeps it alive. When NO vertex lacks in-edges (e.g. any
    # symmetrized graph), the union is provably a data no-op, yet it
    # costs a scan stage of the vertex table EVERY iteration — skip
    # it (interleaved A/B at sf0.1, medians 3.98 vs 4.16 s over 6
    # pairs, rows bit-identical).
    has_no_in = (counts["n_no_in"] or 0) > 0
    vertices = verts.select("v")
    zero = vertices.select("v", F.lit(0.0).alias("c"))
    ranks = vertices.select("v", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    # Per-iteration reduce width tracks the DATA (guide §2.1), not the
    # session's shuffle-partition count: the aggregate's output is
    # exactly |V| rows (~16 bytes each), so a million-vertex graph
    # needs ONE reduce partition, not spark.sql.shuffle.partitions of
    # them — at bench scale that is 8 iterations x 32 near-empty
    # reduce tasks of pure launch overhead. coalesce (NOT repartition:
    # an explicit repartition before the groupBy would satisfy the
    # aggregate's distribution and silence the map-side partial
    # aggregation, shuffling |E| contribution rows instead of partial
    # sums) merges the post-shuffle partitions, so the map-side
    # combine and the shuffle itself are untouched. The vertex count
    # is already on the driver for the broadcast gate, so the sizing
    # is free and scale-adaptive — a billion-vertex graph still gets
    # hundreds of reduce partitions.
    agg_parts = max(1, -(-n // 2_000_000))
    for it in range(max_iter):
        r = F.broadcast(ranks) if n <= broadcast_vertices else ranks
        contribs = ed.join(r, ed.src == r.v).select(
            F.col("dst").alias("v"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        if has_no_in:
            contribs = contribs.unionByName(zero)
        contribs = (
            contribs.groupBy("v")
            .agg(F.sum("c").alias("contrib"))
            .coalesce(agg_parts)
        )
        if has_dangling:
            # Dangling vertices (no out-edges) spread their rank evenly.
            dangling = (
                ranks.join(
                    verts.filter(F.col("is_src") == 0).select("v"), "v", "left_semi"
                ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            new_ranks = contribs.crossJoin(F.broadcast(dangling)).select(
                "v",
                (
                    base
                    + damping * (F.col("contrib") + F.col("dm") / n)
                ).alias("rank"),
            )
        else:
            new_ranks = contribs.select(
                "v",
                (base + damping * F.col("contrib")).alias("rank"),
            )
        check = tol > 0 and (
            (it + 1) % check_every == 0 or it == max_iter - 1
        )
        if check or (it + 1) % truncate_every == 0 or it == max_iter - 1:
            new_ranks = truncate_lineage(new_ranks)
        if check:
            moved = (
                new_ranks.join(ranks.withColumnRenamed("rank", "prev"), "v")
                .filter(F.abs(F.col("rank") - F.col("prev")) > tol)
                .count()
            )
            ranks = new_ranks
            if moved == 0:
                break
        else:
            ranks = new_ranks
    return ranks.select(F.col("v").alias("vertex"), "rank")
