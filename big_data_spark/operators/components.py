"""Connected components as pure DataFrame iteration (no GraphFrames).

The reference depends on GraphFrames' connectedComponents
(reference: Src/dbscan.py:115-117) — an external jar we don't ship.
This is min-label propagation with pointer doubling: every vertex
repeatedly adopts the minimum label in its closed neighborhood, then
the label of its label, until fixpoint. Converges in O(log diameter)
rounds; each iteration is localCheckpoint()ed so the plan doesn't
grow unboundedly (same role as GraphFrames' mandatory checkpoint dir).

Scale: each iteration is one shuffle join edges x labels plus a
groupBy min — both AQE-managed. Label payload is one long per vertex.
For the ε-graphs this engine builds (DBSCAN cores, near-dup buckets),
components are small and diameters tiny, so iterations ~ a handful.
Alternating large-star/small-star (Kiveris et al., 2014) measured
2.1x slower than this loop and was removed (PERF.md "Connected
components").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from big_data_spark.lineage import truncate_lineage


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Components of an undirected graph.

    edges: DataFrame with two id columns (longs or strings; any
    orderable type). Isolated vertices should be passed as self-loops
    (src == dst) if they must appear in the output.

    Returns (id, component) where component = min vertex id reachable.
    """
    # Materialize the edge list once: every iteration joins against it,
    # and without truncation each join would recompute the producer's
    # full lineage (LSH joins, upstream shuffles) per iteration.
    sym = truncate_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        eager=True,
    )
    # Start from the closed-neighbourhood minimum rather than each
    # vertex's own id: the same first propagation step, paid in the
    # grouping that lists the vertices anyway, so one round fewer.
    labels = truncate_lineage(
        sym.groupBy("a").agg(
            F.least(F.col("a"), F.min("b")).alias("component")
        ).withColumnRenamed("a", "id"),
        eager=True,
    )
    for _ in range(max_iterations):
        # 1-hop: adopt the minimum label among neighbors.
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        one_hop = labels.join(
            neighbor_min, labels.id == neighbor_min.a, "left"
        ).select(
            "id",
            F.col("component").alias("prev_component"),
            F.least("component", F.coalesce("nbr_component", "component")).alias(
                "comp1"
            ),
        )
        # Pointer doubling: also adopt the label of one's current
        # label — turns O(diameter) convergence into O(log diameter)
        # (a 30-link chain: ~5 rounds instead of 30).
        lab2 = one_hop.select(
            F.col("id").alias("_lid"), F.col("comp1").alias("_lcomp")
        )
        # Lazy truncation fused with the convergence count: the count
        # action below is the job that computes (and caches) the
        # truncated RDD, so each iteration pays ONE action instead of
        # two (eager-materialize + count) — measured one full job of
        # pure overhead per iteration at bench scale (round 14).
        updated = truncate_lineage(
            one_hop.join(lab2, one_hop.comp1 == lab2._lid, "left")
            .select(
                "id",
                "prev_component",
                F.least("comp1", F.coalesce("_lcomp", "comp1")).alias("component"),
            ),
        )
        n_changed = updated.filter(
            F.col("component") < F.col("prev_component")
        ).count()
        labels = updated.drop("prev_component")
        if n_changed == 0:
            return labels
    # Exhausting the loop would mean silently-wrong (split) components;
    # with pointer doubling 50 rounds covers diameters up to ~2^50, so
    # reaching here indicates a bug or a pathological input worth a
    # loud failure, never a partial answer.
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )
