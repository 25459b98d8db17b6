"""Multi-source shortest paths (BFS hop counts) as DataFrame
iteration — the GraphFrames ``shortestPaths`` API surface
(landmark-distance vectors) without the jar, completing the graph
family next to components(), pagerank() and triangle counting.

The reference's graph work stops at connected components
(/root/reference/Src/dbscan.py:109-117); landmark distances are the
natural next question over the same edge tables (how far is every
vertex from the hub accounts?) and the shape every
graph-in-a-relational-engine system exposes.

Algorithm: DELTA-frontier BFS relaxation. State is
(v, landmark, dist); each round expands only the FRONTIER — the
(vertex, landmark) pairs whose distance improved last round — through
one join against the edge table, then folds improvements back with a
groupBy-min and an anti-join against already-settled pairs. Hop
distances only ever improve once per pair (BFS layers), so each pair
enters the frontier exactly once and total work is O(|E| x L /
cluster) summed over ALL rounds — the textbook reason delta iteration
beats full re-relaxation (which would re-join every settled pair
every round). Rounds = graph diameter, same as components().

Scale notes (100 TB): the edge table is iteration-invariant — one
eager checkpoint up front, then every round joins against the same
materialized table (pre-partition by ``dst`` on a cluster and every
round's shuffle co-locates). State and frontier are (long, long, int)
triples; L landmarks multiply state linearly, so keep L small (the
API takes an explicit landmark list, not "all vertices"). The only
driver-visible value per round is the frontier count — the loop's
stop condition — never vertex data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_spark.lineage import truncate_lineage


def shortest_paths(
    edges: DataFrame,
    landmarks: list[int],
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
) -> DataFrame:
    """(vertex, landmark, dist): minimum number of FORWARD hops
    (following edge direction src->dst) from ``vertex`` to each
    landmark it can reach, up to ``max_hops``. Unreachable pairs are
    absent (inner semantics). Symmetrize the edge list first for
    undirected distance.

    Deterministic and iteration-frozen by construction (pure function
    of the edge set, no RNG, no convergence tolerance), so results
    are cross-engine checkable against a recursive-CTE oracle
    (queries/relational.py shortest_paths).
    """
    if not landmarks:
        raise ValueError("shortest_paths needs at least one landmark")
    # Dedupe: a repeated landmark would seed duplicate (v, v, 0) rows
    # that survive to the output (the frontier groupBy dedups
    # expansions, not the seeds).
    landmarks = sorted(set(landmarks))
    e = truncate_lineage(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct(),
        eager=True,
    )
    spark = edges.sparkSession
    # Settled pairs so far; starts at dist 0 (each landmark to itself).
    # One slice: the list form would parallelize the handful of seed
    # rows into defaultParallelism near-empty partitions.
    settled = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(x), int(x), 0) for x in landmarks], 1
        ),
        "v bigint, landmark bigint, dist int",
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        # Expand the frontier one hop BACKWARD along edges: a vertex u
        # with an edge u->w reaches w's landmarks in dist(w)+1.
        candidates = (
            e.join(frontier.withColumnRenamed("v", "dst"), "dst")
            .select(
                F.col("src").alias("v"),
                "landmark",
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
            .groupBy("v", "landmark")
            .agg(F.min("dist").alias("dist"))
        )
        # BFS invariant: any pair already settled has a <= distance,
        # so improvements are exactly the never-seen pairs.
        frontier = truncate_lineage(
            candidates.join(settled, ["v", "landmark"], "left_anti"),
            eager=True,
        )
        if frontier.isEmpty():
            break
        # Each frontier leaf is already checkpointed; the settled set
        # is a lazy union of materialized layers (linear plan depth in
        # rounds, no re-write of old layers each round).
        settled = frontier.unionByName(settled)
    return settled.select(F.col("v").alias("vertex"), "landmark", "dist")
