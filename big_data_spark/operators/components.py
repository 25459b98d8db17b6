"""Connected components (no GraphFrames): one driver union-find for a
small graph, DataFrame min-label rounds for the rest.

The reference depends on GraphFrames' connectedComponents
(reference: Src/dbscan.py:115-117) — an external jar we don't ship.

Which path runs is decided from the size of the materialized edge
list, seen at run time: an ``Observation`` on the job that already
materializes it counts its rows, so the check costs no extra job.

- At most ``SMALL_GRAPH_ROWS`` rows: the rows are collected and
  labelled by :func:`dbscan_labels`, a plain-Python union-find, and
  the answer comes back as a one-partition DataFrame. Kiveris et al.,
  "Connected Components in MapReduce and Beyond" (SoCC 2014), finish
  small graphs in memory the same way.
- Above it: min-label propagation with pointer doubling. Every vertex
  repeatedly adopts the minimum label in its closed neighborhood, then
  the label of its label, until fixpoint. Converges in O(log diameter)
  rounds; each round is truncated so the plan doesn't grow unboundedly
  (same role as GraphFrames' mandatory checkpoint dir). Each round is
  one shuffle join edges x labels plus a groupBy min — both
  AQE-managed; the label payload is one value per vertex.

In the ``none`` checkpoint mode nothing is materialized, the size is
never observed, and the rounds run. Alternating large-star/small-star
(Kiveris et al., 2014) measured 2.1x slower than the rounds and was
removed (PERF.md "Connected components").
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from big_data_spark.lineage import CHECKPOINT_MODE_KEY, truncate_lineage
from big_data_spark.session import driver_frame

# The most rows a materialized edge list may hold and still be
# labelled on the driver. Fixed by a sweep of edge counts on a 4-core
# host, below the measured crossover with the Spark rounds (PERF.md
# "Small-input path").
SMALL_GRAPH_ROWS = 50_000


def dbscan_labels(pairs: Iterable[tuple], min_pts: int = 1) -> dict:
    """DBSCAN over an undirected pair list, by one union-find.

    Returns ``{vertex: (component, is_core)}``. A vertex is core when
    its distinct neighbours plus itself number at least ``min_pts``.
    A core's component is the minimum core id of its core-core
    component; a border vertex (non-core with a core neighbour) takes
    the minimum component among its core neighbours; noise is
    omitted. A self-pair only registers its vertex. With
    ``min_pts=1`` every vertex is core, so this is connected
    components labelled by their minimum id.
    """
    nbrs: dict = {}
    for a, b in pairs:
        na = nbrs.setdefault(a, set())
        nb = nbrs.setdefault(b, set())
        if a != b:
            na.add(b)
            nb.add(a)
    parent = {v: v for v, ns in nbrs.items() if len(ns) + 1 >= min_pts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # Linking the larger root under the smaller keeps every root the
    # minimum of its set, so find() is the min-id label.
    for v in parent:
        for w in nbrs[v]:
            if w in parent:
                rv, rw = find(v), find(w)
                if rv != rw:
                    parent[max(rv, rw)] = min(rv, rw)
    labels = {v: (find(v), True) for v in parent}
    for v, ns in nbrs.items():
        if v not in parent:
            core_comps = [labels[w][0] for w in ns if w in parent]
            if core_comps:
                labels[v] = (min(core_comps), False)
    return labels


def materialize_edges(edges: DataFrame) -> tuple[DataFrame, list | None]:
    """Materialize ``edges`` once (an eager lineage truncation) and,
    when it holds at most ``SMALL_GRAPH_ROWS`` rows, return its rows
    too; otherwise the rows are None. The row count is an Observation
    filled by the materializing job itself. In the ``none`` checkpoint
    mode no job runs, the Observation never fills, and the rows are
    None without waiting on it."""
    obs = Observation()
    out = truncate_lineage(
        edges.observe(obs, F.count(F.lit(1)).alias("n")), eager=True
    )
    if edges.sparkSession.conf.get(CHECKPOINT_MODE_KEY, "local") == "none":
        return out, None
    if obs.get["n"] > SMALL_GRAPH_ROWS:
        return out, None
    return out, out.collect()


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
    A symmetrized edge list of at most ``SMALL_GRAPH_ROWS`` rows is
    labelled on the driver; a larger one runs the Spark rounds.
    """
    # Materialize the edge list once: every round joins against it,
    # and without truncation each join would recompute the producer's
    # full lineage (LSH joins, upstream shuffles) per round.
    sym, rows = materialize_edges(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    if rows is not None:
        id_type = sym.schema["a"].dataType
        return driver_frame(
            sym.sparkSession,
            [(v, comp) for v, (comp, _) in dbscan_labels(rows).items()],
            StructType(
                [StructField("id", id_type), StructField("component", id_type)]
            ),
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
        # truncated RDD, so each round pays ONE action instead of two
        # (eager-materialize + count).
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
