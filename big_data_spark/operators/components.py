"""Connected components as pure DataFrame iteration (no GraphFrames).

The reference depends on GraphFrames' connectedComponents
(reference: Src/dbscan.py:115-117) — an external jar we don't ship.
This is the standard alternating label-propagation algorithm: every
vertex repeatedly adopts the minimum label in its closed neighborhood
until fixpoint. Converges in O(diameter) joins; each iteration is
localCheckpoint()ed so the plan doesn't grow unboundedly (same role
as GraphFrames' mandatory checkpoint dir).

Scale: each iteration is one shuffle join edges x labels plus a
groupBy min — both AQE-managed. Label payload is one long per vertex.
For the ε-graphs this engine builds (DBSCAN cores, near-dup buckets),
components are small and diameters tiny, so iterations ~ a handful.
A trillion-edge general graph would want large-star/small-star; the
hook for that lives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from big_data_spark.lineage import truncate_lineage


def graphframes_available() -> bool:
    """True when the GraphFrames Python package is importable (the
    jar must also be on the session classpath to actually run)."""
    try:
        import graphframes  # noqa: F401
    except ImportError:
        return False
    return True


def _graphframes_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """GraphFrames-backed variant (the reference's own engine,
    Src/dbscan.py:115-117). Output is normalized to the native
    contract — component = min reachable vertex id — since
    GraphFrames emits opaque component numbers."""
    import tempfile

    from graphframes import GraphFrame

    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="graphframes_cc_")
        )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    raw = GraphFrame(v, e).connectedComponents()
    norm = raw.groupBy("component").agg(F.min("id").alias("min_id"))
    return raw.join(norm, "component").select(
        "id", F.col("min_id").alias("component")
    )


def _sym(e: DataFrame) -> DataFrame:
    """Both directions of an edge set, deduped, no self-loops —
    large/small-star's canonical working representation."""
    return (
        e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_components(
    edges: DataFrame, src: str, dst: str, max_iterations: int
) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014) — the
    trillion-edge scale path the label-propagation loop's docstring
    promises.

    Why it scales where pointer doubling strains: each round only
    re-wires edges toward per-neighborhood minima, so the working
    edge set stays O(|E|) with bounded degree growth, every step is
    groupBy-min + join (map-side combinable, AQE-skew-splittable),
    and convergence is O(log n) rounds on ANY graph shape — no
    label table hot-spotting on high-degree components.

    large-star: every neighbor v > u re-attaches to
    m(u) = min(neighborhood(u) ∪ {u}); small-star: every neighbor
    v <= u (and u itself) attaches to m(u). At the fixpoint the
    graph is a disjoint union of stars rooted at component minima.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = truncate_lineage(_sym(raw), eager=True)
    # Vertex set from the RAW edges: _sym drops self-loops, and the
    # API contract says isolated vertices arrive as self-loops — they
    # must still appear in the output (as their own component).
    vertices = truncate_lineage(
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct(),
        eager=True,
    )

    def nbr_min(s: DataFrame) -> DataFrame:
        return s.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    converged = False
    for _ in range(max_iterations):
        m = nbr_min(e)
        large = (
            e.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ls = _sym(large)
        m2 = nbr_min(ls)
        small = (
            ls.join(m2, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
        )
        # Lazy: the fixpoint count below materializes the truncated
        # RDD in the same job (one action per round, not two).
        new_e = truncate_lineage(_sym(small))
        # Fixpoint: the canonical symmetric edge sets are equal.
        # Both are distinct sets, so equal counts + empty one-way
        # difference => equality; each check is one bounded action.
        if (
            new_e.count() == e.count()
            and new_e.exceptAll(e).limit(1).count() == 0
        ):
            e = new_e
            converged = True
            break
        e = new_e
    if not converged:
        # The post-loop min-neighbor root mapping is only valid on a
        # CONVERGED star graph — returning it early would silently
        # split components. Match the native pointer-doubling
        # implementation's contract and fail loudly (round-6 advice).
        raise RuntimeError(
            f"star connected-components did not converge within "
            f"{max_iterations} iterations — raise max_iterations "
            "(rounds needed are O(log^2 n))"
        )
    # Star fixpoint: every edge points at (or from) the component
    # root; isolated-in-input vertices (self-loops dropped by _sym)
    # fall back to themselves via the left join.
    root = (
        e.groupBy("u").agg(F.min("v").alias("nbr_min"))
        .select("u", F.col("nbr_min"))
    )
    return (
        vertices.join(root, vertices.id == root.u, "left")
        .select(
            "id",
            F.least(
                F.col("id"), F.coalesce("nbr_min", F.col("id"))
            ).alias("component"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    impl: str = "native",
) -> DataFrame:
    """Components of an undirected graph.

    edges: DataFrame with two id columns (longs or strings; any
    orderable type). Isolated vertices should be passed as self-loops
    (src == dst) if they must appear in the output.

    impl: 'native' (default — the pointer-doubling DataFrame loop
    below, no external deps), 'star' (alternating large-star /
    small-star — the trillion-edge scale path; see
    _star_components), 'graphframes' (requires the GraphFrames
    package + jar, the reference's engine), or 'auto' (graphframes
    when importable, else native). All return the same contract.

    Returns (id, component) where component = min vertex id reachable.
    """
    if impl == "auto":
        impl = "graphframes" if graphframes_available() else "native"
    if impl == "graphframes":
        return _graphframes_components(edges, src, dst)
    if impl == "star":
        return _star_components(edges, src, dst, max_iterations)
    if impl != "native":
        raise ValueError(f"unknown connected_components impl: {impl!r}")
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
