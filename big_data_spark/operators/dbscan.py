"""DataFrame-native DBSCAN over a precomputed ε-edge list.

Replaces the reference's RDD pipeline (reference: Src/dbscan.py:84-123:
random-pivot ring partitioning -> per-ring O(n²) scan -> label merge ->
GraphFrames CC). That design (a) picks a random pivot (nondeterministic),
(b) materializes whole rings on single tasks (skew/OOM), and (c) its
triangle-inequality pruning is void anyway because the dict-lookup
distance (missing pair -> 1, Src/dbscan.py:125-134) violates the
triangle inequality. Here the ε-neighborhood graph IS the input —
produced by an LSH similarity join (operators.clustering) or any exact
pair query — so DBSCAN reduces to degree counting plus connected
components:

- core point:  |N_ε(p)| + 1 >= min_pts        (Src/dbscan.py:53-55)
- clusters:    connected components of core-core ε-edges
- border:      non-core with a core neighbor; joins its minimum core
               neighbor's component (deterministic; the reference takes
               whichever label arrived first, Src/dbscan.py:81)
- noise:       dropped, as in the reference (label() returns [])

Scale: the symmetrized edge list is materialized once, and its row
count, observed by that same job, picks the path. At most
``components.SMALL_GRAPH_ROWS`` rows are collected and labelled on the
driver by ``components.dbscan_labels`` (one union-find). Above that,
degree = one groupBy over edges and the Spark components rounds touch
only core-core edges. No ring materialization, no driver-held
distances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from big_data_spark.operators.components import (
    connected_components,
    dbscan_labels,
    materialize_edges,
)
# Not called here (components.materialize_edges truncates the edge
# list); the traced benchmark run (perfbench/pipeline.py) patches
# this name, so it must exist.
from big_data_spark.lineage import truncate_lineage  # noqa: F401
from big_data_spark.session import driver_frame


def dbscan_from_edges(
    edges: DataFrame,
    min_pts: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """DBSCAN labels from an undirected ε-neighborhood edge list.

    ``edges`` holds one row per unordered pair (a, b), a != b, with
    dist(a, b) < ε already enforced by the producer.

    Returns (point, component, core_point).
    """
    # Materialize up front: the edge producer is typically an LSH join
    # chain, and sym feeds degree counting, core-core edges AND the
    # components rounds — recomputing it per use would multiply the
    # whole upstream pipeline.
    sym, rows = materialize_edges(
        edges.select(F.col(id_a).alias("p"), F.col(id_b).alias("q"))
        .unionByName(edges.select(F.col(id_b).alias("p"), F.col(id_a).alias("q")))
        .distinct()
    )
    if rows is not None:
        id_type = sym.schema["p"].dataType
        return driver_frame(
            sym.sparkSession,
            [
                (v, comp, core)
                for v, (comp, core) in dbscan_labels(rows, min_pts).items()
            ],
            StructType(
                [
                    StructField("point", id_type),
                    StructField("component", id_type),
                    StructField("core_point", BooleanType()),
                ]
            ),
        )
    degree = sym.groupBy("p").agg(F.count(F.lit(1)).alias("n_neighbors"))
    cores = degree.filter(F.col("n_neighbors") + 1 >= min_pts).select("p")

    core_edges = (
        sym.join(cores.withColumnRenamed("p", "cp"), sym.p == F.col("cp"))
        .drop("cp")
        .join(cores.withColumnRenamed("p", "cq"), sym.q == F.col("cq"))
        .select(F.col("p").alias("src"), F.col("q").alias("dst"))
    )
    # Self-loops keep isolated cores (a core whose neighbors are all
    # border points still forms its own cluster).
    core_vertices = cores.select(F.col("p").alias("src"), F.col("p").alias("dst"))
    core_components = connected_components(
        core_edges.unionByName(core_vertices)
    ).withColumnRenamed("id", "core_id")

    core_labeled = (
        cores.join(core_components, cores.p == F.col("core_id"))
        .select("p", "component", F.lit(True).alias("core_point"))
    )
    # Border: non-core points adjacent to >=1 core; take the minimum
    # core neighbor's component (deterministic tie-break).
    core_component_of_q = core_labeled.select(
        F.col("p").alias("q"), F.col("component")
    )
    border_labeled = (
        sym.join(cores.select(F.col("p").alias("_corep")), sym.p == F.col("_corep"), "left_anti")
        .join(core_component_of_q, on="q")
        .groupBy("p")
        .agg(F.min("component").alias("component"))
        .withColumn("core_point", F.lit(False))
    )
    return core_labeled.unionByName(border_labeled).withColumnRenamed("p", "point")
