"""End-to-end process-grouping pipeline (the reference's main program).

Part 1 (reference: Src/main.py:13-45 + Src/processes.py:228-303):
group *identical* processes — same cluster-relabeled Euler string —
and emit grouped logs + a human-readable observations report.

Part 2 (Src/processes.py:305-404): group *similar* processes — LSH
pre-clustering over element sets, then edit-distance DBSCAN on Euler
strings inside each LSH cluster.

Determinism deltas from the reference (each documented inline):
- group ids are distributed dense ids over the group key
  (operators.ids), not monotonically_increasing_id (stable across
  runs/partitionings, no single-partition window);
- 'first time per edge' is min(time) instead of first() after a
  global orderBy (the reference's order-survives-groupBy assumption
  is unspecified behavior);
- LSH models are seeded; DBSCAN is the ε-graph design (no random
  pivot); border points attach to their minimum core neighbor.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_spark.functions.tree import logs_with_depth, process_encodings
from big_data_spark.lineage import truncate_lineage
from big_data_spark.operators.clustering import (
    DEFAULT_SEED,
    cluster_logs,
    cluster_servers,
    similarity_edges,
)
from big_data_spark.operators.connections import server_connections
from big_data_spark.operators.components import dbscan_labels, materialize_edges
from big_data_spark.operators.dbscan import dbscan_from_edges
from big_data_spark.operators.editdist import edit_distance
from big_data_spark.operators.ids import dense_ids
from big_data_spark.session import driver_frame


def cluster_process_encodings(cluster_logs_df: DataFrame) -> DataFrame:
    """cluster_request_path / cluster_euler_string per process.

    The reference relabels the already-built strings token-by-token
    through a broadcast dict UDF (Src/processes.py:170-191); since the
    encodings are pure functions of the (relabeled) event stream, we
    just re-run the encoder over the cluster-labeled logs."""
    renamed = cluster_logs_df.select(
        "process_id",
        "time",
        "action",
        F.col("cluster_from").alias("state_from"),
        F.col("cluster_to").alias("state_to"),
    )
    enc = process_encodings(renamed)
    return enc.select(
        "process_id",
        F.col("request_path").alias("cluster_request_path"),
        F.col("euler_string").alias("cluster_euler_string"),
    )


def process_elements(cluster_logs_df: DataFrame) -> DataFrame:
    """Per-process element set: for each requester cluster, the list
    of requested clusters — 'FROM:TO1,TO2' strings (reference:
    Src/processes.py:195-226, built there via collect+broadcast+UDF;
    here one aggregation chain). Lists are time-ordered (the
    reference's collect_list order after its join is whatever the
    shuffle produced; we pin event-time order)."""
    requests = cluster_logs_df.filter(F.col("action") == "Request")
    per_from = (
        requests.groupBy("process_id", "cluster_from")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("time", "cluster_to"))),
                lambda s: s["cluster_to"],
            ).alias("cluster_to_list")
        )
        .withColumn(
            "element",
            F.concat(
                F.col("cluster_from"),
                F.lit(":"),
                F.array_join("cluster_to_list", ","),
            ),
        )
    )
    return per_from.groupBy("process_id").agg(
        F.array_sort(F.collect_list("element")).alias("cluster_elements")
    )


def equal_process_groups(processes_df: DataFrame) -> DataFrame:
    """Group identical processes by cluster_euler_string
    (Src/processes.py:230-232). group_processes_id is a distributed
    dense id (operators.ids) — deterministic, unlike
    monotonically_increasing_id, and without the single-partition
    global window a plain dense_rank would need."""
    groups = processes_df.groupBy("cluster_euler_string").agg(
        F.sort_array(F.collect_list("process_id")).alias("equal_processes")
    )
    ids = dense_ids(
        groups.select("cluster_euler_string"),
        "cluster_euler_string",
        out_col="group_processes_id",
    )
    return groups.join(ids, on="cluster_euler_string")


def grouped_logs(cluster_logs_df: DataFrame, groups_df: DataFrame) -> DataFrame:
    """Part-1 JSON output: one representative log stream per group
    (Src/processes.py:234-257): endpoints are cluster ids, time is the
    min over the group per (edge, action), process_id is the group id."""
    exploded = groups_df.select(
        "group_processes_id", F.explode("equal_processes").alias("process_id")
    )
    joined = cluster_logs_df.join(exploded, on="process_id", how="left")
    return (
        joined.select(
            F.col("cluster_from").alias("state_from"),
            F.col("cluster_to").alias("state_to"),
            F.col("time").cast("int").alias("time"),
            "action",
            F.col("group_processes_id").alias("process_id"),
        )
        .groupBy("process_id", "state_from", "state_to", "action")
        .agg(F.min("time").alias("time"))
        .select("state_from", "state_to", "time", "action", "process_id")
        .orderBy("time", "process_id", "state_from", "state_to", "action")
    )


def _members_repr(col: str) -> F.Column:
    """Python-list-repr of a string array: ['a', 'b']."""
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(col, lambda x: F.concat(F.lit("'"), x, F.lit("'"))), ", "),
        F.lit("]"),
    )


def observations_text(cluster_logs_df: DataFrame, groups_df: DataFrame) -> DataFrame:
    """Part-1 observations report (one 'text' column; replaces the
    three string UDFs at Src/processes.py:262-303 with format_string/
    concat aggregation). Rows within a process are time-ordered via
    sort_array, not a pre-groupBy orderBy."""
    # Only the (group id, process id) pair rides the wide join/groupBy;
    # the equal_processes ARRAY (every member name) joins back at group
    # grain at the end — carrying it per log row would replicate a
    # ~group-size array onto every event in the shuffle payload.
    exploded = groups_df.select(
        "group_processes_id", F.explode("equal_processes").alias("process_id")
    )
    joined = cluster_logs_df.join(exploded, on="process_id")
    per_process = (
        joined.groupBy("process_id")
        .agg(
            F.any_value("group_processes_id").alias("group_processes_id"),
            F.concat(
                F.format_string("%s: \n", F.col("process_id")),
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    "time", "cluster_from", "cluster_to", "action"
                                )
                            )
                        ),
                        lambda s: F.format_string(
                            "      {'server_from': '%s', 'server_to': '%s',"
                            " 'time': %s, 'action': '%s', 'process_id': %s},\n",
                            s["cluster_from"],
                            s["cluster_to"],
                            s["time"].cast("string"),
                            s["action"],
                            F.col("process_id"),
                        ),
                    ),
                    "",
                ),
            ).alias("process_text"),
        )
    )
    bodies = per_process.groupBy("group_processes_id").agg(
        F.array_join(F.sort_array(F.collect_list("process_text")), "").alias(
            "body"
        )
    )
    return (
        bodies.join(
            groups_df.select("group_processes_id", "equal_processes"),
            on="group_processes_id",
        )
        .select(
            "group_processes_id",
            F.format_string(
                "Group %s: %s \n %s",
                F.col("group_processes_id").cast("string"),
                _members_repr("equal_processes"),
                F.col("body"),
            ).alias("text"),
        )
    )


# ---------------------------------------------------------------------
# Part 2: similar processes
# ---------------------------------------------------------------------

_LOCAL_DBSCAN_SCHEMA = StructType(
    [
        StructField("group_processes_id", LongType()),
        StructField("minhash_cluster", LongType()),
        StructField("ped_cluster", LongType()),
        StructField("is_core", StringType()),
    ]
)


def _local_edit_dbscan(
    ids: list, strings: list[str], minhash_cluster, epsilon: float, min_pts: int
) -> list[tuple]:
    """Edit-distance DBSCAN inside one LSH cluster: all pairs within
    ``epsilon`` labelled by ``components.dbscan_labels``. Returns
    ``_LOCAL_DBSCAN_SCHEMA`` rows.

    The reference launches a full Spark job chain per LSH cluster from
    a driver loop (Src/processes.py:347-359); each cluster is small by
    construction, so one call labels a whole cluster in one place."""
    n = len(ids)
    pairs = [(ids[i], ids[i]) for i in range(n)] + [
        (ids[i], ids[j])
        for i in range(n)
        for j in range(i + 1, n)
        if edit_distance(strings[i], strings[j]) < epsilon
    ]
    return [
        (v, minhash_cluster, comp, "core" if core else "border")
        for v, (comp, core) in dbscan_labels(pairs, min_pts).items()
    ]


def similar_process_groups(
    groups_with_elements: DataFrame,
    lsh_threshold: float = 0.5,
    lsh_min_pts: int = 2,
    edit_epsilon: float = 6,
    edit_min_pts: int = 2,
    num_features: int = 512,
    seed: int = DEFAULT_SEED,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Part 2 (Src/processes.py:305-399): MinHash-LSH DBSCAN over
    element sets, then per-LSH-cluster edit-distance DBSCAN.

    Input: one row per equal-process group with group_processes_id,
    cluster_euler_string, cluster_elements.
    Returns (group_processes_id, minhash_cluster, ped_cluster, is_core).

    The ε-edges and every group's cluster_euler_string are
    materialized once, as one graph, and its observed size picks the
    plan. At most ``components.SMALL_GRAPH_ROWS`` rows (edges plus
    groups): they are collected, the edges labelled by one union-find,
    and every LSH cluster's edit-distance DBSCAN runs on the driver;
    the answer is a one-partition DataFrame. Above that: graph DBSCAN
    in Spark rounds (operators.dbscan), then one ``applyInPandas`` task
    per LSH cluster.

    ``edges`` overrides the ε-neighborhood graph: pass a precomputed
    (id_a, id_b) pair DataFrame — e.g. an exact-Jaccard inverted-index
    join — and the seeded MinHashLSH stage is skipped while everything
    downstream (graph DBSCAN, per-cluster edit-distance DBSCAN) runs
    unchanged. This is how the cross-engine driver row
    (queries.relational.q_pipeline_part2_groups) makes the stage
    oracle-checkable: ML MinHash signatures are not replayable in
    ANSI SQL, but the exact neighborhood they approximate is.
    """
    if edges is None:
        edges = similarity_edges(
            groups_with_elements,
            id_col="group_processes_id",
            features_col="cluster_elements",
            threshold=lsh_threshold,
            num_features=num_features,
            seed=seed,
        )
    # One materialized graph: a row per ε-edge (id_a, id_b) and a row
    # per group (id_a, cluster_euler_string; id_b null). The group rows
    # come out of the job that runs the LSH chain, so the strings cost
    # no second pass over the groups.
    graph, rows = materialize_edges(
        edges.select(
            "id_a", "id_b", F.lit(None).cast("string").alias("cluster_euler_string")
        ).unionByName(
            groups_with_elements.select(
                F.col("group_processes_id").alias("id_a"),
                F.lit(None).cast("long").alias("id_b"),
                "cluster_euler_string",
            )
        )
    )
    if rows is not None:
        string_of = {r.id_a: r.cluster_euler_string for r in rows if r.id_b is None}
        members: dict = {}
        for v, (mh, _) in dbscan_labels(
            ((r.id_a, r.id_b) for r in rows if r.id_b is not None), lsh_min_pts
        ).items():
            # An edge endpoint without a group row shapes the graph
            # but gets no label of its own.
            if v in string_of:
                members.setdefault(mh, []).append(v)
        out = []
        for mh, ids in members.items():
            out += _local_edit_dbscan(
                ids, [string_of[v] for v in ids], mh, edit_epsilon, edit_min_pts
            )
        return driver_frame(graph.sparkSession, out, _LOCAL_DBSCAN_SCHEMA)
    is_edge = F.col("id_b").isNotNull()
    mh_labels = dbscan_from_edges(
        graph.where(is_edge).select("id_a", "id_b"), min_pts=lsh_min_pts
    ).select(
        F.col("point").alias("group_processes_id"),
        F.col("component").alias("minhash_cluster"),
    )
    clustered = (
        graph.where(~is_edge)
        .select(F.col("id_a").alias("group_processes_id"), "cluster_euler_string")
        .join(mh_labels, on="group_processes_id")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            _local_edit_dbscan(
                pdf["group_processes_id"].tolist(),
                pdf["cluster_euler_string"].tolist(),
                int(pdf["minhash_cluster"].iloc[0]),
                edit_epsilon,
                edit_min_pts,
            ),
            columns=_LOCAL_DBSCAN_SCHEMA.fieldNames(),
        )

    return clustered.groupBy("minhash_cluster").applyInPandas(
        kernel, schema=_LOCAL_DBSCAN_SCHEMA
    )


def run_pipeline(
    spark: SparkSession, logs_df: DataFrame, seed: int = DEFAULT_SEED
) -> dict[str, DataFrame]:
    """Full reference pipeline, start to finish (Src/main.py:13-51)."""
    from big_data_spark.session import ensure_executor_package

    ensure_executor_package(spark)
    with_depth = logs_with_depth(logs_df)
    servers = truncate_lineage(server_connections(with_depth), eager=True)
    servers_clustered, cluster_distances = cluster_servers(servers, seed=seed)
    # Cluster logs are reused by every downstream stage; truncate so
    # the relabel joins and depth windows run once.
    clogs = truncate_lineage(cluster_logs(logs_df, servers_clustered), eager=True)
    encodings = cluster_process_encodings(clogs)
    elements = process_elements(clogs)
    # A process with no Request event has no elements; it keeps an
    # empty list so it still lands in a part-1 group like any other.
    processes = truncate_lineage(
        encodings.join(elements, on="process_id", how="left").withColumn(
            "cluster_elements",
            F.coalesce("cluster_elements", F.array().cast("array<string>")),
        ),
        eager=True,
    )
    groups = truncate_lineage(equal_process_groups(processes), eager=True)
    part1_logs = grouped_logs(clogs, groups)
    part1_obs = observations_text(clogs, groups)
    groups_with_elements = groups.join(
        processes.select("process_id", "cluster_elements"),
        groups.equal_processes[0] == processes.process_id,
        "left",
    ).select("group_processes_id", "cluster_euler_string", "cluster_elements")
    # Lazy checkpoint: the LSH + components + edit-distance chain is
    # the most expensive stage; consumers probing then writing it
    # (e.g. the CLI) would otherwise run it twice.
    part2 = truncate_lineage(similar_process_groups(groups_with_elements, seed=seed))
    return {
        "servers": servers_clustered,
        "cluster_distances": cluster_distances,
        "cluster_logs": clogs,
        "processes": processes,
        "groups": groups,
        "part1_grouped_logs": part1_logs,
        "part1_observations": part1_obs,
        "part2_similar": part2,
    }
