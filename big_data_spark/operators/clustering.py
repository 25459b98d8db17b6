"""Server similarity clustering: HashingTF -> MinHashLSH ->
approxSimilarityJoin -> neighbor-set cluster keys -> base-26 ids.

Mirrors the reference's pipeline (reference: Src/servers.py:96-216)
with the driver-side anti-patterns removed:
- cluster ids come from a dense_rank window + column math instead of
  collect()+broadcast dict+UDF (Src/servers.py:149-176);
- connection relabeling is explode -> broadcast join -> re-aggregate
  instead of a broadcast-dict UDF (Src/servers.py:180-194);
- logs relabeling is two broadcast hash joins (Src/servers.py:218-231
  did plain joins; at 100 TB of logs the server dim is tiny compared
  to the fact table, so broadcasting removes both shuffles).

LSH models are seeded: the reference leaves MinHashLSH's seed random
(Src/servers.py:104), making its clusters nondeterministic run-to-run.

The reference's cluster key is intentionally NOT transitive closure:
a server's cluster is the sorted '+'-join of its ε-neighbors
(Src/servers.py:121-131). We reproduce that exactly; a transitive
variant is available by passing the same edges to
operators.components.connected_components.
"""

from __future__ import annotations

from pyspark.ml.feature import HashingTF, MinHashLSH
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_spark.lineage import truncate_lineage
from big_data_spark.operators.ids import dense_ids

DEFAULT_SEED = 20240807  # reference snapshot date; any fixed value works


def similarity_edges(
    df: DataFrame,
    id_col: str,
    features_col: str,
    threshold: float,
    num_hash_tables: int = 5,
    num_features: int | None = None,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """ε-neighborhood edges (id_a, id_b, distance) under Jaccard
    distance, via seeded MinHashLSH approxSimilarityJoin — the
    idiomatic Spark form of the reference's three similarity joins
    (Src/servers.py:109-116, 207-214; Src/processes.py:321-331).

    ``num_features`` defaults to the distinct token count — the same
    construction as the reference (Src/servers.py:99). NOTE: hashing n
    tokens into n buckets still collides at birthday rates, so ε-edges
    can contain rare false merges; the guarantee is parity with the
    reference, NOT collision-freedom. Use CountVectorizer-style exact
    indexing where exactness matters more than parity.
    Returns each unordered pair once (id_a < id_b), self-pairs dropped.
    """
    if num_features is None:
        num_features = (
            df.select(F.explode(features_col).alias("t")).distinct().count()
        )
    tf = HashingTF(
        inputCol=features_col, outputCol="_features", numFeatures=max(num_features, 1)
    )
    feats = tf.transform(df)
    # MinHash requires at least one non-zero entry; empty sets would
    # throw, so quarantine them (they can't be within ε<1 of anything).
    feats = feats.filter(F.size(features_col) > 0)
    mh = MinHashLSH(
        inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables,
        seed=seed,
    )
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, threshold, distCol="distance")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            "distance",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def neighbor_cluster_keys(
    entities: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """The reference's cluster key: sorted '+'-join of ε-neighbors
    including self (Src/servers.py:121-138; self-pairs come out of its
    self approxSimilarityJoin). Entities with no neighbors cluster
    alone under their own name."""
    sym = (
        edges.select(F.col("id_a").alias("id"), F.col("id_b").alias("nbr"))
        .unionByName(edges.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr")))
    )
    self_rows = entities.select(F.col(id_col).alias("id"), F.col(id_col).alias("nbr"))
    return (
        sym.unionByName(self_rows)
        .groupBy("id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("nbr")), "+").alias("cluster")
        )
        .withColumnRenamed("id", id_col)
    )


def base26_ids(rank: Column, n: Column) -> Column:
    """Rank ``rank`` in [0, n) as a fixed-width base-26 letter id
    (0 -> A, 25 -> Z, 26 -> BA at width 2). The width is the digit
    count of n-1 in base 26, i.e. the reference's smallest w with
    26**w >= n (Src/servers.py:151-157), at least 1."""
    width = F.length(F.conv((n - 1).cast("string"), 10, 26))
    digits = F.translate(
        F.conv(rank.cast("string"), 10, 26),
        "0123456789ABCDEFGHIJKLMNOP",
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    )
    return F.lpad(digits, width, "A")


def assign_cluster_ids(clustered: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """Base-26 cluster ids (A, B, ..., AA, ...) with the reference's
    width rule ceil(log26(n_clusters)) (Src/servers.py:151-157) and
    the 'user' passthrough (Src/servers.py:172-173) — but assigned by
    a distributed dense id (operators.ids) instead of driver dict
    order or a single-partition global window.

    The width is computed inside the plan, so the caller's single
    action runs the upstream chain once (a separate count() here
    would run it twice).
    """
    distinct_clusters = clustered.select(cluster_col).distinct()
    with_rank = dense_ids(distinct_clusters, cluster_col, out_col="_rank")
    # #distinct clusters. The window puts the id dim in one partition,
    # no more than the broadcast below ships to every task.
    n = F.count(F.lit(1)).over(Window.partitionBy())
    ids = with_rank.select(
        cluster_col,
        F.when(F.col(cluster_col) == "user", F.lit("user"))
        .otherwise(base26_ids(F.col("_rank"), n))
        .alias("cluster_id"),
    )
    # The id dim is #distinct clusters — broadcastable by construction.
    return clustered.join(F.broadcast(ids), on=cluster_col)


def cluster_servers(
    servers_df: DataFrame,
    threshold: float = 0.05,
    cluster_threshold: float = 0.6,
    num_hash_tables: int = 5,
    seed: int = DEFAULT_SEED,
) -> tuple[DataFrame, DataFrame]:
    """Full server-clustering stage (Src/servers.py:96-216).

    Returns (servers_with_cluster_df, cluster_distances_df):
    - servers_with_cluster_df: server_name, connections, cluster,
      cluster_id, cluster_connections
    - cluster_distances_df: cluster_id_A, cluster_id_B, distance —
      the second-stage LSH pass (θ=cluster_threshold) over merged
      per-cluster connection sets.
    """
    n_tokens = servers_df.select(
        F.explode("connections").alias("t")
    ).distinct().count()
    edges = similarity_edges(
        servers_df,
        id_col="server_name",
        features_col="connections",
        threshold=threshold,
        num_hash_tables=num_hash_tables,
        num_features=n_tokens,
        seed=seed,
    )
    keys = neighbor_cluster_keys(servers_df, edges, "server_name")
    # Truncate after id assignment: the LSH join chain above feeds the
    # relabeling joins, the merged-cluster second LSH pass, and every
    # downstream consumer — materialize it once.
    servers_clustered = truncate_lineage(
        assign_cluster_ids(servers_df.join(keys, on="server_name", how="left")),
        eager=True,
    )

    # Relabel connection tokens "<server>_<In|Out>_<depth>" with the
    # server's cluster_id via explode -> broadcast join -> re-agg
    # (replaces the broadcast-dict UDF at Src/servers.py:183-194).
    dim = F.broadcast(
        servers_clustered.select(
            F.col("server_name").alias("_srv"), F.col("cluster_id").alias("_cid")
        )
    )
    exploded = servers_clustered.select(
        "server_name",
        F.posexplode("connections").alias("pos", "connection"),
    ).withColumn("_token", F.split("connection", "_")[0])
    relabeled = (
        exploded.join(dim, exploded._token == dim._srv, "left")
        .withColumn(
            "cluster_connection",
            F.concat_ws(
                "_",
                F.coalesce("_cid", "_token"),
                F.split("connection", "_")[1],
                F.split("connection", "_")[2],
            ),
        )
        .groupBy("server_name")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "cluster_connection"))
            ).alias("_sorted")
        )
        .select(
            "server_name",
            F.transform("_sorted", lambda s: s["cluster_connection"]).alias(
                "cluster_connections"
            ),
        )
    )
    # Left join + empty-array default: a server with an empty
    # connections set yields no posexplode rows, and an inner join
    # would silently drop it from the output (and from the relabel
    # dim) — the reference keeps such servers clustered alone.
    servers_full = servers_clustered.join(
        relabeled, on="server_name", how="left"
    ).withColumn(
        "cluster_connections",
        F.coalesce("cluster_connections", F.array().cast("array<string>")),
    )

    merged = servers_full.groupBy("cluster_id").agg(
        F.array_distinct(F.flatten(F.collect_list("cluster_connections"))).alias(
            "merged_cluster_connections"
        )
    )
    cluster_edges = similarity_edges(
        merged,
        id_col="cluster_id",
        features_col="merged_cluster_connections",
        threshold=cluster_threshold,
        num_hash_tables=num_hash_tables,
        num_features=n_tokens,
        seed=seed,
    ).select(
        F.col("id_a").alias("cluster_id_A"),
        F.col("id_b").alias("cluster_id_B"),
        "distance",
    )
    return servers_full, cluster_edges


def cluster_logs(logs_df: DataFrame, servers_with_cluster_df: DataFrame) -> DataFrame:
    """Logs with endpoints replaced by cluster ids (cluster_from /
    cluster_to) — two broadcast joins against the server dim
    (Src/servers.py:218-231)."""
    dim = F.broadcast(
        servers_with_cluster_df.select("server_name", "cluster_id").distinct()
    )
    from_dim = dim.select(
        F.col("server_name").alias("state_from"), F.col("cluster_id").alias("cluster_from")
    )
    to_dim = dim.select(
        F.col("server_name").alias("state_to"), F.col("cluster_id").alias("cluster_to")
    )
    return (
        logs_df.join(from_dim, on="state_from", how="left")
        .join(to_dim, on="state_to", how="left")
        .withColumn("cluster_from", F.coalesce("cluster_from", "state_from"))
        .withColumn("cluster_to", F.coalesce("cluster_to", "state_to"))
        .drop("state_from", "state_to")
    )
