"""Unit tests: connections, connected components, DBSCAN, edit
distance — against hand-computable fixtures (FIXTURES.md §3) and
driver-side spec implementations."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data_spark.functions.tree import logs_with_depth
from big_data_spark.io.readers import read_logs_json
from big_data_spark.operators.components import connected_components
from big_data_spark.operators.connections import server_connections
from big_data_spark.operators.dbscan import dbscan_from_edges
from big_data_spark.operators.editdist import edit_distance, pair_edit_distances
from tests.conftest import REFERENCE_DATA


# ----------------------------------------------------------------- #
# connections
# ----------------------------------------------------------------- #


def test_server_connections_match_spec(spark):
    """One-pass connection sets equal the reference's per-server-loop
    semantics (Src/servers.py:37-70), recomputed driver-side."""
    path = os.path.join(REFERENCE_DATA, "test.json")
    logs = read_logs_json(spark, path)
    with_depth = logs_with_depth(logs)
    got = {
        r["server_name"]: set(r["connections"])
        for r in server_connections(with_depth).collect()
    }
    rows = with_depth.collect()
    servers = {r["state_from"] for r in rows} | {r["state_to"] for r in rows}
    depth = {(r["process_id"], r["state_from"]): r["depth_from"] for r in rows}
    want: dict[str, set] = {s: set() for s in servers}
    for r in rows:
        if r["action"] != "Request":
            continue
        d = depth[(r["process_id"], r["state_from"])]
        want[r["state_to"]].add(f"{r['state_from']}_In_{d}")
        want[r["state_from"]].add(f"{r['state_to']}_Out_{d}")
    assert got == want


# ----------------------------------------------------------------- #
# connected components
# ----------------------------------------------------------------- #


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], ["src", "dst"]
    )
    got = {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_chain(spark):
    """A long path graph exercises multi-iteration propagation."""
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_chain_star_and_self_loop(spark):
    """Labels start at each vertex's neighbourhood minimum: a chain
    listed from its high end, a star whose centre is not its minimum,
    and a vertex that appears only as a self-loop all still end at
    their component's minimum id."""
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1)]
        + [(20, 15), (20, 21), (20, 22)]
        + [(30, 30)],
        ["src", "dst"],
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {
        **{i: 1 for i in range(1, 6)},
        **{i: 15 for i in (15, 20, 21, 22)},
        30: 30,
    }


# ----------------------------------------------------------------- #
# DBSCAN from edges
# ----------------------------------------------------------------- #


def _spec_dbscan(edges: list[tuple[int, int]], min_pts: int):
    """Driver-side spec: cores by degree, components over core-core
    edges, borders to min core neighbor's component, noise dropped."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    cores = {p for p, ns in nbrs.items() if len(ns) + 1 >= min_pts}
    comp = {p: p for p in cores}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for a, b in edges:
        if a in cores and b in cores:
            ra, rb = find(a), find(b)
            if ra != rb:
                comp[max(ra, rb)] = min(ra, rb)
    label = {}
    for c in cores:
        root = find(c)
        label.setdefault(root, min(p for p in cores if find(p) == root))
    out = {}
    for c in cores:
        out[c] = (label[find(c)], True)
    for p, ns in nbrs.items():
        if p in cores:
            continue
        core_ns = [n for n in ns if n in cores]
        if core_ns:
            out[p] = (min(label[find(n)] for n in core_ns), False)
    return out


DBSCAN_FIXTURE = [
    # K4 cluster A: every vertex degree 3 -> core up to min_pts=4
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    # K4 cluster B
    (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
    # 20 touches BOTH clusters with degree 2: core at min_pts<=3
    # (merging A and B), but a true BORDER at min_pts=4 — exercising
    # the border-takes-min-core-component rule
    (1, 20), (10, 20),
    # 5 hangs off cluster A with degree 1: border at min_pts=3,
    # core at min_pts=2
    (1, 5),
    # isolated pair: noise at min_pts>=3
    (30, 31),
]


@pytest.mark.parametrize("min_pts", [2, 3, 4])
def test_dbscan_matches_spec(spark, min_pts):
    edges = spark.createDataFrame(DBSCAN_FIXTURE, ["id_a", "id_b"])
    got = {
        r["point"]: (r["component"], r["core_point"])
        for r in dbscan_from_edges(edges, min_pts=min_pts).collect()
    }
    assert got == _spec_dbscan(DBSCAN_FIXTURE, min_pts)


# ----------------------------------------------------------------- #
# edit distance
# ----------------------------------------------------------------- #


def _spec_edit_distance(s: str, t: str, memo=None) -> int:
    """The reference's recursive spec (Src/utils.py:32-71), memoized."""
    if memo is None:
        memo = {}
    if (s, t) in memo:
        return memo[(s, t)]
    ss = s.split("-") if s else []
    tt = t.split("-") if t else []
    if not ss:
        return len(tt)
    if not tt:
        return len(ss)
    s_prime = "-".join(ss[:-1])
    t_prime = "-".join(tt[:-1])
    k_a = _spec_edit_distance(s_prime, t_prime, memo)
    k_b = _spec_edit_distance(s_prime, t, memo) + 1
    k_c = _spec_edit_distance(s, t_prime, memo) + 1
    k_d = k_a if ss[-1] == tt[-1] else k_a + 1
    memo[(s, t)] = min(k_d, k_b, k_c)
    return memo[(s, t)]


segments = st.lists(
    st.sampled_from(["1S1", "0S1", "1S2", "0S2", "1S3", "0S3"]), max_size=8
)


@given(segments, segments)
@settings(max_examples=200, deadline=None)
def test_edit_distance_matches_recursive_spec(a, b):
    s, t = "-".join(a), "-".join(b)
    assert edit_distance(s, t) == _spec_edit_distance(s, t)


def test_edit_distance_known_values():
    assert edit_distance("", "") == 0
    assert edit_distance("1S1", "") == 1
    assert edit_distance("1S1-0S1", "1S1-0S1") == 0
    assert edit_distance("1S1-0S1", "1S2-0S2") == 2
    assert edit_distance("1S1-1S2-0S2-0S1", "1S1-0S1") == 2


def test_pair_edit_distances_udf(spark):
    pairs = spark.createDataFrame(
        [("1S1-0S1", "1S2-0S2"), ("1S1", "1S1"), ("", "1S1-0S1")],
        ["s", "t"],
    )
    got = [
        r["edit_distance"]
        for r in pair_edit_distances(pairs, "s", "t").orderBy("s").collect()
    ]
    assert got == [2, 0, 2]


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from big_data_spark.io.readers import read_table
    from big_data_spark.operators.skew import salted_join
    from tests.conftest import SF_SMOKE

    orders = read_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    customer = read_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = sorted(
        tuple(r) for r in orders.join(customer, "o_custkey").collect()
    )
    salted = sorted(
        tuple(r) for r in salted_join(orders, customer, "o_custkey", 4).collect()
    )
    assert plain == salted


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    """Hive-partitioned layout: a filter on the partition column must
    prune at planning time — the scan's PartitionFilters carry the
    predicate and only the matching directory is read. At 100 TB,
    partition-by-date/type is what turns a full-corpus scan into a
    one-directory read."""
    from pyspark.sql import functions as F

    from big_data_spark.io.readers import read_table
    from big_data_spark.io.writers import write_parquet
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "events_by_type")
    events = read_table(spark, SF_SMOKE, "events")
    write_parquet(events, out, partition_by=["event_type"])

    pruned = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan[:2000]
    want = events.filter(F.col("event_type") == "click").count()
    assert pruned.count() == want
    # The filter must NOT appear as a post-scan data filter: pruning
    # happened at the partition level, so there is nothing left to
    # filter row-by-row (inputFiles() can't show this — it reflects
    # the unpruned relation).
    assert "PushedFilters: [IsNotNull(event_type)" not in plan


def test_bucketed_join_has_no_shuffle(spark):
    from pyspark.sql import functions as F

    from big_data_spark.io.readers import read_table
    from big_data_spark.io.writers import write_bucketed_table
    from tests.conftest import SF_SMOKE

    orders = read_table(spark, SF_SMOKE, "orders")
    li = read_table(spark, SF_SMOKE, "lineitem")
    write_bucketed_table(orders, "t_orders_b", 4, ["o_orderkey"])
    write_bucketed_table(li, "t_lineitem_b", 4, ["l_orderkey"])
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the shuffle-join path: at test scale Spark would just
        # broadcast, which proves nothing about bucketing.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # Co-located bucketed join: a SortMergeJoin with NO exchange on
        # either join key — the only allowed exchange is the final
        # tiny groupBy on o_orderstatus.
        assert "SortMergeJoin" in plan, plan[:3000]
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning(o_orderkey" not in join_part, plan[:3000]
        assert "Exchange hashpartitioning(l_orderkey" not in join_part, plan[:3000]
        expected = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_dense_ids_are_dense_and_deterministic(spark):
    from pyspark.sql import functions as F

    from big_data_spark.operators.ids import dense_ids

    keys = spark.range(500).select(
        F.concat(F.lit("k"), (F.col("id") % 137).cast("string")).alias("k")
    )
    out = dense_ids(keys, "k", out_col="kid", n_buckets=16)
    rows = {r.k: r.kid for r in out.collect()}
    assert len(rows) == 137
    assert sorted(rows.values()) == list(range(137))
    again = {r.k: r.kid for r in dense_ids(keys, "k", "kid", 16).collect()}
    assert rows == again


def _reference_cluster_id(rank: int, n: int) -> str:
    """The Python rule the ids follow: the smallest width w >= 1 with
    26**w >= n, then the rank's base-26 digits as letters A-Z."""
    width = 1
    while 26**width < n:
        width += 1
    return "".join(chr(65 + (rank // 26**i) % 26) for i in range(width - 1, -1, -1))


def test_base26_ids_match_reference_width_rule(spark):
    from pyspark.sql import functions as F

    from big_data_spark.operators.clustering import base26_ids

    ns = (1, 2, 26, 27, 676, 677)
    df = spark.createDataFrame(
        [(n, r) for n in ns for r in range(n)], "n long, rank long"
    )
    got = {
        (r.n, r.rank): r.cid
        for r in df.select(
            "n", "rank", base26_ids(F.col("rank"), F.col("n")).alias("cid")
        ).collect()
    }
    assert got == {(n, r): _reference_cluster_id(r, n) for n in ns for r in range(n)}


def test_assign_cluster_ids_width_and_user_passthrough(spark):
    from big_data_spark.operators.clustering import assign_cluster_ids
    from big_data_spark.operators.ids import dense_ids

    keys = ["user"] + [f"s{i}+s{i + 1}" for i in range(26)]
    clustered = spark.createDataFrame(
        [(f"srv{i}", k) for i, k in enumerate(keys + keys[:5])],
        "server_name string, cluster string",
    )
    got = {r.cluster: r.cluster_id for r in assign_cluster_ids(clustered).collect()}
    ranks = {
        r.cluster: r._rank
        for r in dense_ids(clustered.select("cluster"), "cluster", "_rank").collect()
    }
    # 27 distinct keys, "user" among them: width 2 for everyone else.
    assert got == {
        k: "user" if k == "user" else _reference_cluster_id(ranks[k], len(keys))
        for k in keys
    }


def test_cluster_servers_keeps_empty_connection_sets(spark):
    from big_data_spark.operators.clustering import cluster_servers
    from big_data_spark.schemas import SERVERS_SCHEMA

    servers = spark.createDataFrame(
        [
            ("A", ["S1_In_1", "S2_Out_1"]),
            ("B", ["S1_In_1", "S2_Out_1"]),
            ("LONER", []),
        ],
        schema=SERVERS_SCHEMA,
    )
    out, _ = cluster_servers(servers)
    rows = {r.server_name: r for r in out.collect()}
    assert set(rows) == {"A", "B", "LONER"}
    assert rows["LONER"].cluster_connections == []
    assert rows["A"].cluster_id == rows["B"].cluster_id


def test_deterministic_sample_matches_hash_replay(spark):
    """Sampler membership must equal a driver-side md5 replay — the
    point of hash gating is that membership is a pure function of
    doc_id, independent of partitioning, retries, or engine."""
    import hashlib

    from big_data_spark.io.readers import read_table
    from big_data_spark.queries.llm import (
        MIX_DEFAULT_RATE,
        MIX_RATES,
        deterministic_sample,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    got = {r.doc_id for r in deterministic_sample(docs).collect()}
    want = set()
    for r in docs.collect():
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) / float(
            1 << 32
        )
        if u < MIX_RATES.get(r.source, MIX_DEFAULT_RATE):
            want.add(r.doc_id)
    assert got == want
    assert 0 < len(got) < docs.count()
    # Partitioning independence: same membership at a different layout.
    again = {r.doc_id for r in deterministic_sample(docs.repartition(7)).collect()}
    assert again == got


def test_ngram_posting_cap_bounds_hot_shingle_pairs(spark):
    """One shingle shared by every doc would contribute O(n^2) join
    pairs; the posting cap drops it from the inverted index so the
    pair count stays bounded (and zero here, since nothing else is
    shared). With the cap above the posting length, all pairs appear."""
    from big_data_spark.queries.llm import ngram_jaccard_pairs

    n = 30
    docs = spark.createDataFrame(
        [
            # 6 shared tokens (4 shared trigrams) + 2 unique tokens
            (i, f"alpha beta gamma delta epsilon zeta u{i}x u{i}y")
            for i in range(n)
        ],
        "doc_id long, text string",
    )
    capped = ngram_jaccard_pairs(docs, posting_cap=10)
    assert capped.count() == 0
    uncapped = ngram_jaccard_pairs(docs, posting_cap=10**6)
    assert uncapped.count() == n * (n - 1) // 2


def test_shortest_paths_bfs_semantics(spark):
    """Hop counts on a known digraph: forward-direction semantics,
    min over alternative routes, unreachable pairs absent, and the
    hop cap truncates exactly."""
    from big_data_spark.operators.paths import shortest_paths

    # 1->2->3->4 chain, a 1->3 shortcut, 5 isolated-from-4, 9 alone.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 1)],
        "src long, dst long",
    )
    got = {
        (r.vertex, r.landmark): r.dist
        for r in shortest_paths(edges, [4, 9]).collect()
    }
    assert got == {
        (4, 4): 0,
        (3, 4): 1,
        (2, 4): 2,
        (1, 4): 2,  # shortcut 1->3->4 beats 1->2->3->4
        (5, 4): 3,
        (9, 9): 0,  # landmark not in the graph: itself only
    }
    capped = {
        (r.vertex, r.landmark): r.dist
        for r in shortest_paths(edges, [4], max_hops=1).collect()
    }
    assert capped == {(4, 4): 0, (3, 4): 1}


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA converges to one
    community per triangle (min member id), and the synchronous +
    (count DESC, label ASC) tie-break makes the result exactly
    reproducible run to run."""
    from big_data_spark.operators.lpa import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    directed = tri1 + tri2 + bridge
    edges = spark.createDataFrame(
        directed + [(b, a) for a, b in directed], "src long, dst long"
    )
    got = {
        r.vertex: r.community
        for r in label_propagation(edges, rounds=4).collect()
    }
    # Hand-simulated fixpoint (reached at round 3): the first
    # triangle keeps label 1; the bridge leaks label 3 into the
    # second triangle, which converges on it.
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    again = {
        r.vertex: r.community
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert got == again
