"""Property fuzz for the round-5 primitives. Each example runs ONE
Spark job over a whole generated batch (per-row jobs would be 100x
slower for the same coverage), so example counts stay small while
row counts per example stay large."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_spark.session import get_spark
from tests.conftest import GRAPH_PATHS, graph_path


def _spark():
    # Hypothesis wraps the whole test, so the pytest fixture isn't
    # usable per-example; get_spark returns the shared singleton.
    return get_spark(app_name="big_data_spark-tests", shuffle_partitions=8)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=200,
        unique=True,
    )
)
@settings(max_examples=5, deadline=None)
def test_zorder_key_matches_python_spec_3d(vals):
    from big_data_spark.io.compact import zorder_key

    bits = 12

    def py_morton(t):
        out = 0
        for i, v in enumerate(t):
            for j in range(bits):
                out |= ((v >> j) & 1) << (j * len(t) + i)
        return out

    df = _spark().createDataFrame(vals, "a bigint, b bigint, c bigint")
    got = {
        (r.a, r.b, r.c): r.z
        for r in df.withColumn(
            "z", zorder_key(["a", "b", "c"], bits=bits)
        ).collect()
    }
    for t in vals:
        assert got[t] == py_morton(t), t
    # Interleaving distinct tuples is injective.
    assert len(set(got.values())) == len(vals)


@given(
    st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=150, unique=True),
    st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=150, unique=True),
)
@settings(max_examples=5, deadline=None)
def test_bloom_never_false_negative_on_random_strings(inserted, probed):
    from big_data_spark.operators.bloom import bloom_build, bloom_might_contain

    spark = _spark()
    ins = spark.createDataFrame([(s,) for s in inserted], "item string")
    b = bloom_build(ins, [], "item", m=512, k=3)
    union = spark.createDataFrame(
        [(s,) for s in set(inserted) | set(probed)], "item string"
    )
    got = {
        r.item: r.might_contain
        for r in bloom_might_contain(b, union, [], "item", m=512, k=3).collect()
    }
    for s in inserted:
        assert got[s] is True, repr(s)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_characters="@0123456789", blacklist_categories=("Cs",)
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=150,
    )
)
@settings(max_examples=5, deadline=None)
def test_pii_redact_leaves_digitless_text_untouched(texts):
    # No digits and no '@' means no email/phone/ipv4/id match is
    # possible — redaction must be the identity.
    from big_data_spark.functions.pii import pii_redact

    df = _spark().createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", pii_redact(F.col("t")).alias("red")).collect()
    for r in rows:
        assert r.red == r.t, repr(r.t)


# Strategy: a CDC feed over a small key space with unique (seq, idx)
# positions — dense enough that keys get multiple versions, deletes
# and revivals.
_cdc_feed = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),  # key
        st.integers(min_value=0, max_value=99),  # seq
        st.integers(min_value=0, max_value=3),  # idx (tie)
        st.sampled_from(["U", "U", "U", "D"]),  # op, deletes ~25%
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[1], t[2]),  # unique (seq, idx) positions
)


def _mk_changes(spark, rows):
    return spark.createDataFrame(
        [(k, f"v{k}_{s}_{i}", s, i, op) for k, s, i, op in rows],
        "k int, name string, seq int, idx int, op string",
    )


@given(feed=_cdc_feed, cut=st.integers(min_value=0, max_value=60))
@settings(max_examples=8, deadline=None)
def test_fuzz_scd2_batch_split_invariant(feed, cut):
    """scd2_apply(h1=batch A) then batch B == one batch — for ANY
    feed and ANY split point; the resulting history is also
    internally consistent (intervals per key chain, one current row
    max)."""
    from big_data_spark.operators.cdc import scd2_apply

    spark = _spark()
    # The split-invariance contract holds for per-key-IN-ORDER
    # cross-batch delivery (the CDC feed contract); sort globally by
    # position before cutting, then REVERSE each slice so
    # within-batch disorder (which the window must absorb) is still
    # exercised.
    feed = sorted(feed, key=lambda t: (t[1], t[2]))
    cut = min(cut, len(feed))
    whole = _mk_changes(spark, feed)
    once = {tuple(r) for r in scd2_apply(None, whole, ["k"], "seq", "idx").collect()}

    a, b = feed[:cut][::-1], feed[cut:][::-1]
    h = scd2_apply(None, _mk_changes(spark, a), ["k"], "seq", "idx") if a else None
    if b:
        h = scd2_apply(h, _mk_changes(spark, b), ["k"], "seq", "idx")
    split = {tuple(r) for r in h.collect()} if h is not None else set()
    assert split == once

    # Internal consistency: at most one current row per key; closed
    # intervals chain (valid_to of one version == valid_from of next).
    by_key = {}
    for row in once:
        by_key.setdefault(row[0], []).append(row)
    for k, rows in by_key.items():
        curr = [r for r in rows if r[6]]
        assert len(curr) <= 1, f"key {k}: multiple current rows"
        starts = sorted((r[2], r[3]) for r in rows)
        assert len(starts) == len(set(starts)), f"key {k}: duplicate versions"


@given(feed=_cdc_feed)
@settings(max_examples=8, deadline=None)
def test_fuzz_apply_changes_equals_scd2_current(feed):
    """Type-1 fold == the current rows of the type-2 history built
    from the same feed starting empty — two independent
    implementations of 'latest change wins'."""
    from big_data_spark.operators.cdc import apply_changes, scd2_apply

    spark = _spark()
    ch = _mk_changes(spark, feed)
    empty_snap = spark.createDataFrame([], "k int, name string")
    t1 = {
        (r.k, r.name)
        for r in apply_changes(
            empty_snap, ch.select("k", "name", "seq", "idx", "op"),
            ["k"], "seq", "idx",
        ).collect()
    }
    t2rows = scd2_apply(None, ch, ["k"], "seq", "idx").collect()
    t2 = {(r.k, r.name) for r in t2rows if r.is_current}
    assert t1 == t2


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=40,
    unique=True,
)


def _py_bfs(edges, landmarks, max_hops):
    """Pure-Python reference: forward-hop BFS per landmark."""
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    dist = {}
    for lm in landmarks:
        dist[(lm, lm)] = 0
        frontier = {lm}
        for hop in range(1, max_hops + 1):
            frontier = {
                v
                for v in set(out)
                if (v, lm) not in dist and out[v] & frontier
            }
            for v in frontier:
                dist[(v, lm)] = hop
            if not frontier:
                break
    return dist


@given(edges=_edges, lms=st.sets(st.integers(0, 15), min_size=1, max_size=3))
@settings(max_examples=5, deadline=None)
def test_fuzz_shortest_paths_matches_python_bfs(edges, lms):
    from big_data_spark.operators.paths import shortest_paths

    spark = _spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.vertex, r.landmark): r.dist
        for r in shortest_paths(df, sorted(lms), max_hops=6).collect()
    }
    assert got == _py_bfs(edges, sorted(lms), 6)


def _py_lpa(edges, rounds):
    from collections import Counter

    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    labels = {v: v for e in edges for v in e}
    for _ in range(rounds):
        new = {}
        for v, lbl in labels.items():
            votes = Counter(labels[u] for u in out.get(v, []))
            if votes:
                new[v] = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            else:
                new[v] = lbl
        labels = new
    return labels


@given(edges=_edges, rounds=st.integers(min_value=1, max_value=4))
@settings(max_examples=5, deadline=None)
def test_fuzz_label_propagation_matches_python_sync_lpa(edges, rounds):
    from big_data_spark.operators.lpa import label_propagation

    spark = _spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.vertex: r.community
        for r in label_propagation(df, rounds=rounds).collect()
    }
    assert got == _py_lpa(edges, rounds)


def _py_components(edges):
    """Plain-Python union-find: vertex -> min vertex id of its
    component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("path", GRAPH_PATHS)
@given(edges=_edges)
@settings(max_examples=5, deadline=None)
def test_fuzz_components_match_python_union_find(path, edges):
    """Both labelling paths (driver union-find and the pointer-doubling
    rounds) label every vertex of a random graph with its component's
    minimum id, including isolated vertices passed as self-loops."""
    from big_data_spark.operators.components import connected_components

    spark = _spark()
    graph = edges + [(99, 99)]
    df = spark.createDataFrame(graph, "src long, dst long")
    with graph_path(path):
        got = {
            r.id: r.component for r in connected_components(df).collect()
        }
    assert got == _py_components(graph)
    assert got[99] == 99


_nd_docs = st.lists(
    st.text(
        alphabet=st.sampled_from("ab dog cat run sky"), min_size=5, max_size=40
    ),
    min_size=4,
    max_size=40,
)


@given(
    docs=_nd_docs,
    splits=st.lists(st.integers(min_value=0, max_value=2), min_size=40, max_size=40),
)
@settings(max_examples=3, deadline=None)
def test_fuzz_incremental_neardup_matches_batch_closure(docs, splits):
    """Random texts, random batch assignment: the incrementally
    ingested index resolves to EXACTLY the batch LSH + component
    closure — the arrival-order-independence property the merge-event
    log exists for."""
    import shutil
    import tempfile

    from big_data_spark.operators.components import connected_components
    from big_data_spark.queries.llm import minhash_lsh_pairs
    from big_data_spark.streaming.neardup_ingest import (
        ingest_neardup_batch,
        read_neardup_clusters,
    )

    spark = _spark()
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    truth = {r["id"]: r["component"] for r in cc.collect()}
    idx = tempfile.mkdtemp(prefix="fuzz_nd_")
    try:
        shutil.rmtree(idx, ignore_errors=True)
        for b in range(3):
            batch = [rows[i] for i in range(len(rows)) if splits[i % 40] == b]
            if not batch:
                continue
            ingest_neardup_batch(
                spark.createDataFrame(batch, "doc_id long, text string"),
                idx,
                b,
            )
        got = {
            r["doc_id"]: r["root"]
            for r in read_neardup_clusters(spark, idx).collect()
        }
        assert got == {i: truth.get(i, i) for i, _ in rows}
    finally:
        shutil.rmtree(idx, ignore_errors=True)
