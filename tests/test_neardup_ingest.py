"""Incremental near-dup ingest: end-state parity with the batch
LSH + component closure, O(batch) appends (prior generations never
rewritten), replay idempotency, at-least-once safety, and the
streaming wrapper."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from big_data_spark.io.snapshot import append_snapshot
from big_data_spark.operators.components import connected_components
from big_data_spark.queries.llm import minhash_lsh_pairs
from big_data_spark.streaming.neardup_ingest import (
    ingest_neardup_batch,
    neardup_keep,
    read_neardup_clusters,
    run_neardup_ingest,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )


def _batch(docs, b, nb=3):
    # Interleaved ids (hash split), so later batches bridge clusters
    # whose existing roots live in EARLIER batches — the merge path.
    return docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(nb)) == b)


def _batch_truth(docs):
    pairs = minhash_lsh_pairs(docs)
    cc = connected_components(
        pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b"
    )
    return {r["id"]: r["component"] for r in cc.collect()}


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """Index built from 3 interleaved batches + the batch-path truth."""
    docs = _docs(spark)
    idx = str(tmp_path_factory.mktemp("nd") / "index")
    counts = [
        ingest_neardup_batch(_batch(docs, b), idx, b) for b in range(3)
    ]
    return idx, docs, counts


def test_end_state_matches_batch_closure(spark, ingested):
    idx, docs, counts = ingested
    assert any(c["merges"] > 0 for c in counts), (
        "fixture must exercise the cluster-merge path; reshuffle the "
        "batch split if the data changed"
    )
    truth = _batch_truth(docs)
    got = {
        r["doc_id"]: r["root"]
        for r in read_neardup_clusters(spark, idx).collect()
    }
    assert len(got) == docs.count()
    assert got == {d: truth.get(d, d) for d in got}


def test_per_batch_writes_are_append_only(spark, ingested):
    """O(batch) write cost: a later batch never rewrites an earlier
    batch's data generations — the corpus-sized state is append-only
    (the structural half of 'per-batch cost tracks batch size')."""
    idx, docs, _ = ingested
    for table in ("shingles", "bands", "clusters"):
        # bands generations are hive-partitioned on _bb — glob
        # recursively so the layout change can't blind the check.
        gen0 = sorted(
            (p, os.path.getsize(p))
            for p in glob.glob(
                f"{idx}/{table}/_data/s=0/**/*.parquet", recursive=True
            )
        )
        assert gen0, f"{table} batch-0 generation missing"
        # Ingest already ran batches 1 and 2; batch 0's files are
        # byte-identical (same paths, same sizes, untouched).
        now = sorted(
            (p, os.path.getsize(p))
            for p in glob.glob(
                f"{idx}/{table}/_data/s=0/**/*.parquet", recursive=True
            )
        )
        assert now == gen0


def test_pairs_trail_matches_batch_pairs(spark, ingested):
    idx, docs, _ = ingested
    from big_data_spark.io.snapshot import read_snapshot

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_snapshot(spark, f"{idx}/pairs").collect()
    }
    exp = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == exp


def test_replay_and_redelivery_are_idempotent(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "index")
    for b in range(2):
        ingest_neardup_batch(_batch(docs, b, nb=2), idx, b)
    end = sorted(
        map(tuple, read_neardup_clusters(spark, idx).collect())
    )
    # Replay of batch 1 (same id): recomputes from below-state and
    # replace-commits the same generations.
    ingest_neardup_batch(_batch(docs, 1, nb=2), idx, 1)
    assert sorted(
        map(tuple, read_neardup_clusters(spark, idx).collect())
    ) == end
    # Redelivery under a NEW batch id: already-indexed ids skipped.
    counts = ingest_neardup_batch(_batch(docs, 0, nb=2), idx, 7)
    assert counts["new_docs"] == 0 and counts["new_pairs"] == 0
    assert sorted(
        map(tuple, read_neardup_clusters(spark, idx).collect())
    ) == end


def test_corpus_pipeline_parity(spark, tmp_path):
    """prepare_corpus fed the incrementally-built index
    (neardup_keep_df=) returns EXACTLY the batch near_dedup=True
    output — survivors and funnel report both."""
    from big_data_spark.pipeline.corpus import (
        neardup_stage_docs,
        prepare_corpus,
    )

    batch_surv, batch_rep = prepare_corpus(spark, SF_SMOKE, near_dedup=True)
    # Ingest the SAME docs the batch stage bands (post quality/
    # gopher/PII/exact-dedup), in interleaved batches.
    pre = neardup_stage_docs(spark, SF_SMOKE)
    idx = str(tmp_path / "index")
    for b in range(3):
        ingest_neardup_batch(_batch(pre, b), idx, b)
    inc_surv, inc_rep = prepare_corpus(
        spark, SF_SMOKE, neardup_keep_df=neardup_keep(spark, idx)
    )
    assert sorted(map(tuple, inc_surv.collect())) == sorted(
        map(tuple, batch_surv.collect())
    )
    assert sorted(map(tuple, inc_rep.collect())) == sorted(
        map(tuple, batch_rep.collect())
    )


def test_band_probe_prunes_partitions(spark, ingested):
    """The stored band index is laid out hive-partitioned on
    _bb = hash(band, bucket) % 32; a probe filtered to a few _bb
    values opens fewer files than the full index scan — the 'only
    corpus-sized touch' shrinks with batch size."""
    from big_data_spark.io.snapshot import read_snapshot
    from pyspark.sql import functions as F2

    bands = read_snapshot(spark, f"{ingested[0]}/bands")
    # inputFiles() reports the pre-pruning listing; count the files a
    # scan ACTUALLY reads instead.
    read_files = (
        lambda df: df.select(F2.input_file_name()).distinct().count()
    )
    full = read_files(bands)
    pruned = read_files(bands.filter(F2.col("_bb").isin([0, 1])))
    assert 0 < pruned < full
    # Pruning is partition-level, not a row filter artifact: every
    # kept file path carries one of the requested _bb values.
    kept = bands.filter(F2.col("_bb").isin([0, 1])).select(
        F2.input_file_name().alias("f")
    ).distinct().collect()
    assert all("/_bb=0/" in r["f"] or "/_bb=1/" in r["f"] for r in kept)


def test_index_compaction_preserves_resolution(spark, ingested):
    """Standard lakehouse maintenance applies to the index unchanged:
    compact_snapshot folds a table's append generations into one and
    a subsequent batch keeps working — resolution identical."""
    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.snapshot import latest_manifest

    idx, docs, _ = ingested
    before = sorted(
        map(tuple, read_neardup_clusters(spark, idx).collect())
    )
    for table in ("bands", "shingles"):
        tdir = f"{idx}/{table}"
        assert len(latest_manifest(spark, tdir)["entries"]) == 3
        compact_snapshot(spark, tdir)
        assert len(latest_manifest(spark, tdir)["entries"]) == 1
    # The manifest's layout_by makes compaction KEEP the bands table's
    # _bb hive layout, so the partition-pruned probe survives
    # maintenance (one file per partition dir).
    comp_id = latest_manifest(spark, f"{idx}/bands")["snapshot_id"]
    comp_dirs = glob.glob(f"{idx}/bands/_data/s={comp_id}/_bb=*")
    assert comp_dirs, "compaction flattened the _bb layout"
    assert all(
        len(glob.glob(f"{d}/*.parquet")) == 1 for d in comp_dirs
    )
    assert sorted(
        map(tuple, read_neardup_clusters(spark, idx).collect())
    ) == before
    # A post-compaction batch (all duplicates) still probes correctly.
    counts = ingest_neardup_batch(docs.limit(50), idx, 9)
    assert counts["new_docs"] == 0


def test_streaming_wrapper(spark, tmp_path):
    docs = _docs(spark).limit(200)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "index")
    run_neardup_ingest(stream, idx, str(tmp_path / "ckpt"))
    got = {
        r["doc_id"]: r["root"]
        for r in read_neardup_clusters(spark, idx).collect()
    }
    truth = _batch_truth(docs)
    assert len(got) == 200
    assert got == {d: truth.get(d, d) for d in got}


def test_string_bucket_band_index_asks_for_rebuild(spark, tmp_path):
    """A band index whose stored bucket is an md5 hex string (the
    earlier band key) cannot be probed with this engine's bigint
    buckets: the ingest refuses with a rebuild instruction instead of
    failing mid-join with Spark's CAST_INVALID_INPUT."""
    idx = str(tmp_path / "index")
    append_snapshot(
        spark.createDataFrame(
            [(1, 0, "0cc175b9c0f1b6a831c399e269772661", 3)],
            "doc_id bigint, band int, bucket string, _bb int",
        ),
        f"{idx}/bands",
        snapshot_id=0,
        partition_by="_bb",
    )
    with pytest.raises(
        ValueError, match=rf"rebuild the index at {re.escape(repr(idx))}"
    ):
        ingest_neardup_batch(_docs(spark).limit(5), idx, 1)
