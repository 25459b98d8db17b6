"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a
DuckDB oracle string over the same parquet tables.

This is the driver-contract backing store for ``__spark_entry__.py``
(queries()/oracle_sql()) and the per-operator correctness suite.
"""

from __future__ import annotations

from big_data_spark.queries import llm, multimodal, relational, streaming_q

# Every query + oracle, including the ones not exposed to the driver;
# the pytest oracle gate (tests/test_oracle.py) iterates THIS set.
QUERIES_ALL = {}
ORACLE_SQL_ALL = {}

for module in (relational, streaming_q, llm, multimodal):
    QUERIES_ALL.update(module.QUERIES)
    ORACLE_SQL_ALL.update(module.ORACLE_SQL)

# Driver-facing registry: exactly 50 entries (the contract's cap).
# Every query listed here stays implemented and oracle-checked by the
# pytest gate (tests/test_oracle.py), and its family keeps at least
# one entry in QUERIES.
_PYTEST_ONLY = (
    "window_range_trailing",
    "window_ranks",
    "window_lag_gap",
    "corpus_sample_mix",
    "join_semi",
    "variant_extract",
    "large_volume_customers",
    "shipping_priority",
    "corpus_mix_temperature",
    "stream_sliding",
    "distinct_counts",
    "regex_extract",
    "events_hourly",
    "text_stats",
    "join_anti",
    "events_json",
    "window_latest_order",
    "stream_sessionize",
    "lang_id",
    "vocab_coverage",
    "embedding_neardup",
    "graph_components",
    "asof_join",
    "token_counts",
    "ann_ivf",
    "join_left",
    "events_outliers",
    "case_buckets",
    "simhash",
    "embedding_topk",
    "events_sessionize",
    "join_expr_key",
    "rollup_revenue",
    "stream_hourly",
    "media_byte_stats",
    "dedup_exact",
    "cdc_apply",
    "scd2_intervals",
    "bm25_search",
    "doc_fingerprint",
    "lm_perplexity",
    "snapshot_tag_travel",
    "grouping_sets",
    "map_roundtrip",
    "first_min_by",
    "stratified_sample",
    "evolved_read",
    "point_lookup",
    "snapshot_changes",
    "shortest_paths",
    "semdedup_incremental",
    "shard_summary",
    "doc_chunks",
    "hybrid_search",
    "cube_sales",
    "events_funnel",
    "community_lpa",
    "ann_recall",
    "mv_refresh",
)

QUERIES = {k: v for k, v in QUERIES_ALL.items() if k not in _PYTEST_ONLY}
ORACLE_SQL = {k: v for k, v in ORACLE_SQL_ALL.items() if k not in _PYTEST_ONLY}

assert len(QUERIES) == 50, f"driver registry must hold 50 queries, got {len(QUERIES)}"

__all__ = ["QUERIES", "ORACLE_SQL", "QUERIES_ALL", "ORACLE_SQL_ALL"]
