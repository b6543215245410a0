"""Driver contract for the spark-graft builder (PySpark target).

Aggregates the engine's query surface from
postgres_opensearch_cdc_spark.queries.* — each module keeps its Spark
builders and DuckDB oracle SQL adjacent so they stay in lockstep.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from postgres_opensearch_cdc_spark.queries import (
    cdc_queries,
    dashboard,
    dsl_queries,
    extensions,
    graph_dedup,
    hybrid,
    patterns,
    ppl_queries,
    querydsl,
    querydsl3,
    querydsl4,
    querydsl_aggs,
    querydsl_aggs2,
    querystring_queries,
    relational,
    relational2,
    relational3,
    relational4,
    scalar_sql,
    sequences,
    timeseries,
    timeseries2,
    training_pipeline,
    training_pipeline2,
    training_pipeline3,
    training_pipeline4,
    training_pipeline5,
    training_pipeline6,
    training_pipeline7,
    training_pipeline8,
    training_pipeline9,
    training_pipeline10,
    training_pipeline11,
    training_pipeline12,
    windows_pivot,
)

_MODULES = [
    windows_pivot,
    patterns,
    ppl_queries,
    dsl_queries,
    querystring_queries,
    extensions,
    querydsl,
    querydsl3,
    querydsl4,
    training_pipeline,
    training_pipeline2,
    training_pipeline3,
    training_pipeline4,
    training_pipeline5,
    training_pipeline6,
    training_pipeline7,
    training_pipeline8,
    training_pipeline9,
    training_pipeline10,
    training_pipeline11,
    training_pipeline12,
    hybrid,
    timeseries,
    timeseries2,
    querydsl_aggs,
    querydsl_aggs2,
    sequences,
    graph_dedup,
    relational2,
    relational3,
    relational4,
    dashboard,
    cdc_queries,
    relational,
    scalar_sql,
]

# The driver's correctness harness samples the FIRST 50 entries of
# queries().  Since round 14 this window is DERIVED, not hand-counted
# (the hand-maintained queue dropped its oldest block twice —
# round-13 verdict #1): blocks (a)/(b) below are this round's
# new/changed entries, and everything after them is the verbatim
# output of
#   python3 tools/staleness.py --emit (50 - _HAND_STAGED) --exclude <a+b names>
# which unions every CORRECTNESS_r*.json and stages entries by their
# LATEST fully-green driver round, oldest first, ties in current
# driver order.  Re-running that command against the committed
# artifacts must reproduce blocks (c..e) exactly —
# tests/test_staleness_window.py asserts this on every run, so the
# queue can never silently drop a block again.
# _HAND_STAGED = how many leading window rows are this round's
# hand-chosen new/changed block; everything after them through row 50
# must be the staleness tool's output.
_HAND_STAGED = 15
_PRIORITY = [
    # (a) implementation changed this ROUND-15 optimization round —
    # re-certify through the driver's oracle gate, riskiest rewrites
    # first (numpy candidate/verify passes, sink job-count cuts,
    # shared-substrate memos; every one is value-identical by parity
    # at sf0.001/0.01/0.1 locally — this window makes the DRIVER
    # confirm it)
    "dedup_embedding_srp",        # numpy popcount cands + pair dots
    "dedup_semantic_keep",        # cluster-local numpy pair dots
    "dedup_lsh_capped",           # lazy banded shape (r14 regression)
    "engine_rollup_metrics",      # aux one-exchange + probe skip
    "engine_rollup_search",       # same aux path + coarser re-agg
    "engine_rollup_two_dim",      # same, multi-dimension
    "engine_search_mirror",       # first-commit observe() high-water
    "dedup_span_trim_stream",     # overlapped per-batch writes
    "dedup_semantic_stream",      # overlapped per-batch writes
    "search_eval_metrics",        # legs memo + factored fusion
    "quality_kneser_ney",         # pinned pairs/types relations
    "dedup_span_doc_stats",       # shared maximal-span frame
    "dedup_ngram_jaccard",        # memoized truth set
    "search_rank_rbo",            # legs memo
    "quality_ccnet_buckets",      # pinned bigram relation
    # (b) verbatim output of
    #   python3 tools/staleness.py --emit 35 --exclude <the 15 above>
    # — never-checked first, then ascending latest-green round
    "embedding_outliers", "ann_ivf_index_topk", "intervals_query",
    "distance_feature_query", "random_score_query", "nested_agg_items",
    "ids_query", "exists_missing_agg", "rank_feature_query",
    "script_score_query", "span_first_query", "span_or_query",
    "span_not_query", "term_suggester", "span_containing_query",
    "rank_eval", "match_phrase_prefix", "weighted_avg_agg",
    "categorize_text_agg", "has_child_query", "has_parent_query",
    "terms_lookup_filter", "geo_polygon_query", "global_agg_compare",
    "transform_entity_centric", "quality_bigram_lm",
    "length_percentile_filter", "knn_join_topk",
    "quality_linear_classifier", "vocab_coverage", "ts_autocorr",
    "ts_rolling_corr", "ts_seasonal_anomaly", "event_transition_matrix",
    "moving_percentiles_agg",
]

# Window accounting: (a)=15, (b)=35 — exactly 50. Block (b) is
# regenerated whenever a new CORRECTNESS_r*.json lands.


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full CDC apply path
    (changelog → last-write-wins compaction → delete suppression), the
    engine's core capability (SURVEY §7.1)."""
    return cdc_queries.cdc_mirror_compact(spark, "/root/testdata/sf0.001")


def _ordered(mapping_attr: str) -> dict:
    merged: dict = {}
    for m in _MODULES:
        merged.update(getattr(m, mapping_attr))
    out = {k: merged[k] for k in _PRIORITY if k in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered("QUERIES")


def oracle_sql() -> dict[str, str]:
    return _ordered("ORACLE")
