"""Query registry: name -> (spark impl, oracle SQL, metadata).

Contract (driver-imposed, see repo __spark_entry__.py):
- spark impl: ``(spark: SparkSession, sf_dir: str) -> DataFrame``
- oracle SQL: ANSI SQL DuckDB can run against views named after the parquet
  tables (region nation customer supplier part orders lineitem events
  documents embeddings). ``None`` for non-SQL-expressible ops (the driver
  then records a weaker rows-only check).
- Column names must match exactly between the two (the comparison sorts
  columns by name before hashing values).

Determinism rules used throughout (see SURVEY.md §7.4):
- Money-style aggregates go through DECIMAL so the sum is order-independent,
  then cast to DOUBLE for a stable comparable schema.
- Every ranking has an explicit total-order tiebreak.
- Every hash shared with the oracle is md5-derived (identical hex output in
  Spark and DuckDB), never engine-native ``hash()``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator: register a spark query impl under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name, fn, oracle, description, tags, bench)
        return fn

    return deco


# The driver hash-verifies only the FIRST 50 entries of all_queries() per
# round, so the window is rotated explicitly each round. Standing policy:
#   (a) every query whose code changed since its newest green driver row
#       enters the next window (ROUND_CHANGED names them): changed code
#       must carry fresh verification evidence, not stale green rows;
#   (b) the remaining slots re-verify the queries whose newest green row
#       is OLDEST (cohort ties broken by keeping a round's cohort
#       together alphabetically), so re-verification latency is bounded
#       at ~(registry size / 50) rounds for every query.
# Enforced by tests/test_registry_window.py::
# test_window_follows_changed_plus_oldest_policy, which recomputes the
# newest-green-row map from the CORRECTNESS_r*.json files older than
# WINDOW_ROUND. The round-10 window is 18 clause-(a) slots + 32 cohort
# slots = 50; earlier rotations are in the git history.
WINDOW_ROUND = 10  # the driver round this window was built for
ROUND_CHANGED: list[str] = [
    "streaming_quantile_maintenance",
    "streaming_ccf_maintenance",
    "streaming_ab_moments_maintenance",
    "streaming_ab_msprt_maintenance",
    "streaming_heavy_hitters_cms",
    "streaming_bitmap_distinct_maintenance",
    "er_quality_threshold_sweep",
    "table_diff_merkle",
    "logreg_kfold_cv",
    "ab_metric_cuped_adjustment",
    "ab_power_mde_report",
    "ab_sequential_msprt",
    "daily_cross_correlation",
    "bitmap_distinct_rollup",
    "rolling_exact_distinct_users_7d",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "full_outer_merge_events",
]
WINDOW_PRIORITY: list[str] = [
    *ROUND_CHANGED,
    # clause (b): the 23-name round-2 remainder (newest green row = r2)
    "doc_chunking",
    "doc_top_terms",
    "embedding_near_dup",
    "embedding_near_dup_hybrid",
    "gapfill_hourly_locf",
    "intradoc_repetition",
    "lag6_diff",
    "lag6_pct_change",
    "mean_impute",
    "minhash_jaccard_calibration",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_metadata_stats",
    "rolling_1h_value_sum",
    "stratified_sample_per_lang",
    "streaming_dedup_first_event",
    "streaming_hourly_agg",
    "streaming_sliding_agg",
    "streaming_stateful_sessions",
    "streaming_stream_stream_join",
    "tfidf_top_terms",
    "tumbling_hourly_agg",
    "unit_convert_horizontal_total",
    # then the first 9 of the round-3 cohort, alphabetical
    "ann_lsh_recall_audit",
    "benchmark_ngram_contamination",
    "bloom_prefilter_audit",
    "boxplot_stats_by_type",
    "chi2_lang_source",
    "cross_source_neardup_rate",
    "data_quality_report",
    "dedup_cluster_largestar",
    "doc_stats_cube",
]


def _ordered_names() -> list[str]:
    pri = [n for n in WINDOW_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(pri)]
    return pri + rest


def all_queries() -> dict[str, SparkQuery]:
    return {n: QUERIES[n].spark for n in _ordered_names()}


def all_oracle_sql() -> dict[str, str]:
    return {
        n: QUERIES[n].oracle
        for n in _ordered_names()
        if QUERIES[n].oracle is not None
    }
