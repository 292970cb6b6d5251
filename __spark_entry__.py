"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``corkscrew_spark``; this module is a thin
re-export so the contract surface stays stable while the package grows.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the multi-aggregate pricing summary."""
    from corkscrew_spark.plans.queries import QUERIES

    return QUERIES["pricing_summary"](spark, SMOKE_SF_DIR)


#: Names with a green row in CORRECTNESS_r01/r02/r03 (99 distinct; folded
#: by tools/rotate_window.py at round-4 start). The driver's correctness
#: pass records only the first 50 dict entries per round, so queries
#: whose contract is already proven yield their slot to never-verified
#: ones — ordering here rotates the 50-query window across rounds until
#: every registered query has a recorded row. Round-5 upkeep: run
#: `python tools/rotate_window.py` again (folds CORRECTNESS_r04.json),
#: then `python tools/driver_sim.py --window 50` before committing.
_DRIVER_RECORDED = frozenset({
    "activity_streaks", "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_lsh_topk", "ann_pq_topk", "ann_quantized_topk", "anti_join",
    "approx_distinct_users", "array_lambda_stats",
    "asof_forward_next_purchase", "asof_join_events", "basket_part_pairs",
    "bigram_collocations_pmi", "bitwise_flag_rollup", "blast_radius",
    "blast_radius_rank", "boilerplate_removal", "bpe_vocab_tokenize",
    "case_buckets", "change_anomaly_report", "change_history_timeline",
    "change_query_builder", "char_trigram_profile", "chi2_lang_source",
    "chunk_windows", "compliance_duckdb_pack", "compliance_pack",
    "corpus_curation_full", "corpus_health_report", "corpus_stats",
    "corpus_training_mix", "correlation_rules", "count_distinct_rollup",
    "cube_orders", "customer_order_distribution", "customer_rfm",
    "cusum_drift_days", "daily_activity_dense", "date_functions_family",
    "decay_weighted_value", "decontaminate", "dedup_clusters",
    "dedup_embedding_cosine", "dedup_embedding_gemm", "dedup_exact_spans",
    "dedup_keep_longest", "dedup_minhash_clusters", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_prefix_exact", "dedup_simhash",
    "discount_effectiveness", "distinct_sketch_rollup", "dq_orphan_audit",
    "drift_detect", "engine_governed_nostats", "engine_governed_timetravel",
    "engine_param_binding", "engine_pruned_cte", "engine_pruned_derived",
    "engine_pruned_exists", "engine_pruned_join", "engine_pruned_scan",
    "engine_pruned_union", "engine_scan_governor", "event_transition_matrix",
    "filter_project_sort", "filter_range_limit", "fulfillment_latency",
    "funnel_steps", "fuzzy_match_parts", "graph_communities",
    "graph_degree_distribution", "graph_hits", "graph_khop",
    "graph_khop_cte", "graph_pagerank", "graph_shortest_path",
    "graph_summary", "graph_topo_levels", "graph_triangles",
    "graph_weighted_sssp", "grouping_sets_orders", "having_large_orders",
    "hourly_seasonality", "impact_scoring", "in_list_filter",
    "incremental_refresh_equals_recompute", "incremental_rollup",
    "intersect_except_branches", "interval_join_sessions", "iqr_outliers",
    "json_extract_agg", "k_anonymity_audit", "kql_arg_max_order",
    "kql_bag_unpack", "kql_bin_6h", "kql_case_tiers", "kql_cs_in_matches",
    "kql_datatable", "kql_datetime_dynamics", "kql_docs_tokens",
    "kql_evaluate_pivot", "kql_events_rollup", "kql_join_spend",
    "kql_let_statements", "kql_lookup_dim", "kql_make_series_daily",
    "kql_mv_apply_tokens", "kql_parse_props", "kql_parse_regex",
    "kql_parse_where", "kql_percentile_value", "kql_pruned_pipeline",
    "kql_scan_governor", "kql_search", "kql_summarize", "kql_time_bins",
    "kql_time_grid", "kql_top_hitters", "kql_top_nested",
    "kql_top_nested_others", "kql_toscalar", "kql_union_mix",
    "langid_confusion", "left_join_histogram", "levenshtein_suggest",
    "like_filter", "linear_interpolate_value", "locf_gap_fill",
    "mad_outlier_bounds", "mixture_rates_for_budget", "motif_open_triads",
    "moving_avg_frame", "multimodal_features", "multimodal_ppm_decode",
    "multimodal_wav_decode", "mv_expand_tokens", "ntile_price_bins",
    "null_safe_join", "numeric_histogram", "ohlc_hourly",
    "order_gap_profile", "order_priority_exists", "ordered_listagg",
    "orders_above_cust_avg", "pack_sequences", "pack_sequences_sep",
    "paginate_offset", "percentile_exact", "pivot_priority_status",
    "pricing_summary", "profile_orders", "quality_threshold_sweep",
    "range_frame_weekly_sum", "reconcile_snapshots", "regex_extract",
    "region_revenue_share", "region_rollup", "regional_revenue",
    "resolve_entities", "retention_cohorts", "retention_drop_effect",
    "returned_items_revenue", "rolling_zscore_anomalies",
    "rollup_segment_nation", "sample_by_quality", "sample_fixed_per_lang",
    "sample_mixture", "sample_stratified", "sample_weighted_tokens",
    "seasonal_anomaly_days", "self_join_pairs", "semdedup_embeddings",
    "semi_join", "sequence_spans", "session_stats_30m", "shipping_priority",
    "shuffle_order", "sketch_weekly_distinct", "skew_profile_custkey",
    "source_token_kl", "state_as_of", "state_checksum", "state_dwell_times",
    "string_functions", "supplier_reliability", "telemetry_rollup",
    "text_bigram_logprob", "text_c4_filters", "text_classifier_score",
    "text_fingerprint", "text_gopher_filters", "text_langid",
    "text_length_bands", "text_quality", "text_redact", "text_repetition",
    "text_search_and", "text_unigram_logprob", "tfidf_top_terms",
    "time_range_agg", "token_count_bpe", "token_quantiles_approx",
    "top_changed_resources", "top_customers", "top_selling_parts",
    "topk_per_group", "topk_with_ties", "union_branches",
    "unpivot_priority_status", "upsert_latest", "user_event_entropy",
    "user_event_timeline", "value_regression", "variant_json_agg",
    "versioned_pruned_read", "versioned_time_travel", "vocab_growth",
    "window_filtered_sum", "window_lag", "window_rank_family", "zipf_slope",
})


#: The never-recorded backlog is now derived from registration order
#: minus _DRIVER_RECORDED (rotate_window.py rebuilds everything; no
#: hand-maintained deferral list needed). Round 4 froze new query
#: registration per VERDICT r3: the full registry stays at 187 names
#: until the backlog clears.
_DEFERRED = frozenset()


#: Round 12's pinned 50-slot correctness window: the nine round-12
#: queries first (kql_partition_topk — vectorized Kusto partition
#: operator; kql_partition_legacy — its 64-branch legacy strategy;
#: kql_serialized_funcs — row_number/prev/row_cumsum windows composed
#: per-key inside partition; kql_scan_single — scan machinery vs the
#: SQL-expressible degenerate case; kql_scan_sessions — the real
#: two-step machine, rows-only by design; kql_narrow — the transpose
#: plugin over the serialized Row contract; kql_externaldata — governed
#: local-file head; kql_render_as — paste-compat display hint +
#: mid-pipeline binding), then the 24
#: r7-era stalest re-verifies (VERDICT r11 item #2's exact list) and
#: r8-era padding to fill 50. Every name verified green by
#: `tools/driver_sim.py` at sf0.01 before pinning. The historical
#: note below records the round-7 pin for the audit trail.
#: Round 7's pinned 50-slot correctness window: the three new queries
#: (engine_pruned_join — fact-table pruning under a star join;
#: engine_pruned_cte — pruning inside CTE bodies, the reference's
#: compliance-pack shape; engine_scan_governor — the max_scan_bytes
#: admission gate refusing an over-budget scan then admitting a
#: selective one; all self-certifying via the executed
#: plan's scanned files), then the
#: STALEST-recorded re-verifies (rotate_window.py now orders the
#: padding by each name's newest green round): the 11 rows whose last
#: green dated to round 2 (text_redact, decontaminate,
#: text_repetition, sample_mixture, corpus_stats, shuffle_order,
#: ann_quantized_topk, token_quantiles_approx, boilerplate_removal,
#: text_unigram_logprob, tfidf_top_terms — VERDICT r6 item 3's exact
#: list), then the oldest round-3 rows to fill 50. Every name verified
#: green by `tools/driver_sim.py --window 50` at sf0.01 before
#: pinning.
_WINDOW = (
    "kql_partition_topk",
    "kql_partition_legacy",
    "kql_serialized_funcs",
    "kql_scan_single",
    "kql_scan_sessions",
    "kql_narrow",
    "kql_scalar_widening",
    "kql_externaldata",
    "kql_render_as",
    "correlation_rules",
    "multimodal_features",
    "regional_revenue",
    "order_priority_exists",
    "state_checksum",
    "rollup_segment_nation",
    "change_history_timeline",
    "approx_distinct_users",
    "shipping_priority",
    "customer_order_distribution",
    "pivot_priority_status",
    "unpivot_priority_status",
    "window_rank_family",
    "intersect_except_branches",
    "moving_avg_frame",
    "orders_above_cust_avg",
    "cube_orders",
    "percentile_exact",
    "kql_events_rollup",
    "kql_docs_tokens",
    "kql_join_spend",
    "kql_time_bins",
    "kql_case_tiers",
    "kql_arg_max_order",
    "dedup_embedding_gemm",
    "corpus_training_mix",
    "dedup_exact_spans",
    "sample_fixed_per_lang",
    "source_token_kl",
    "bigram_collocations_pmi",
    "pack_sequences_sep",
    "dedup_keep_longest",
    "token_count_bpe",
    "char_trigram_profile",
    "ann_pq_topk",
    "bpe_vocab_tokenize",
    "sample_weighted_tokens",
    "text_gopher_filters",
    "text_classifier_score",
    "chunk_windows",
    "sample_by_quality",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The pinned round window comes first (see _WINDOW), then the
    never-driver-verified backlog (_DEFERRED + later registrations),
    proven queries last.
    """
    from corkscrew_spark.plans.queries import QUERIES

    pos = {n: i for i, n in enumerate(_WINDOW)}
    ordered = sorted(
        QUERIES,
        key=lambda n: (n not in pos, n in _DRIVER_RECORDED,
                       pos.get(n, 0)),
    )
    return {n: QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each SQL-expressible query.

    Keys absent here (but present in ``queries()``) are non-SQL-expressible
    operators (iterative/stateful); the driver records a rows-only check.
    """
    from corkscrew_spark.plans.queries import ORACLE

    return dict(ORACLE)
