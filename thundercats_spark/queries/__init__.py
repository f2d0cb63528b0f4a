"""Query registry: every implemented operator/query from SURVEY.md §2
registers a (spark_fn, oracle_sql) pair here. ``spark_fn(spark, sf_dir)
-> DataFrame``; ``oracle_sql`` is ANSI SQL DuckDB runs on the same
parquet (views pre-registered by the driver), or None for ops that SQL
can't express (driver then does a rows-only check)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _REGISTRY[name] = Query(name, fn, oracle)
        return fn

    return deco


def read_raw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One driver table as stored, with the session pins every read
    needs. The driver calls queries on a BARE session (not get_spark),
    so pin the session timezone here: epoch_us's NTZ->LTZ conversion
    must be the fixed UTC mapping or DST in the host JVM zone would
    bend time deltas away from the DuckDB oracle (naive ts = UTC).
    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects, so events is read with ts as a nanos long (legacy
    flag); ``load`` converts it."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def load(spark: SparkSession, sf_dir: str, *tables: str) -> dict[str, DataFrame]:
    """Read driver tables through ``read_raw``, converting a nanos-long
    ``events.ts`` to a microsecond timestamp (``div 1000``: integer
    division, no float rounding)."""
    out = {}
    for t in tables:
        df = read_raw(spark, sf_dir, t)
        if t == "events":
            from pyspark.sql import functions as F
            from pyspark.sql.types import LongType

            if isinstance(df.schema["ts"].dataType, LongType):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out[t] = df
    return out


# Driver-verification rotation. The driver checks the first ~50 registry
# entries per round, in order, so the registry is sorted
# oldest-verification-first: never-verified entries (new queries) lead,
# then entries whose LATEST driver row is the oldest round, ending with
# the freshest-verified tail (a name in several sets counts at its
# latest). Every query still runs in pytest and tools/verify_oracle.py
# regardless of order.
_VERIFIED_R01 = {
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q10_returned_items", "events_daily_rollup", "events_user_topk",
    "events_sessionize", "asof_join_events_orders", "q6_forecast_revenue",
    "q4_priority_semi", "customers_no_recent_orders", "q14_promo_share",
    "q18_large_orders", "events_rollup_hierarchy", "customer_running_total",
    "doc_word_frequencies", "customer_balance_stats", "supplier_name_distance",
    "q12_priority_classes", "events_resample_ffill", "q15_top_supplier",
    "q2_cheapest_supplier", "customer_cohorts_setops", "orders_above_segment_avg",
    "q7_nation_volume", "q9_product_profit", "doc_tfidf_top_terms",
    "events_range_join", "orders_cube_summary", "orders_pivot_by_priority",
    "customer_balance_quartiles", "customer_order_gaps", "events_funnel_conversion",
    "events_retention_cohorts", "orders_value_percentiles",
    "customer_balance_rank_dist", "orders_balance_correlation",
    "orders_latest_per_customer", "dedup_exact", "ngram_jaccard_pairs",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk", "text_token_stats",
    "text_quality_score", "text_lang_id", "doc_fingerprint",
}

# Names whose latest driver hash-match is round 2 (CORRECTNESS_r02.json)
# — the freshest verification, so they fill the registry tail.
_VERIFIED_R02 = {
    "ann_indexed_topk", "llm_clean_pipeline", "dedup_connected_groups",
    "doc_bigram_logprob", "doc_repetition_score", "doc_source_mix",
    "doc_decontaminate", "corpus_split_stratified", "doc_decontaminate_fuzzy",
    "corpus_split_leakage_safe", "doc_pii_scrub", "ann_batch_topk",
    "doc_quality_funnel", "dedup_keep_best", "corpus_pack_sequences",
    "dedup_semantic", "dedup_minhash_oph", "doc_repeated_spans",
    "doc_span_dup_fraction", "corpus_shuffle_order", "doc_remove_repeated_spans",
    "corpus_sample_per_source", "join_inner", "join_left", "join_outer",
    "join_broadcast", "join_expr", "group_agg_map", "group_agg_cols",
    "filter_where", "filter_na", "filter_range", "order_by", "add_column",
    "agg_reduce", "agg_by_key", "select_rename", "text_trim",
    "events_json_extract", "q8_market_share", "q11_important_parts",
    "q13_order_distribution", "q16_supplier_variety", "q17_small_quantity",
    "q19_disjunctive_revenue", "q20_volume_suppliers", "q21_waiting_suppliers",
    "q22_idle_customers", "q1_pricing_summary", "q3_shipping_priority",
}

# Names whose latest driver check is round 3 (CORRECTNESS_r03.json):
# the r01-stale window plus the two round-3 registrations.
_VERIFIED_R03 = {
    "ann_lsh_indexed", "corpus_token_budget", "q5_local_supplier",
    "q10_returned_items", "events_daily_rollup", "events_user_topk",
    "events_sessionize", "asof_join_events_orders", "q6_forecast_revenue",
    "q4_priority_semi", "customers_no_recent_orders", "q14_promo_share",
    "q18_large_orders", "events_rollup_hierarchy", "customer_running_total",
    "doc_word_frequencies", "customer_balance_stats", "supplier_name_distance",
    "q12_priority_classes", "events_resample_ffill", "q15_top_supplier",
    "q2_cheapest_supplier", "customer_cohorts_setops", "orders_above_segment_avg",
    "q7_nation_volume", "q9_product_profit", "doc_tfidf_top_terms",
    "events_range_join", "orders_cube_summary", "orders_pivot_by_priority",
    "customer_balance_quartiles", "customer_order_gaps", "events_funnel_conversion",
    "events_retention_cohorts", "orders_value_percentiles",
    "customer_balance_rank_dist", "orders_balance_correlation",
    "orders_latest_per_customer", "dedup_exact", "ngram_jaccard_pairs",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk", "text_token_stats",
    "text_quality_score", "text_lang_id", "doc_fingerprint",
}

# Names whose latest driver hash-match (or rows-only-by-design row) is
# round 4 (CORRECTNESS_r04.json). embedding_quantize is deliberately
# absent — its r04 driver row errored (result-shape), so it stays at
# its prior tier and leads round 5's window with the r02-stale names.
_VERIFIED_R04 = {
    "add_column", "agg_reduce", "ann_batch_topk", "ann_indexed_topk",
    "ann_quantized_topk", "corpus_drift_report", "corpus_manifest",
    "corpus_pack_sequences", "corpus_packed_sequences",
    "corpus_repeat_epochs", "corpus_sample_per_source",
    "corpus_shuffle_order", "corpus_snapshot_diff",
    "corpus_split_leakage_safe", "corpus_split_stratified",
    "corpus_temperature_sample", "corpus_token_budget_per_source",
    "dedup_cluster_sizes", "dedup_connected_groups", "dedup_keep_best",
    "dedup_minhash_oph", "dedup_semantic", "doc_bigram_logprob",
    "doc_chunk_windows", "doc_decontaminate", "doc_decontaminate_fuzzy",
    "doc_pii_scrub", "doc_quality_classifier_score", "doc_quality_funnel",
    "doc_remove_repeated_spans", "doc_repeated_spans",
    "doc_repetition_score", "doc_source_mix", "doc_span_dup_fraction",
    "embedding_norm_stats", "filter_na", "filter_range", "filter_where",
    "group_agg_cols", "group_agg_map", "join_broadcast", "join_expr",
    "join_inner", "join_left", "join_outer", "llm_clean_pipeline",
    "order_by", "q1_pricing_summary", "q3_shipping_priority",
}

# Names whose latest driver row is round 5 (CORRECTNESS_r05.json): all
# 50 window entries were green (47 hash-match + 3 rows-only by design),
# so the whole window advances to the r05 tier.
_VERIFIED_R05 = {
    "embedding_quantize", "ann_ivf_quantized", "doc_bpe_encode_persisted",
    "corpus_dedup_rate_by_source", "corpus_tokenizer_fertility",
    "agg_by_key", "select_rename", "text_trim", "events_json_extract",
    "q8_market_share", "q11_important_parts", "q13_order_distribution",
    "q16_supplier_variety", "q17_small_quantity", "q19_disjunctive_revenue",
    "q20_volume_suppliers", "q21_waiting_suppliers", "q22_idle_customers",
    "q5_local_supplier", "q10_returned_items", "events_daily_rollup",
    "events_user_topk", "events_sessionize", "asof_join_events_orders",
    "q6_forecast_revenue", "q4_priority_semi", "customers_no_recent_orders",
    "q14_promo_share", "q18_large_orders", "events_rollup_hierarchy",
    "customer_running_total", "doc_word_frequencies",
    "customer_balance_stats", "supplier_name_distance",
    "q12_priority_classes", "events_resample_ffill", "q15_top_supplier",
    "q2_cheapest_supplier", "customer_cohorts_setops",
    "orders_above_segment_avg", "q7_nation_volume", "q9_product_profit",
    "doc_tfidf_top_terms", "events_range_join", "orders_cube_summary",
    "orders_pivot_by_priority", "customer_balance_quartiles",
    "customer_order_gaps", "events_funnel_conversion",
    "events_retention_cohorts",
}

# Names whose latest driver row is round 6 (CORRECTNESS_r06.json): all
# 50 window entries were green (39 hash-match + 11 rows-only by
# design), so the whole window advances to the r06 tier.
_VERIFIED_R06 = {
    "orders_salted_agg", "lineitem_salted_join", "orders_top_per_segment",
    "orders_key_skew", "orders_percentiles_distributed",
    "orders_percentiles_disc", "corpus_dedup_lineage", "ann_batch_indexed",
    "ann_batch_lsh_indexed", "doc_decontamination_report",
    "ann_lsh_quantized", "corpus_packing_efficiency",
    "corpus_embedding_clusters", "embedding_cluster_drift",
    "corpus_cluster_exemplars", "corpus_balanced_shards",
    "doc_quality_outliers", "corpus_token_percentiles",
    "orders_value_percentiles", "customer_balance_rank_dist",
    "orders_balance_correlation", "orders_latest_per_customer",
    "dedup_exact", "ngram_jaccard_pairs", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_cosine", "ann_bruteforce_topk",
    "ann_lsh_topk", "ann_ivf_topk", "ann_lsh_indexed", "text_token_stats",
    "text_quality_score", "text_lang_id", "doc_fingerprint",
    "corpus_token_budget", "q1_pricing_summary", "q3_shipping_priority",
    "ann_indexed_topk", "llm_clean_pipeline", "dedup_connected_groups",
    "doc_bigram_logprob", "doc_repetition_score", "doc_source_mix",
    "doc_decontaminate", "corpus_split_stratified",
    "doc_decontaminate_fuzzy", "corpus_split_leakage_safe",
    "doc_pii_scrub", "ann_batch_topk",
}

# Names whose latest driver row is round 7 (CORRECTNESS_r07.json): all
# 50 window entries were green (48 hash-match + 2 rows-only by
# design), so the whole window advances to the r07 tier.
# part_affinity_lift is deliberately ABSENT despite its green r07 row:
# r08 rewired its plan (single-scan checkpoint + broadcast n_baskets +
# max_basket guard), so its tier is reset to 0 to force a re-check in
# the r08 driver window (VERDICT r07 next-round #3).
_VERIFIED_R07 = {
    "customer_order_moving_avg",
    "customer_rfm_scores", "doc_quality_funnel", "dedup_keep_best",
    "corpus_pack_sequences", "dedup_semantic", "dedup_minhash_oph",
    "doc_repeated_spans", "doc_span_dup_fraction", "corpus_shuffle_order",
    "doc_remove_repeated_spans", "corpus_sample_per_source",
    "corpus_token_budget_per_source", "doc_chunk_windows",
    "corpus_repeat_epochs", "corpus_drift_report",
    "corpus_packed_sequences", "corpus_temperature_sample",
    "embedding_norm_stats", "doc_quality_classifier_score",
    "dedup_cluster_sizes", "ann_quantized_topk", "corpus_manifest",
    "corpus_snapshot_diff", "join_inner", "join_left", "join_outer",
    "join_broadcast", "join_expr", "group_agg_map", "group_agg_cols",
    "filter_where", "filter_na", "filter_range", "order_by", "add_column",
    "agg_reduce", "q5_local_supplier", "q10_returned_items",
    "events_daily_rollup", "events_user_topk", "events_sessionize",
    "asof_join_events_orders", "q6_forecast_revenue", "q4_priority_semi",
    "customers_no_recent_orders", "q14_promo_share", "q18_large_orders",
    "events_rollup_hierarchy",
}

# Names whose latest driver row is round 8 (CORRECTNESS_r08.json): all
# 50 window entries were green (47 hash-match + 3 rows-only by design,
# each returning rows), so the whole window advances to the r08 tier.
# Generated by tools/rotation_next.py 8; judge-confirmed in VERDICT r08.
_VERIFIED_R08 = {
    "part_affinity_lift", "orders_grouping_sets",
    "customer_hierarchy_walk", "orders_range_frame_window",
    "orders_stream_batch_join", "lineitem_unpivot_metrics",
    "events_sliding_distinct_users", "part_brand_price_regression",
    "events_stream_window_agg", "events_stream_stream_join",
    "customer_running_total", "doc_word_frequencies",
    "customer_balance_stats", "supplier_name_distance",
    "q12_priority_classes", "events_resample_ffill", "q15_top_supplier",
    "q2_cheapest_supplier", "customer_cohorts_setops",
    "orders_above_segment_avg", "q7_nation_volume", "q9_product_profit",
    "doc_tfidf_top_terms", "events_range_join", "orders_cube_summary",
    "orders_pivot_by_priority", "customer_balance_quartiles",
    "customer_order_gaps", "events_funnel_conversion",
    "events_retention_cohorts", "embedding_quantize",
    "ann_ivf_quantized", "doc_bpe_encode_persisted",
    "corpus_dedup_rate_by_source", "corpus_tokenizer_fertility",
    "agg_by_key", "select_rename", "text_trim", "events_json_extract",
    "q8_market_share", "q11_important_parts", "q13_order_distribution",
    "q16_supplier_variety", "q17_small_quantity",
    "q19_disjunctive_revenue", "q20_volume_suppliers",
    "q21_waiting_suppliers", "q22_idle_customers", "q1_pricing_summary",
    "q3_shipping_priority",
}

# Names whose latest driver row is round 9 (CORRECTNESS_r09.json): all
# 50 window entries were green (39 hash-match + 11 rows-only by design,
# each returning rows), so the whole window advances to the r09 tier.
# Generated by tools/rotation_next.py 9; judge-confirmed in VERDICT r09.
_VERIFIED_R09 = {
    "customer_scd2_intervals", "orders_nested_lineitems",
    "orders_value_percentiles", "customer_balance_rank_dist",
    "orders_balance_correlation", "orders_latest_per_customer",
    "orders_salted_agg", "lineitem_salted_join",
    "orders_top_per_segment", "orders_key_skew",
    "orders_percentiles_distributed", "orders_percentiles_disc",
    "dedup_exact", "corpus_dedup_lineage", "ngram_jaccard_pairs",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk",
    "ann_indexed_topk", "ann_lsh_indexed", "text_token_stats",
    "text_quality_score", "text_lang_id", "doc_fingerprint",
    "llm_clean_pipeline", "dedup_connected_groups",
    "doc_bigram_logprob", "doc_repetition_score", "doc_source_mix",
    "doc_decontaminate", "corpus_split_stratified",
    "doc_decontaminate_fuzzy", "corpus_split_leakage_safe",
    "doc_pii_scrub", "ann_batch_topk", "corpus_token_budget",
    "ann_batch_indexed", "ann_batch_lsh_indexed",
    "doc_decontamination_report", "ann_lsh_quantized",
    "corpus_packing_efficiency", "corpus_embedding_clusters",
    "embedding_cluster_drift", "corpus_cluster_exemplars",
    "corpus_balanced_shards", "doc_quality_outliers",
    "corpus_token_percentiles",
}

# Names whose latest driver row is round 10 (CORRECTNESS_r10.json): all
# 50 window entries were green (48 hash-match + 2 rows-only by design,
# each returning rows), so the whole window advances to the r10 tier.
# Generated by tools/rotation_next.py 10.
_VERIFIED_R10 = {
    "orders_scd2_attribution", "nation_revenue_share",
    "orders_monthly_growth", "orders_price_histogram",
    "doc_weighted_quality_median", "doc_char_entropy",
    "dedup_pair_score_histogram", "orders_priority_mode",
    "doc_weighted_percentiles_global", "orders_backlog_sweepline",
    "customer_revenue_pareto", "events_type_transitions",
    "events_daily_anomaly", "doc_source_vocab_overlap",
    "orders_cohort_ltv", "doc_len_quality_contingency",
    "events_interarrival_decades", "dedup_graph_degree_dist",
    "events_dow_hour_heatmap", "customer_nation_hhi",
    "q10_returned_items", "customer_order_moving_avg",
    "customer_rfm_scores", "doc_quality_funnel", "dedup_keep_best",
    "corpus_pack_sequences", "dedup_semantic", "dedup_minhash_oph",
    "doc_repeated_spans", "doc_span_dup_fraction",
    "corpus_shuffle_order", "doc_remove_repeated_spans",
    "corpus_sample_per_source", "corpus_token_budget_per_source",
    "doc_chunk_windows", "corpus_repeat_epochs", "corpus_drift_report",
    "corpus_packed_sequences", "corpus_temperature_sample",
    "embedding_norm_stats", "doc_quality_classifier_score",
    "dedup_cluster_sizes", "ann_quantized_topk", "corpus_manifest",
    "corpus_snapshot_diff", "q1_pricing_summary",
    "q3_shipping_priority", "customer_running_total",
    "doc_word_frequencies", "customer_balance_stats",
}

# Oldest-first round lists; a name's effective round is the LAST list
# containing it. Append future rounds' sets here.
#
# Coverage period: the driver window checks exactly the first 50
# entries per round, so every entry gets a driver row at least every
# ceil(N/50) rounds (never-verified entries always lead). Between
# driver windows, EVERY query still runs each round in pytest
# (schema/determinism) and tools/verify_oracle.py (full value parity —
# re-run in full each round).
#
# ROTATION-CAPACITY POLICY (decided r09, see SURVEY §7): the staleness
# contract stays a 3-round window, which caps the registry at
# 3 × 50 = 150 entries. At 147 registered after r08, r09 registers at
# most 150 − 147 − 1 = 2 net-new queries (the tools/rotation_next.py
# slack number) and spends the rest of the round on depth (proofs,
# codecs, [T]-only operators). Any future registration beyond 150
# requires first retiring an entry or explicitly widening the window
# contract in this comment AND SURVEY §7 with the re-done arithmetic.
#
# RETIREMENT POLICY (decided r10, see SURVEY §7): an entry may retire
# from the driver rotation — exempting it from the 3-round staleness
# window and freeing its slot — only when ALL of:
#   (a) it has GREEN driver rows (hash-exact, or rows-only-by-design
#       with rows > 0) in >= 3 distinct rounds — enforced
#       programmatically by tests/test_queries.py's retirement gate,
#       which recounts from the raw CORRECTNESS_r*.json files;
#   (b) its plan is frozen: no source change to the query or the
#       operators it exercises since its last green driver row;
#   (c) it STAYS REGISTERED — retirement only moves it to the registry
#       tail (latest_round = +inf), so tools/verify_oracle.py still
#       value-checks it against DuckDB every round and every pytest
#       plan/schema gate still covers it. Retirement narrows the
#       DRIVER's sampling, never the verification surface.
# Retired entries are listed with the rounds that qualified them; a
# retirement is reversed by simply removing the name from _RETIRED
# (it re-enters the window at its historical tier).
# Capacity arithmetic after a retirement: non-retired registry size is
# capped at 150; per-round slack = 50 − (never-verified count) −
# (non-retired entries whose tier is <= round−2), printed by
# tools/rotation_next.py.
_RETIRED = {
    # §2.1 relational primitive wrappers (ops.py plumbing, frozen since
    # r01/r02 — git: queries/relational.py c912ab4, physical/ops.py
    # d5e0daf). Each hash-exact in 3 driver rounds:
    "join_inner",       # r02 r04 r07
    "join_left",        # r02 r04 r07
    "join_outer",       # r02 r04 r07
    "join_broadcast",   # r02 r04 r07
    "join_expr",        # r02 r04 r07
    "group_agg_map",    # r02 r04 r07
    "group_agg_cols",   # r02 r04 r07
    "filter_where",     # r02 r04 r07
    "filter_na",        # r02 r04 r07
    "filter_range",     # r02 r04 r07
    "order_by",         # r02 r04 r07
    "add_column",       # r02 r04 r07
    "agg_reduce",       # r02 r04 r07
    "agg_by_key",       # r02 r05 r08
    "select_rename",    # r02 r05 r08
    "text_trim",        # r02 r05 r08
    # RETIREMENT WAVE 2 (r10, second tranche): the r01-original
    # headline queries with FOUR green driver rounds each and frozen
    # source since their last green (queries/tpch.py and analytics.py
    # untouched since before r07 for these; physical/ops.py frozen
    # since r05-era). q10_returned_items is deliberately NOT retired
    # despite the same green record: r08-s2 refactored its body into
    # the shared q10_shape/q10_filters builders (890f11e) AFTER its
    # r07 green — plan-identical by the bucketed parity pin, but the
    # policy's freeze clause is source-level, so it stays in rotation
    # until it re-greens post-refactor. Effect on the windows: 11
    # r08-tier entries pull forward into the r10 window; r11 slack
    # rises 3 → 14 (arithmetic in SURVEY §7, tools/rotation_next.py).
    "q5_local_supplier",          # r01 r03 r05 r07
    "events_daily_rollup",        # r01 r03 r05 r07
    "events_user_topk",           # r01 r03 r05 r07
    "events_sessionize",          # r01 r03 r05 r07
    "asof_join_events_orders",    # r01 r03 r05 r07
    "q6_forecast_revenue",        # r01 r03 r05 r07
    "q4_priority_semi",           # r01 r03 r05 r07
    "customers_no_recent_orders", # r01 r03 r05 r07
    "q14_promo_share",            # r01 r03 r05 r07
    "q18_large_orders",           # r01 r03 r05 r07
    "events_rollup_hierarchy",    # r01 r03 r05 r07
    # RETIREMENT WAVE 3 (r11): the tpch2.py remainder — source frozen
    # since wave 4 (1e8f7a7, r04) with three green rounds each — plus
    # q10_returned_items, whose wave-2 blocker (the r08-s2 890f11e
    # body refactor postdating its r07 green) is resolved: it
    # re-greened hash-exact in r10 over the refactored body. Window
    # effect: r11 driver demand drops 42 -> 28 r08-tier entries;
    # registration slack rises 8 -> 22, live-cap headroom 8 -> 23
    # (arithmetic re-printed by tools/rotation_next.py; SURVEY §7).
    "q2_cheapest_supplier",       # r01 r03 r05 r08
    "q7_nation_volume",           # r01 r03 r05 r08
    "q8_market_share",            # r02 r05 r08
    "q9_product_profit",          # r01 r03 r05 r08
    "q11_important_parts",        # r02 r05 r08
    "q12_priority_classes",       # r01 r03 r05 r08
    "q13_order_distribution",     # r02 r05 r08
    "q15_top_supplier",           # r01 r03 r05 r08
    "q16_supplier_variety",       # r02 r05 r08
    "q17_small_quantity",         # r02 r05 r08
    "q19_disjunctive_revenue",    # r02 r05 r08
    "q20_volume_suppliers",       # r02 r05 r08
    "q21_waiting_suppliers",      # r02 r05 r08
    "q22_idle_customers",         # r02 r05 r08
    "q10_returned_items",         # r01 r03 r05 r07 r10
}
_ROUNDS = [
    _VERIFIED_R01, _VERIFIED_R02, _VERIFIED_R03, _VERIFIED_R04,
    _VERIFIED_R05, _VERIFIED_R06, _VERIFIED_R07, _VERIFIED_R08,
    _VERIFIED_R09, _VERIFIED_R10,
]


def all_queries() -> dict[str, Query]:
    # Import side-effect populates the registry.
    from thundercats_spark.queries import (  # noqa: F401
        analytics,
        analytics2,
        analytics3,
        analytics4,
        analytics5,
        analytics6,
        analytics7,
        analytics8,
        analytics9,
        analytics10,
        analytics11,
        analytics12,
        llm_ops,
        llm_ops2,
        relational,
        tpch,
        tpch2,
    )

    def latest_round(name: str) -> float:
        if name in _RETIRED:
            # Retired from the driver rotation (see RETIREMENT POLICY
            # above): sorts after every live tier so it never re-enters
            # the first-50 driver window; still registered, so
            # verify_oracle.py and pytest keep checking it each round.
            return float("inf")
        rnd = 0  # 0 = never driver-verified → head of the rotation
        for i, s in enumerate(_ROUNDS, start=1):
            if name in s:
                rnd = i
        return rnd

    # Stable within a tier (registration order preserves the family
    # grouping the correctness files have always shown).
    ordered = sorted(
        _REGISTRY.items(), key=lambda kv: latest_round(kv[0])
    )
    return dict(ordered)
