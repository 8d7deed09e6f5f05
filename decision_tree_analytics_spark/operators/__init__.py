"""Operator inventory.

Each operator module exports:

* ``QUERIES``: dict[name -> callable(spark, sf_dir) -> DataFrame]
* ``ORACLES``: dict[name -> ANSI SQL string runnable by DuckDB on the
  same parquet tables]  (a query without an oracle entry is checked
  rows-only by the driver — reserved for genuinely non-SQL ops).

``__spark_entry__.py`` merges these dicts for the driver contract.
"""

import glob as _glob
import json as _json
import os as _os
import re as _re

from decision_tree_analytics_spark.operators import (  # noqa: F401
    analytics,
    cdc,
    dedup,
    graph,
    ml_inventory,
    multimodal,
    pending_r12,
    pending_r14,
    relational,
    retrieval,
    similarity,
    skew,
    source_io,
    stats_ext,
    streaming_inventory,
    text,
    tpch,
    udf_inventory,
)

ALL_MODULES = (
    relational,
    analytics,
    ml_inventory,
    dedup,
    similarity,
    text,
    multimodal,
    streaming_inventory,
    udf_inventory,
    tpch,
    skew,
    cdc,
    graph,
    stats_ext,
    retrieval,
    source_io,
    # r12: the five round-12 operators + mm_video_frame_plan (r14).
    pending_r12,
    # r14: the arrow-optimized Python UDTF lane (udf_token_spans).
    pending_r14,
)

# Extra bench queries beyond bench.py's HEADLINE set.
BENCH_EXTRAS = [
    "q26_dt_train_predict",
    "dedup_minhash_lsh_pairs",
    "dedup_incremental",
    "sim_cosine_topk",
    "ns_text_quality",
    "ns_text_subword",
    "ns_corpus_curate",
    "tpch_q5_local_supplier_volume",
    "tpch_q12_priority_shipping",
    "tpch_q1_pricing_summary",
    "tpch_q21_waiting_suppliers",
    "rel_grouped_topk",
    "rel_asof_join",
    "sim_pq_topk",
    "rel_gap_fill",
    "udf_secondary_sort",
    "rel_kmv_setops",
    "dedup_canonical",
    "dedup_canonical_snapshot",
    "dedup_semantic_components",
    "ns_seq_pack",
    "rel_seq_patterns",
    "ns_train_manifest",
    "rel_bm25_topk",
    "sim_hybrid_rrf",
    "ml_logreg_gd",
    "ns_gopher_filter",
    "ml_naive_bayes",
    "mm_chunk_dedup",
    "ns_pii_scrub",
    "ml_kcenter_select",
    "rel_twap",
    "dedup_substring",
    "ml_gbt_stumps",
    "ns_incremental_manifest",
    "rel_survival_km",
    "src_bucketed_join",
    "dedup_bloom_prefilter",
    "ns_bigram_lm",
    "sim_srp_recall_eval",
    "graph_label_propagation",
    "ml_target_encoding",
    "dedup_paragraph",
    "rel_countmin_sketch",
    "sim_ivf_snapshot",
    "ml_ndcg_eval",
    "graph_shortest_path",
    "ns_curriculum_order",
    "ml_kmeans_lloyd",
    "ns_quality_model",
    "ml_isotonic_calibration",
    "graph_mst",
    "rel_viterbi_states",
    "graph_scc",
    "graph_betweenness",
    "rel_gaps_islands",
    "rel_assoc_rules",
    "ml_shap_linear",
    "rel_ewma_trend",
    "rel_rolling_ols",
    "rel_gini",
    "rel_theil_sen",
    "rel_changepoint",
    "graph_closeness",
    "ml_brier_decomposition",
    "src_schema_merge",
    "ml_learning_curve",
    "ml_threshold_tuning",
    "graph_kcore",
    "rel_funnel_latency",
    "ns_boilerplate_prefix",
    "sim_embedding_audit",
    "ns_code_detect",
    "src_csv_malformed",
    "ml_bootstrap_ci",
    "graph_hits",
    "ns_span_corruption",
    "mm_audio_chunk_plan",
    "src_python_datasource",
    "rel_hhi",
    "ml_mcc_kappa",
    # r9 additions
    "ns_manifest_diff",
    "dedup_url_quota",
    "rel_cuped",
    "ml_sprt_monitor",
    "ml_pr_auc",
    "ns_oov_rate",
    "ns_chat_template",
    "snap_compaction_plan",
    "graph_random_walks",
    "rel_power_analysis",
    "ns_tokenizer_fertility",
    # r10 additions
    "ns_epoch_plan",
    "snap_skipping_audit",
    "snap_overlap_depth",
    # r11 addition
    "ns_preference_pairs",
    # r12 additions
    "ns_rejection_sample",
    "snap_vacuum_plan",
    "ml_quantile_reg",
    "rel_did",
    "rel_mann_kendall",
    # r14 registrations:
    "udf_token_spans",
    "mm_video_frame_plan",
]


# Query names that already received a driver CORRECTNESS row in
# rounds 1-2 (union of CORRECTNESS_r01/r02 sample keys, minus
# rel_approx_quantile whose r02 row errored before validating).  The
# driver samples a 50-query subset per round in enumeration order, so
# all_queries() lists never-sampled queries FIRST to rotate coverage
# across rounds (VERDICT r2 item 6).  Names themselves are stable.
_DRIVER_SAMPLED = {
    "dedup_embedding_neardup", "dedup_exact_fingerprint", "dedup_minhash_lsh_pairs",
    "dedup_minhash_signature", "dedup_ngram_jaccard", "dedup_simhash",
    "q01_scan_project", "q02_project_exclude", "q03_null_filter",
    "q04_label_derive", "q05_compound_filter", "q06_inner_join",
    "q07_broadcast_dim_join", "q08_left_join", "q09_semi_join",
    "q10_anti_join", "q11_hash_agg", "q12_distinct_agg",
    "q13_cardinality", "q14_approx_distinct", "q15_rollup",
    "q16_window_keep_first", "q17_window_lag", "q18_window_running_sum",
    "q19_topk", "q20_set_ops", "q21_string_fns",
    "q22_date_fns", "q23_math_fns", "q24_exact_dedup",
    "q25_feature_assembly", "q26_dt_train_predict",
    "rel_array_fns", "rel_asof_join", "rel_conditional_fns",
    "rel_cube", "rel_event_pattern", "rel_explode",
    "rel_funnel", "rel_grouped_topk", "rel_grouping_sets",
    "rel_histogram_quantile", "rel_incremental_agg", "rel_json_fns",
    "rel_kmv_distinct", "rel_map_fns", "rel_percentile",
    "rel_pivot", "rel_profile", "rel_range_join",
    "rel_rank_family", "rel_sessionize", "rel_stats_fns",
    "rel_stratified_sample", "rel_string_pad_fns", "rel_time_rollup",
    "rel_unpivot", "sim_ann_buckets", "sim_ann_topk",
    "sim_cosine_topk", "sim_embed_nn", "sim_ivf_topk",
    # round 3 sample (CORRECTNESS_r03.json key set, all green — the
    # rel_approx_quantile row is a clean no_oracle rows-only check).
    "dedup_canonical", "dedup_canonical_snapshot", "dedup_components",
    "dedup_containment", "dedup_incremental", "dedup_prefix_join",
    "dedup_semantic_components", "ml_baseline_metrics", "ml_centroid_assign",
    "ml_cv_select", "ml_feature_importance", "ml_kcenter_select",
    "ml_knn_classify", "ml_logreg_gd", "ml_naive_bayes",
    "ml_rf_train_predict", "ml_ridge_normal_eq", "ns_dataset_card",
    "ns_decontaminate", "ns_domain_mix", "ns_gopher_filter",
    "ns_lang_rebalance", "ns_perplexity_proxy", "ns_pii_scrub",
    "ns_seq_pack", "ns_shard_interleave", "ns_train_manifest",
    "rel_ab_test", "rel_approx_quantile", "rel_attribution",
    "rel_attribution_markov", "rel_bitwise_fns", "rel_cohort_retention",
    "rel_concurrency", "rel_data_quality", "rel_gap_fill",
    "rel_kmv_setops", "rel_range_frame", "rel_running_distinct",
    "rel_scd2_build", "rel_table_fingerprint", "rel_twap",
    "rel_variant_fns", "rel_weighted_sample", "rel_zorder_key",
    "sim_label_centroid_dist", "sim_pq_topk", "sim_rp_reduce",
    "sim_sq_refined_topk", "sim_sq_topk",
    # round 4 sample (CORRECTNESS_r04.json key set, 50/50 hash-green).
    "dedup_lsh_recall_eval", "dedup_substring", "dedup_substring_stats",
    "ml_auc_roc", "ml_gbt_stumps", "ml_lift_curve",
    "ml_pca_power", "ml_psi_drift", "mm_binary_meta",
    "mm_byte_stats", "mm_chunk_dedup", "mm_header_parse",
    "mm_patch_manifest", "mm_shard_assign", "mm_shard_checksums",
    "ns_corpus_curate", "ns_curation_report", "ns_incremental_manifest",
    "ns_manifest_spans", "ns_pack_efficiency", "ns_seq_spans",
    "ns_text_bigrams", "ns_text_chunk", "ns_text_fingerprint",
    "ns_text_langid", "ns_text_levenshtein", "ns_text_quality",
    "ns_text_repetition", "ns_text_subword", "ns_text_tfidf_top",
    "ns_text_tokens", "ns_text_winnow", "sim_ivf_oracled",
    "sim_threshold_sweep", "sql_text_revenue", "stream_cusum",
    "stream_enrich_segments", "stream_rate_monitor", "stream_recent_pairs",
    "stream_sessionize", "stream_snapshot_ingest", "stream_topk",
    "stream_window_dedup", "stream_windowed_counts", "udf_batch_inference",
    "udf_frame_sample", "udf_grouped_zscore", "udf_heavy_hitters",
    "udf_secondary_sort", "udf_user_gap_stats",
    # round 5 sample (CORRECTNESS_r05.json key set, 50/50 hash-green).
    "cdc_merge_upsert", "dedup_bloom_prefilter", "graph_khop",
    "graph_label_propagation", "graph_pagerank", "graph_triangles",
    "ml_calibration_bins", "ml_conformal_interval", "ml_confusion_matrix",
    "ml_target_encoding", "ns_bigram_lm", "rel_agg_quantifiers",
    "rel_benford", "rel_entropy", "rel_mutual_info",
    "rel_pit_features", "rel_quantile_bin", "rel_seasonality",
    "rel_top_movers", "rel_winsorize", "sim_centroid_drift",
    "sim_srp_recall_eval", "skew_salted_join", "snap_incremental_read",
    "snap_row_diff", "snap_time_travel", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q16_parts_promotion",
    "tpch_q17_small_quantity_revenue", "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_predicates", "tpch_q1_pricing_summary",
    "tpch_q20_excess_suppliers", "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_type_profit", "udf_dtw_profile", "udf_holt_smooth",
}

# Queries whose code was MATERIALLY REWRITTEN after their last driver
# CORRECTNESS row (so the recorded verification certifies stale code).
# Enumerated right after the never-sampled names so the driver's
# 50-query window re-verifies the CURRENT code.  Once a fresh green
# row lands the zero-churn loader demotes the name automatically —
# remove it here on the next rotation refresh.  r12 state: EMPTY —
# nothing driver-verified was rewritten in r12 (rel_did's sign-split
# landed BEFORE its first registration, so it enumerates as fresh).
# The r12 window is the 5 fresh registrations + the 45 r06-verified
# names, zero slack; r13's window is the 50-name r07 tail, so r13
# must add NO fresh contract queries.
_RECHECK_PRIORITY = []


def _driver_verified_rounds(root=None):
    """name -> LATEST round whose driver CORRECTNESS row verified it.

    A row counts as verified when hash-green, or a clean rows-only
    check (err == 'no_oracle'); a real error string (like r02's
    unhashable-array traceback) does NOT count.  Auto-loading every
    CORRECTNESS_r*.json at the repo root makes the per-round sample
    rotation ZERO-CHURN: the moment the driver drops a new file, the
    next round's enumeration demotes the newly verified names.
    Keeping the round number (not just membership) lets all_queries()
    order verified names STALEST-FIRST, so the driver's 50-sample
    window continuously re-checks the longest-unverified fifth of the
    contract (VERDICT r7 item 3).  ``root`` is injectable for tests;
    defaults to the repo root."""
    out = {}
    if root is None:
        root = _os.path.dirname(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        )
    for f in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if isinstance(r, dict) and (
                r.get("hash_match") is True or r.get("err") == "no_oracle"
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def _driver_verified_keys(root=None):
    """Set view of :func:`_driver_verified_rounds` (back-compat)."""
    return set(_driver_verified_rounds(root))


def all_queries():
    """Contract enumeration, in driver-sampling priority order:

    1. never-driver-verified queries (new additions) — module order;
    2. ``_RECHECK_PRIORITY`` — verified names whose code was
       materially rewritten since their row;
    3. everything else, ordered by last-verified round ASCENDING
       (stalest verification first), ties broken by module order.

    The driver samples the first 50 names, so this ordering makes the
    per-round sample verify new code first and then continuously
    re-check the stalest slice of the contract.
    """
    out = {}
    for m in ALL_MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise RuntimeError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    rounds = _driver_verified_rounds()
    # Bare-checkout fallback: the curated r1-r5 history counts as
    # verified (round 0 == maximally stale) even without the files.
    sampled = _DRIVER_SAMPLED | set(rounds)
    order = {k: i for i, k in enumerate(out)}
    fresh = [k for k in out if k not in sampled]
    recheck = [k for k in _RECHECK_PRIORITY if k in out and k not in fresh]
    rest = sorted(
        (k for k in out if k in sampled and k not in set(recheck)),
        key=lambda k: (rounds.get(k, 0), order[k]),
    )
    return {k: out[k] for k in (*fresh, *recheck, *rest)}


def all_oracles():
    out = {}
    for m in ALL_MODULES:
        out.update(m.ORACLES)
    return out
