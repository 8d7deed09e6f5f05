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
    "ns_epoch_plan",
    "snap_skipping_audit",
    "snap_overlap_depth",
    "ns_preference_pairs",
    "ns_rejection_sample",
    "snap_vacuum_plan",
    "ml_quantile_reg",
    "rel_did",
    "rel_mann_kendall",
    "udf_token_spans",
    "mm_video_frame_plan",
]


# Queries whose code was MATERIALLY REWRITTEN after their last driver
# CORRECTNESS row (so the recorded verification certifies stale code).
# Enumerated right after the never-sampled names so the driver's
# 50-query window re-verifies the CURRENT code.  Once a fresh green
# row lands the zero-churn loader demotes the name automatically —
# remove it here on the next rotation refresh.
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
    order = {k: i for i, k in enumerate(out)}
    fresh = [k for k in out if k not in rounds]
    recheck = [k for k in _RECHECK_PRIORITY if k in out and k not in fresh]
    rest = sorted(
        (k for k in out if k in rounds and k not in set(recheck)),
        key=lambda k: (rounds[k], order[k]),
    )
    return {k: out[k] for k in (*fresh, *recheck, *rest)}


def all_oracles():
    out = {}
    for m in ALL_MODULES:
        out.update(m.ORACLES)
    return out
