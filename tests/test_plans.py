"""Physical-plan shape locks — the scale-design assertions.

Each test pins a property that matters at 100 TB; a change that
de-optimizes a plan (lost pushdown, surprise shuffle, broken codegen)
fails here rather than in production."""

from __future__ import annotations

from decision_tree_analytics_spark.operators import dedup as D
from decision_tree_analytics_spark.operators import relational as R
from decision_tree_analytics_spark.operators import text as T
from decision_tree_analytics_spark.plans.inspect import (
    count_shuffles,
    has_broadcast_join,
    has_python_eval,
    has_whole_stage_codegen,
    pushed_filters,
    scan_read_schemas,
    simple_plan,
    uncached_scans,
    uses_top_k_sort,
)


def test_q01_scan_prunes_columns(spark, sf_dir):
    plan = simple_plan(R.q01_scan_project(spark, sf_dir))
    assert scan_read_schemas(plan) == [["l_orderkey", "l_quantity"]]


def test_q03_filter_pushed_to_scan(spark, sf_dir):
    plan = simple_plan(R.q03_null_filter(spark, sf_dir))
    assert "IsNotNull(value)" in pushed_filters(plan)


def test_q05_compound_predicates_pushed(spark, sf_dir):
    # formatted mode: the simple-mode FileScan line truncates long
    # filter lists.
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = formatted_plan(R.q05_compound_filter(spark, sf_dir))
    pf = pushed_filters(plan)
    assert "GreaterThanOrEqual(l_discount,0.05)" in pf
    assert "LessThan(l_quantity,24.0)" in pf


def test_q07_dims_are_broadcast_and_fact_never_shuffles(spark, sf_dir):
    plan = simple_plan(R.q07_broadcast_dim_join(spark, sf_dir))
    assert has_broadcast_join(plan)
    assert count_shuffles(plan) == 0


def test_q11_agg_is_partial_then_final(spark, sf_dir):
    plan = simple_plan(R.q11_hash_agg(spark, sf_dir))
    assert "partial_sum" in plan and "partial_avg" in plan
    assert has_whole_stage_codegen(plan)
    assert count_shuffles(plan) == 1


def test_q16_single_shuffle_for_window(spark, sf_dir):
    plan = simple_plan(R.q16_window_keep_first(spark, sf_dir))
    assert count_shuffles(plan) == 1  # one hashpartitioning on o_custkey


def test_q19_topk_never_global_sorts(spark, sf_dir):
    plan = simple_plan(R.q19_topk(spark, sf_dir))
    assert uses_top_k_sort(plan)


def test_q23_math_stays_in_codegen(spark, sf_dir):
    plan = simple_plan(R.q23_math_fns(spark, sf_dir))
    assert has_whole_stage_codegen(plan)
    assert not has_python_eval(plan)


def test_q24_dedup_partial_aggregates(spark, sf_dir):
    plan = simple_plan(R.q24_exact_dedup(spark, sf_dir))
    assert "partial_min" in plan  # map-side combine before the shuffle
    assert count_shuffles(plan) == 1


def test_text_ops_have_no_python_and_no_shuffle(spark, sf_dir):
    for q in (T.ns_text_tokens, T.ns_text_quality, T.ns_text_langid, T.ns_text_fingerprint):
        plan = simple_plan(q(spark, sf_dir))
        assert not has_python_eval(plan), q.__name__
        assert count_shuffles(plan) == 0, q.__name__


def test_exact_dedup_shuffles_hashes_not_text(spark, sf_dir):
    plan = simple_plan(D.dedup_exact_fingerprint(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "partial_min" in plan


def test_corpus_curate_single_scan_two_shuffles(spark, sf_dir):
    """The curation pipeline (quality gate → lang gate → dedup) must
    stay one scan with no joins and no tokenization recomputation; its
    two exchanges are the input spread (small-file parallelism) and
    the fingerprint-keyed dedup window."""
    plan = simple_plan(T.ns_corpus_curate(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert count_shuffles(plan) == 2
    assert "Join" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed interval join must hash on (bucket, user) — a
    naive non-equi formulation degenerates to BroadcastNestedLoopJoin
    (quadratic probe)."""
    plan = simple_plan(R.rel_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_levenshtein_window_is_partitioned(spark, sf_dir):
    # A partitionless window would plan Exchange SinglePartition and
    # funnel the whole table through one task; the blocking key must
    # make it a hashpartitioning exchange.
    plan = simple_plan(T.ns_text_levenshtein(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan


def test_tpch_q12_pushdown_and_partial_agg(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = formatted_plan(TP.tpch_q12_priority_shipping(spark, sf_dir))
    assert "l_shipdate" in pushed_filters(plan)  # date window reaches the scan
    assert "partial_sum" in plan  # conditional counts combine map-side


def test_tpch_q14_single_row_agg_pushdown(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = formatted_plan(TP.tpch_q14_promo_revenue(spark, sf_dir))
    assert "l_shipdate" in pushed_filters(plan)
    assert "partial_sum" in plan


def test_tpch_q6_is_pure_pushed_scan_agg(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = formatted_plan(TP.tpch_q6_forecast_revenue(spark, sf_dir))
    pf = pushed_filters(plan)
    assert "l_shipdate" in pf and "l_discount" in pf and "LessThan(l_quantity,24" in pf
    assert "Join" not in plan  # scan + agg only


def test_tpch_q15_top1_uses_heap_not_global_sort(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP
    from decision_tree_analytics_spark.plans.inspect import simple_plan, uses_top_k_sort

    assert uses_top_k_sort(simple_plan(TP.tpch_q15_top_supplier(spark, sf_dir)))


def test_tpch_q4_plans_semi_join(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP

    plan = simple_plan(TP.tpch_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_no_explicit_broadcast_of_part(spark, sf_dir):
    # `part` scales with SF — the plan must not carry a user broadcast
    # hint (AQE may still *choose* broadcast at small SF; that's fine).
    from decision_tree_analytics_spark.operators import tpch as TP

    df = TP.tpch_q16_parts_promotion(spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_tpch_q1_is_scan_plus_partial_agg(spark, sf_dir):
    # Full pricing summary: the date cutoff reaches the scan, the
    # eight aggregates combine map-side, and there is no join.
    from decision_tree_analytics_spark.operators import tpch as TP
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = formatted_plan(TP.tpch_q1_pricing_summary(spark, sf_dir))
    assert "l_shipdate" in pushed_filters(plan)
    assert "partial_sum" in plan
    assert "Join" not in plan


def test_tpch_q2_top100_uses_heap_not_global_sort(spark, sf_dir):
    from decision_tree_analytics_spark.operators import tpch as TP

    assert uses_top_k_sort(simple_plan(TP.tpch_q2_min_cost_supplier(spark, sf_dir)))


def test_tpch_q21_exists_chain_is_hash_joins(spark, sf_dir):
    # EXISTS / NOT EXISTS with the suppkey inequality must plan as
    # hash semi/anti joins keyed on orderkey (inequality as residual),
    # never a nested-loop or cartesian probe.
    from decision_tree_analytics_spark.operators import tpch as TP

    plan = simple_plan(TP.tpch_q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q11_threshold_is_broadcast_not_collect(spark, sf_dir):
    # The scalar threshold joins in as a one-row broadcast (driver
    # never collects); the nation restriction is a semi-join.
    from decision_tree_analytics_spark.operators import tpch as TP

    plan = simple_plan(TP.tpch_q11_important_stock(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_is_one_expand_one_shuffle(spark, sf_dir):
    # Four granularities must come from ONE pass: an Expand node and a
    # single data shuffle (partial agg map-side for every grouping
    # set), never four scans.
    plan = simple_plan(R.rel_time_rollup(spark, sf_dir))
    assert "Expand" in plan
    assert count_shuffles(plan) == 1


def test_skew_salted_join_keys_include_salt(spark, sf_dir):
    # The whole point of the pattern: the join key is (user_id, salt),
    # so a hot user fans out over N_JOIN_SALTS reducers instead of
    # hitting one.
    from decision_tree_analytics_spark.operators import skew as SK

    plan = simple_plan(SK.skew_salted_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    import re

    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "salt" in ln]
    assert join_lines, plan


def test_text_chunk_is_shuffle_free(spark, sf_dir):
    # Chunking must be a pure map/explode pipeline: rows fan out but
    # nothing ever shuffles.
    plan = simple_plan(T.ns_text_chunk(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert "Generate" in plan  # the explode


def test_text_bigrams_counts_partial_then_topk_heap(spark, sf_dir):
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    plan = simple_plan(T.ns_text_bigrams(spark, sf_dir))
    assert uses_top_k_sort(plan)  # top-20 via heap, no global sort
    assert "partial_count" in formatted_plan(T.ns_text_bigrams(spark, sf_dir))


def test_batch_inference_is_one_spread_then_arrow_map(spark, sf_dir):
    # One deliberate repartition to spread the single-file input, then
    # a pure Arrow map stage — no other exchange, columns pruned.
    from decision_tree_analytics_spark.operators import udf_inventory as U

    plan = simple_plan(U.udf_batch_inference(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "MapInPandas" in plan
    assert scan_read_schemas(plan) == [["vec_id", "embedding"]]


def test_user_gap_stats_is_one_shuffle_grouped_map(spark, sf_dir):
    # Secondary-sort consumer: exactly the group-key shuffle, then the
    # grouped Arrow map; scan reads only the three needed columns.
    from decision_tree_analytics_spark.operators import udf_inventory as U

    plan = simple_plan(U.udf_user_gap_stats(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "FlatMapGroupsInPandas" in plan


def test_event_pattern_is_one_shuffle_jvm_regex(spark, sf_dir):
    # Sequence build + regex stay JVM-side; only the user_id group
    # shuffle moves data.
    plan = simple_plan(R.rel_event_pattern(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert not has_python_eval(plan)


def test_label_centroid_broadcasts_centroids(spark, sf_dir):
    # Centroid and stats tables re-join the stream as broadcasts; the
    # corpus itself never hash-joins.
    from decision_tree_analytics_spark.operators import similarity as S

    plan = simple_plan(S.sim_label_centroid_dist(spark, sf_dir))
    assert has_broadcast_join(plan)
    assert not has_python_eval(plan)


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """With runtime bloom filters enabled, a selective orders filter
    joined to lineitem injects might_contain into the fact side — the
    semi-join reduction for non-broadcastable fact⋈fact joins (the
    thresholds are floored here because test inputs are tiny; at real
    scale the defaults gate sensibly)."""
    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.session import enable_runtime_bloom_filters
    from decision_tree_analytics_spark.sources.tables import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_bloom_filters(spark)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys
        assert "bloom_filter_agg" in phys
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repetition_is_shuffle_free_codegen(spark, sf_dir):
    """Repetition scoring is per-row array arithmetic — no exchange,
    no explode blowup, no Python."""
    plan = simple_plan(T.ns_text_repetition(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert not has_python_eval(plan)
    assert "Generate" not in plan  # no explode


def test_cohort_retention_two_bounded_shuffles(spark, sf_dir):
    """One hashpartitioning on user_id (window min) + one on the
    bounded (cohort_day, day_offset) aggregate — nothing else."""
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_cohort_retention(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert not has_python_eval(plan)


def test_gap_fill_generates_distributed_calendar(spark, sf_dir):
    """The densify step must be a distributed sequence-explode
    (Generate), never a driver-side calendar, and the plan must stay
    JVM-side."""
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_gap_fill(spark, sf_dir))
    assert "Generate" in plan and "sequence" in plan
    assert not has_python_eval(plan)


def test_data_quality_single_scan(spark, sf_dir):
    """N constraints = ONE scan of orders (the Deequ invariant)."""
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_data_quality(spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_secondary_sort_one_exchange_then_partition_sort(spark, sf_dir):
    """The secondary-sort contract: exactly one shuffle (the
    repartition on user_id), an in-partition (non-global) sort, and
    the Arrow Python stage."""
    from decision_tree_analytics_spark.operators import udf_inventory as U

    plan = simple_plan(U.udf_secondary_sort(spark, sf_dir))
    assert count_shuffles(plan) == 1
    # Sort prints as `Sort [keys], <global>, 0` — require the
    # in-partition form and forbid a global sort anywhere.
    assert "Sort [user_id" in plan
    assert ", false, 0" in plan and ", true, 0" not in plan
    # Arrow lane, not a row-at-a-time Python UDF.
    assert "MapInPandas" in plan
    assert not has_python_eval(plan)


def test_bitwise_fns_codegen_no_shuffle(spark, sf_dir):
    plan = simple_plan(R.rel_bitwise_fns(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert has_whole_stage_codegen(plan)
    assert not has_python_eval(plan)


def test_range_frame_single_shuffle(spark, sf_dir):
    plan = simple_plan(R.rel_range_frame(spark, sf_dir))
    assert count_shuffles(plan) == 1  # hashpartitioning on user_id
    assert not has_python_eval(plan)


def test_weighted_sample_single_shuffle(spark, sf_dir):
    plan = simple_plan(R.rel_weighted_sample(spark, sf_dir))
    assert count_shuffles(plan) == 1  # hashpartitioning on event_type
    assert not has_python_eval(plan)


def test_rp_reduce_is_narrow_codegen_map(spark, sf_dir):
    """The 8×64 unrolled sign-sums must stay a shuffle-free,
    explode-free, Python-free codegen projection."""
    from decision_tree_analytics_spark.operators import similarity as S

    plan = simple_plan(S.sim_rp_reduce(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert "Generate" not in plan
    assert has_whole_stage_codegen(plan)
    assert not has_python_eval(plan)


def test_header_parse_is_jvm_only(spark, sf_dir):
    """Binary header build+parse must be a shuffle-free codegen
    projection with no Python stage."""
    from decision_tree_analytics_spark.operators import multimodal as M

    plan = simple_plan(M.mm_header_parse(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert not has_python_eval(plan)
    assert "MapInPandas" not in plan


def test_seq_patterns_topk_no_global_sort(spark, sf_dir):
    from decision_tree_analytics_spark.operators import stats_ext as SE

    plan = simple_plan(SE.rel_seq_patterns(spark, sf_dir))
    # Global top-k must be TakeOrderedAndProject (per-partition heads),
    # never a full sort, and the trigram build is one window shuffle +
    # one aggregate shuffle.
    assert uses_top_k_sort(plan)
    assert count_shuffles(plan) <= 2
    assert not has_python_eval(plan)


def test_seq_pack_single_window_shuffle(spark, sf_dir):
    plan = simple_plan(T.ns_seq_pack(spark, sf_dir))
    # One hashpartitioning on source for the running-total window; the
    # bin arithmetic is pure codegen projection on top.
    assert count_shuffles(plan) == 1
    assert has_whole_stage_codegen(plan)
    assert not has_python_eval(plan)


def test_decontaminate_joins_on_hashes_no_python(spark, sf_dir):
    plan = simple_plan(T.ns_decontaminate(spark, sf_dir))
    # Shingle-overlap join moves 16-byte md5 keys: no Python, no
    # global sort, and the join+agg pipeline stays within 3 exchanges.
    assert not has_python_eval(plan)
    assert count_shuffles(plan) <= 3


def test_baseline_metrics_broadcasts_means(spark, sf_dir):
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = simple_plan(M.ml_baseline_metrics(spark, sf_dir))
    # The per-group mean table is |groups| rows and must broadcast —
    # the test-split scan is never shuffled for the join.
    assert has_broadcast_join(plan)
    assert not has_python_eval(plan)


def _plan_with_no_auto_broadcast(spark, build):
    """Plan with auto-broadcast disabled: any BroadcastExchange left
    must come from an explicit F.broadcast hint.  Takes a zero-arg
    builder (not a DataFrame) because persist()-ed sub-plans compile
    against the conf active at BUILD time, not explain time."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        return simple_plan(build())
    finally:
        spark.conf.set(key, old)


def test_dedup_canonical_no_broadcast(spark, sf_dir):
    # The canonical table is one row per component — O(corpus) because
    # singletons are components too — so the join back must NOT be
    # hinted broadcast (VERDICT r2 #2): it shuffles on component_id,
    # reusing the ranking window's exchange.
    plan = _plan_with_no_auto_broadcast(spark, lambda: D.dedup_canonical(spark, sf_dir))
    assert not has_broadcast_join(plan)


def test_perplexity_model_is_capped_before_broadcast(spark, sf_dir):
    # The unigram model must be the top-N cut (TakeOrderedAndProject),
    # never the full Heaps-law vocabulary; with auto-broadcast off the
    # only BroadcastExchanges are the capped model and the 1-row total.
    plan = _plan_with_no_auto_broadcast(
        spark, lambda: T.ns_perplexity_proxy(spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") == 2


def test_embed_nn_no_corpus_broadcast(spark, sf_dir):
    # Candidates come from the SRP bucket equi-join — with
    # auto-broadcast off there must be NO BroadcastExchange anywhere
    # (the r2 form broadcast a corpus-sized subset, VERDICT item 7).
    from decision_tree_analytics_spark.operators import similarity as S

    plan = _plan_with_no_auto_broadcast(spark, lambda: S.sim_embed_nn(spark, sf_dir))
    assert not has_broadcast_join(plan)


def test_bm25_prunes_scan_and_uses_topk(spark, sf_dir):
    # The keyword search reads only (doc_id, text); doc length comes
    # from the row's own split array (no second shuffle), and the
    # global top-10 lowers to TakeOrderedAndProject, never a
    # single-partition sort of all matching docs.
    from decision_tree_analytics_spark.operators import retrieval as RT

    plan = simple_plan(RT.rel_bm25_topk(spark, sf_dir))
    for schema in scan_read_schemas(plan):
        assert set(schema) <= {"doc_id", "text"}
    assert uses_top_k_sort(plan)
    assert not has_python_eval(plan)


def test_gopher_filter_is_map_only(spark, sf_dir):
    # Every rule metric derives from the row's split array: one scan,
    # zero shuffles, no Python — the filter composes for free.
    plan = simple_plan(T.ns_gopher_filter(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert not has_python_eval(plan)


def test_logreg_gd_broadcasts_only_weights(spark, sf_dir):
    # Each GD step broadcasts the 1-row weight table over the cached
    # feature projection; the corpus itself is never shuffled — the
    # only exchanges are the per-step single-row gradient reductions.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: M.ml_logreg_gd(spark, sf_dir)
    )
    assert "partial_avg" in plan  # map-side combine carries the grads
    assert not has_python_eval(plan)
    assert "hashpartitioning" not in plan  # only SinglePartition reductions


def test_mmr_rerank_candidates_bounded_and_cached(spark, sf_dir):
    # The corpus contributes via TakeOrdered top-20 only; the greedy
    # steps rerun over a persisted candidate table, not the corpus.
    from decision_tree_analytics_spark.operators import retrieval as RT

    plan = simple_plan(RT.sim_mmr_rerank(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert uses_top_k_sort(plan)


def test_naive_bayes_vocab_capped_no_python(spark, sf_dir):
    # The NB model must be built over the top-N vocabulary cut
    # (TakeOrderedAndProject) — an uncapped vocab grows with the
    # corpus (Heaps' law) and would make the model grid unbroadcastable;
    # the whole train+score pipeline stays JVM-side.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = simple_plan(M.ml_naive_bayes(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert not has_python_eval(plan)


def test_knn_broadcasts_fixed_probes_and_salts_topk(spark, sf_dir):
    # The probe set is a fixed 16-row constant — its broadcast is the
    # only explicit one; the per-probe top-k runs the salted two-phase
    # strategy (a (probe, salt) exchange before the probe exchange) so
    # no task ever sorts a corpus-sized probe partition.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: M.ml_knn_classify(spark, sf_dir)
    )
    assert has_broadcast_join(plan)
    assert "salt" in plan  # stage-1 rank within (probe_id, salt)
    assert not has_python_eval(plan)


def test_chunk_dedup_candidates_bounded_no_broadcast(spark, sf_dir):
    # Near-dup candidates come from the block-hash equi-join (bounded
    # per bucket by the stop-chunk cap); every join shuffles on its
    # key — nothing corpus-derived is ever broadcast.
    from decision_tree_analytics_spark.operators import multimodal as MM

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: MM.mm_chunk_dedup(spark, sf_dir)
    )
    assert not has_broadcast_join(plan)
    assert not has_python_eval(plan)


def test_winsorize_broadcasts_band_table_and_prunes_scan(spark, sf_dir):
    # Pass 1 reduces to |event_type| band rows (explicitly broadcast);
    # pass 2 is a map-side clamp — the events scan reads only the two
    # needed columns.
    from decision_tree_analytics_spark.operators import stats_ext as SE

    plan = simple_plan(SE.rel_winsorize(spark, sf_dir))
    assert has_broadcast_join(plan)
    for schema in scan_read_schemas(plan):
        assert set(schema) <= {"event_type", "value"}


def test_pii_scrub_is_map_only_after_spread(spark, sf_dir):
    # Scrub + counts are row-local regex work: the only exchange is
    # the small-file spread repartition, and nothing leaves the JVM.
    plan = simple_plan(T.ns_pii_scrub(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert not has_python_eval(plan)


def test_twap_window_and_agg_share_one_exchange(spark, sf_dir):
    # The lead() window and the per-user aggregate are both keyed on
    # user_id — Catalyst must plan ONE exchange, not two.
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_twap(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert not has_python_eval(plan)


def test_source_io_reads_are_schema_pinned_single_agg(spark, sf_dir):
    # The CSV/JSON read-backs carry an explicit schema (no inference
    # job over the files) and reduce with one partial+final aggregate.
    from decision_tree_analytics_spark.operators import source_io as SIO

    for q in (SIO.src_csv_orders, SIO.src_json_events):
        plan = simple_plan(q(spark, sf_dir))
        assert count_shuffles(plan) == 1
        assert "partial_" in plan  # map-side combine before the shuffle


def test_kcenter_argmax_is_topk_no_python(spark, sf_dir):
    # Every greedy step's farthest-point argmax lowers to
    # TakeOrderedAndProject(1) over the corpus pass; the selected set
    # rides as explicit broadcasts and nothing leaves the JVM.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: M.ml_kcenter_select(spark, sf_dir)
    )
    assert uses_top_k_sort(plan)
    assert has_broadcast_join(plan)
    assert not has_python_eval(plan)


def test_substring_dedup_equi_join_no_cross_product(spark, sf_dir):
    # Candidate positions meet ONLY through the gram-hash equi-join
    # (fan-out bounded by the stop-gram cap); the gram table is
    # persisted once for its three consumers, and nothing
    # corpus-derived is broadcast.
    plan = _plan_with_no_auto_broadcast(
        spark, lambda: D.dedup_substring(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_broadcast_join(plan)
    assert "InMemoryTableScan" in plan
    assert not has_python_eval(plan)


def test_ivf_oracled_broadcasts_only_cell_tables(spark, sf_dir):
    # Every cross join in the build attaches a FIXED 16-row centroid
    # table (or the 10-row probe set) — with auto-broadcast off those
    # explicit hints are the only BroadcastExchanges, the corpus scan
    # is persisted once, and the whole pipeline stays JVM-side.
    from decision_tree_analytics_spark.operators import similarity as S

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: S.sim_ivf_oracled(spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan
    assert not has_python_eval(plan)
    assert "CartesianProduct" not in plan  # all cross joins are broadcast-nested-loop over ≤16 rows


def test_incremental_manifest_no_corpus_broadcast(spark, sf_dir):
    # Store, gram, and base-total sides are all corpus-derived — with
    # auto-broadcast off nothing may be hinted broadcast; the whole
    # refresh stays JVM-side equi-joins keyed on ids/hashes.
    plan = _plan_with_no_auto_broadcast(
        spark, lambda: T.ns_incremental_manifest(spark, sf_dir)
    )
    assert not has_broadcast_join(plan)
    assert "CartesianProduct" not in plan
    assert not has_python_eval(plan)


def test_gbt_stumps_single_row_reductions_only(spark, sf_dir):
    # Each boosting round is a map-side-combined global aggregate over
    # the persisted projection — the plan must contain NO keyed
    # shuffle (only SinglePartition reductions) and no Python.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: M.ml_gbt_stumps(spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan
    assert "hashpartitioning" not in plan
    assert not has_python_eval(plan)


def test_bucketed_join_has_zero_exchanges(spark, sf_dir):
    # The bucketed-layout payoff: orders ⋈ customer bucket-to-bucket
    # must plan with NO exchange on either side even with broadcast
    # disabled — the co-location replaces the shuffle.  The same join
    # over plain parquet shuffles both sides (asserted as the
    # counterfactual so the lock can't pass vacuously).
    from decision_tree_analytics_spark.operators import source_io as SIO
    from decision_tree_analytics_spark.sources.tables import load_table

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: SIO.bucketed_join_frame(spark, sf_dir)
    )
    assert count_shuffles(plan) == 0
    assert "SortMergeJoin" in plan
    # SORTED BY + one file per bucket removes the SMJ sorts too
    assert "+- Sort " not in plan

    def plain():
        o = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"
        )
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        import pyspark.sql.functions as F

        return o.join(c, F.col("o_custkey") == F.col("c_custkey"))

    assert count_shuffles(_plan_with_no_auto_broadcast(spark, plain)) == 2


def test_bloom_prefilter_bit_set_is_broadcast(spark, sf_dir):
    # The bloom "bit array" is the distinct-position table, bounded by
    # m=65536 rows regardless of corpus size — the probe join must be
    # a broadcast (map-only probe side), and the whole query stays
    # JVM-side.
    from decision_tree_analytics_spark.operators import dedup as DD

    plan = simple_plan(DD.dedup_bloom_prefilter(spark, sf_dir))
    assert has_broadcast_join(plan)
    assert not has_python_eval(plan)


def test_bigram_lm_model_joins_are_broadcast(spark, sf_dir):
    # The bigram model is capped (≤(V+1)² rows by construction) and
    # must reach the scoring join as a broadcast even with
    # auto-broadcast off — a corpus-sized shuffle there would defeat
    # the cap.  The vocab top-N must plan as a heap, not a global
    # sort.
    from decision_tree_analytics_spark.operators import text as TT

    plan = _plan_with_no_auto_broadcast(
        spark, lambda: TT.ns_bigram_lm(spark, sf_dir)
    )
    assert has_broadcast_join(plan)
    assert uses_top_k_sort(plan)
    assert not has_python_eval(plan)


def test_graph_queries_scan_the_fact_join_once(spark, sf_dir):
    # The trade-graph build (the 5-table fact join) is the expensive
    # stage; every graph query persists it, so the physical plan must
    # contain exactly ONE lineitem scan.  Unpersisted, the branch-per
    # -iteration plans re-ran the fact join 16-30x (Catalyst reuses no
    # exchange across branches) — cheap in parallel on 60k rows,
    # disastrous at 100 TB.
    from decision_tree_analytics_spark.operators import graph as G

    for fn in (
        G.graph_pagerank,
        G.graph_label_propagation,
        G.graph_khop,
        G.graph_triangles,
    ):
        plan = simple_plan(fn(spark, sf_dir))
        # "One real scan" asserts as: zero lineitem scans outside a
        # cached subtree (indentation-aware uncached_scans — .explain
        # reprints cached children under every consumer, and a
        # materialized cache adds an "== Initial Plan ==" copy), plus
        # the edge build visibly served from a cache or a checkpoint.
        # The iterative queries checkpoint their bounded loop inputs
        # (r14 lineage-truncation optimization), so their final plan
        # reads ExistingRDDs — the fact join ran exactly ONCE at
        # build time; triangles keeps the persisted-edge IMTS form.
        assert uncached_scans(plan, "lineitem") == 0, fn.__name__
        assert (
            plan.count("InMemoryTableScan") >= 1
            or "Scan ExistingRDD" in plan
        ), fn.__name__


def test_pit_features_single_user_shuffle(spark, sf_dir):
    # The point-in-time backfill must serve ALL features off one
    # user-keyed exchange (both RANGE frames share the window spec) —
    # and never plan a self-join.
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_pit_features(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "Join" not in plan
    assert not has_python_eval(plan)


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    # Directory partitioning must surface as PartitionFilters on the
    # FileSourceScan — the files of the other 4 priorities are pruned
    # before any IO is scheduled.  The partition column lives only in
    # directory names, so it must NOT appear among the row-group data
    # filters.
    from decision_tree_analytics_spark.operators import source_io as SIO
    from decision_tree_analytics_spark.plans.inspect import formatted_plan

    import pyspark.sql.functions as F

    df = SIO.partitioned_orders_frame(spark, sf_dir).filter(
        F.col("o_orderpriority") == SIO.PRUNE_PRIORITY
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert SIO.PRUNE_PRIORITY in plan
    # the equality landed in the partition filters, not the data
    # filters (the data files do not even contain the column)
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "o_orderpriority" in pf and "1-URGENT" in pf
    dfilters = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if dfilters:
        assert "o_orderpriority" not in dfilters.group(1)


def test_entity_snm_is_vocab_bounded_two_shuffles(spark, sf_dir):
    # Corpus-sized work is ONE mergeable groupBy shuffle; the SNM
    # window shuffles only the vocabulary table (second exchange).
    # Everything stays JVM-side (codegen levenshtein, no Arrow lane).
    plan = simple_plan(R.rel_entity_snm(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert not has_python_eval(plan)
    assert has_whole_stage_codegen(plan)


def test_changelog_compact_single_exchange(spark, sf_dir):
    # The row_number + count + sum windows all partition by user_id —
    # Catalyst must stack them on ONE exchange (replaying a changelog
    # into a snapshot is a single hash partition of the log by key).
    from decision_tree_analytics_spark.operators import cdc as C

    plan = simple_plan(C.cdc_changelog_compact(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert not has_python_eval(plan)


def test_shortest_path_rounds_are_linear_not_exponential(spark, sf_dir):
    # Each Bellman-Ford round must reference the previous frontier
    # exactly once (zero-cost self-loops), and rounds 1..R-1 are
    # checkpointed (lineage truncation — the r14 optimization), so the
    # FINAL plan holds exactly ONE round-aggregate reading the
    # checkpointed round-(R-1) frontier as an ExistingRDD scan; the
    # union(frontier, relaxed) formulation would instead nest a
    # doubling lineage per round, and an un-truncated linear chain
    # re-plans all SP_ROUNDS aggregates per run (measured: 60-70% of
    # wall was driver-side plan work).  The persisted bd edge table
    # must still be the only lineitem reader (zero uncached scans).
    from decision_tree_analytics_spark.operators import graph as G

    plan = simple_plan(G.graph_shortest_path(spark, sf_dir))
    assert plan.count("partial_min") == 1  # the last relaxation only
    assert "Scan ExistingRDD" in plan  # checkpointed bd + prior frontier
    assert uncached_scans(plan, "lineitem") == 0
    assert not has_python_eval(plan)


def test_kmeans_assignments_broadcast_and_collapse_mapside(spark, sf_dir):
    # Every Lloyd assignment must broadcast the <=8-row centroid table
    # (never shuffle the corpus against it) and collapse the K
    # candidate rows per vector map-side before the exchange.
    from decision_tree_analytics_spark.operators import similarity as S

    plan = simple_plan(S.ml_kmeans_lloyd(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # broadcast centroid cross join
    assert plan.count("partial_min") >= S.KM_ROUNDS  # map-side argmin collapse
    assert not has_python_eval(plan)


def test_curriculum_prefix_sum_stays_hierarchical(spark, sf_dir):
    # The running token count must decompose into the (tier, bucket)
    # window + broadcast offset grids — never a global ORDER BY
    # window (single-partition funnel).  5 exchanges total: the
    # doc-level (tier, bucket) window, the two offset groupBys, their
    # two bounded-grid windows.
    from decision_tree_analytics_spark.operators import text as T2

    plan = simple_plan(T2.ns_curriculum_order(spark, sf_dir))
    assert "hashpartitioning(tier" in plan
    assert has_broadcast_join(plan)  # both offset tables broadcast back
    assert count_shuffles(plan) == 5
    assert not has_python_eval(plan)


def test_betweenness_final_phase_reads_checkpointed_state(spark, sf_dir):
    # The dependency phase must run on the CHECKPOINTED ≤n² BFS state
    # (three readers: the pair table and both self-join sides) plus
    # the once-checkpointed sym edge list (nodes) — and the
    # closed-form join must stay an equi-join, never a cartesian.
    # The mean-weight BroadcastNestedLoopJoin no longer appears here:
    # since r15 it runs once inside sym's checkpoint job instead of
    # being re-derived by every BFS round (OPTIMIZATION_r15.md).
    from decision_tree_analytics_spark.operators import graph as G

    plan = simple_plan(G.graph_betweenness(spark, sf_dir))
    assert plan.count("ExistingRDD") == 4  # p, r1, r2 + nodes(sym)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # edge build pre-checkpointed
    assert not has_python_eval(plan)


def test_gaps_islands_two_exchanges_only(spark, sf_dir):
    # distinct (user, day) is one exchange; every window and groupBy
    # after it partitions by user_id (hash(user) satisfies the
    # (user, grp) clustering), so the whole streak pipeline is TWO
    # shuffles regardless of corpus size.
    plan = simple_plan(R.rel_gaps_islands(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert "Join" not in plan  # islands need no self-join
    assert not has_python_eval(plan)


def test_assoc_rules_broadcast_supports_and_topk(spark, sf_dir):
    # The distinct item table is persisted (pair join reads it twice,
    # supports + basket count once each — IMTS/lineitem parity), the
    # ≤25-row supports and 1-row basket count broadcast, and the
    # top-50 lowers to TakeOrderedAndProject, never a global sort.
    from decision_tree_analytics_spark.operators import analytics as A

    plan = simple_plan(A.rel_assoc_rules(spark, sf_dir))
    n_imts = plan.count("InMemoryTableScan")
    assert n_imts >= 3
    assert plan.count("lineitem") == n_imts
    assert has_broadcast_join(plan)
    assert uses_top_k_sort(plan)
    assert not has_python_eval(plan)


def test_shap_attribution_is_map_only(spark, sf_dir):
    # One shuffle TOTAL: the single-row moments aggregate.  The
    # attribution pass is the 1-row (beta, means) broadcast onto the
    # probe slice — batch explanation must never shuffle the corpus.
    from decision_tree_analytics_spark.operators import ml_inventory as M

    plan = simple_plan(M.ml_shap_linear(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert not has_python_eval(plan)


def test_ewma_trend_grid_join_broadcasts(spark, sf_dir):
    # The corpus collapses to the daily grid in one aggregate; the
    # trailing-window pair join runs broadcast on that bounded grid
    # (never a sort-merge of the corpus) — two exchanges total.
    from decision_tree_analytics_spark.operators import stats_ext as S

    plan = simple_plan(S.rel_ewma_trend(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    assert not has_python_eval(plan)


def test_rolling_ols_two_exchanges_no_join(spark, sf_dir):
    # One aggregate to the daily grid + one event_type window — the
    # rolling regression never self-joins.
    from decision_tree_analytics_spark.operators import stats_ext as S

    plan = simple_plan(S.rel_rolling_ols(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert "Join" not in plan
    assert not has_python_eval(plan)


def test_gini_two_exchanges_partial_combined(spark, sf_dir):
    """rel_gini: orders collapse per customer with map-side partial
    sums (one custkey exchange shared by the agg and the join), the
    rank window adds the segment exchange, the final aggregate
    partial-combines — no extra shuffles hiding in the rank plan."""
    from decision_tree_analytics_spark.operators.stats_ext import rel_gini
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        simple_plan,
    )

    plan = simple_plan(rel_gini(spark, sf_dir))
    assert "partial_sum" in plan
    assert count_shuffles(plan) <= 3  # custkey agg/join + segment window


def test_hhi_dims_broadcast_one_fact_shuffle(spark, sf_dir):
    """rel_hhi: the fact table shuffles ONCE (per-supplier revenue,
    map-side combined); supplier and nation are broadcast dims; the
    share window runs on the collapsed per-supplier table."""
    from decision_tree_analytics_spark.operators.stats_ext import rel_hhi
    from decision_tree_analytics_spark.plans.inspect import (
        has_broadcast_join,
        simple_plan,
    )

    plan = simple_plan(rel_hhi(spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "partial_sum" in plan


def test_theil_sen_pairs_come_from_collapsed_grid(spark, sf_dir):
    """rel_theil_sen: the corpus collapses to the daily grid BEFORE
    pair generation (partial map-side sums feed the one wide
    exchange); the pair join is grid-squared, expressed as a
    broadcast nested-loop over the bounded grid — never a shuffle of
    corpus-sized pairs."""
    from decision_tree_analytics_spark.operators.stats_ext import (
        rel_theil_sen,
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(rel_theil_sen(spark, sf_dir))
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_learning_curve_single_fact_pass(spark, sf_dir):
    """ml_learning_curve: ONE pass over lineitem (a single partial-
    combined aggregate into 16 bucket rows); every fraction's model
    and held-out MSE derive from the bucket grid, so the fact scan
    appears exactly once and the test moments arrive by broadcast."""
    from decision_tree_analytics_spark.operators.stats_ext import (
        ml_learning_curve,
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(ml_learning_curve(spark, sf_dir))
    assert plan.count("FileScan parquet") == 2  # cum branch + test branch
    assert "partial_sum" in plan


def test_closeness_squarings_read_checkpointed_state(spark, sf_dir):
    """graph_closeness: the min-plus squaring loop materializes each
    round (localCheckpoint), so the FINAL plan reads the checkpointed
    ≤n² matrix — the fact join appears ZERO times in it (the
    2^rounds-lineage trap the MST docstring documents)."""
    from decision_tree_analytics_spark.operators.graph import graph_closeness
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(graph_closeness(spark, sf_dir))
    assert "Scan ExistingRDD" in plan  # checkpointed matrix input
    assert "FileScan parquet" not in plan  # no fact re-read in the readout


def test_schema_merge_scan_carries_merged_schema(spark, sf_dir):
    """src_schema_merge: the two-generation read is ONE scan node with
    the union schema (mergeSchema reconciles footers at planning time,
    not with a per-row union), followed by a single partial-combined
    aggregate."""
    from decision_tree_analytics_spark.operators.source_io import (
        src_schema_merge,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        simple_plan,
    )

    plan = simple_plan(src_schema_merge(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "c_mktsegment" in plan and "c_acctbal" in plan
    assert count_shuffles(plan) == 1


def test_url_quota_single_exchange(spark, sf_dir):
    """dedup_url_quota: BOTH window passes (per-URL keep-first lag +
    per-domain quota rank) run on the SAME hashpartitioning(source) —
    the filter between them preserves the child's partitioning, so
    the whole op is exactly ONE shuffle, no join, no broadcast."""
    from decision_tree_analytics_spark.operators.dedup import dedup_url_quota
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        simple_plan,
    )

    plan = simple_plan(dedup_url_quota(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "Join" not in plan


def test_oov_rate_vocab_broadcast_and_persisted_tokens(spark, sf_dir):
    """ns_oov_rate: the top-K vocab is a TakeOrdered-bounded frame
    joined via broadcast (never a shuffle on the token key), and the
    exploded token table is persisted so the vocab build and the
    membership join share one materialization (the BM25 lesson)."""
    from decision_tree_analytics_spark.operators.text import ns_oov_rate
    from decision_tree_analytics_spark.plans.inspect import (
        has_broadcast_join,
        simple_plan,
    )

    df = ns_oov_rate(spark, sf_dir)
    plan = simple_plan(df)
    assert has_broadcast_join(plan)
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan


def test_pr_auc_window_runs_on_contracted_grid(spark, sf_dir):
    """ml_pr_auc: the corpus collapses to the 11-value discount grid
    with map-side partial counts BEFORE any window — the sweep
    windows run on the contracted grid, so the plan shows the partial
    aggregation and no corpus-sized window input."""
    from decision_tree_analytics_spark.operators.stats_ext import ml_pr_auc
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(ml_pr_auc(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    # plans print output-first: the Window must sit ABOVE (before in
    # text) the corpus HashAggregate, i.e. it consumes the grid.
    assert plan.index("Window") < plan.index("HashAggregate")


def test_sprt_day_rollup_before_window(spark, sf_dir):
    """ml_sprt_monitor: per-row work is ONE map-side-combinable
    (arm, day) rollup; the cumulative scan runs on the contracted
    grid (the hierarchical-prefix rule — no corpus-sized window)."""
    from decision_tree_analytics_spark.operators.stats_ext import ml_sprt_monitor
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(ml_sprt_monitor(spark, sf_dir))
    assert "partial_sum" in plan
    # output-first plan text: Window above the corpus HashAggregate.
    assert plan.index("Window") < plan.index("HashAggregate")


def test_manifest_diff_full_outer_on_docid(spark, sf_dir):
    """ns_manifest_diff: the two generations meet in a FULL OUTER
    join on the 8-byte doc_id (the snap_row_diff shape) and the
    per-source rollup partial-combines."""
    from decision_tree_analytics_spark.operators.text import ns_manifest_diff
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(ns_manifest_diff(spark, sf_dir))
    assert "FullOuter" in plan
    assert "partial_sum" in plan


def test_compaction_plan_manifest_rollup_first(spark, sf_dir):
    """snap_compaction_plan: the one corpus-sized stage is the
    map-side-combinable (type, day) manifest rollup; both windows run
    on the metadata-sized file manifest above it (output-first plan:
    Windows print before the corpus HashAggregate)."""
    from decision_tree_analytics_spark.operators.cdc import snap_compaction_plan
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(snap_compaction_plan(spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_random_walks_broadcast_edges_one_walk_exchange(spark, sf_dir):
    """graph_random_walks: every unrolled hop joins the persisted
    edge list via BROADCAST, so the plan holds at least four broadcast
    joins.  The steps before the last are checkpointed and appear as
    scans, so the final plan holds at most one (start_node, walk_id)
    exchange: the last step's window.  Each earlier step re-shuffles
    for its own window in its checkpoint job, because under AQE a
    checkpointed plan loses its partitioning."""
    from decision_tree_analytics_spark.operators.graph import graph_random_walks
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(graph_random_walks(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("hashpartitioning(start_node") <= 1


def test_cuped_is_two_rollups_plus_scalar_broadcast(spark, sf_dir):
    """rel_cuped: per-user conditional rollup (map-side combinable) +
    a one-row moment aggregate broadcast back — no corpus-sized
    window, no Python, no second fact scan hiding in the plan."""
    from decision_tree_analytics_spark.operators.stats_ext import rel_cuped
    from decision_tree_analytics_spark.plans.inspect import (
        has_broadcast_join,
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(rel_cuped(spark, sf_dir))
    assert has_broadcast_join(plan)  # the theta/xbar scalar row
    assert "partial_sum" in plan
    assert not has_python_eval(plan)
    assert "Window" not in plan


def test_power_analysis_single_user_exchange(spark, sf_dir):
    """rel_power_analysis: ONE user-keyed exchange feeds the
    first-event window; everything after runs on the one-row moment
    table with the literal lift grid exploded onto it."""
    from decision_tree_analytics_spark.operators.stats_ext import (
        rel_power_analysis,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        simple_plan,
    )

    plan = simple_plan(rel_power_analysis(spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1
    assert count_shuffles(plan) <= 2  # user window + final one-row agg


def test_tokenizer_fertility_map_only_rollup(spark, sf_dir):
    """ns_tokenizer_fertility: map-only token counting + ONE
    map-side-combinable rollup — no joins, no windows, no Python."""
    from decision_tree_analytics_spark.operators.text import (
        ns_tokenizer_fertility,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(ns_tokenizer_fertility(spark, sf_dir))
    assert count_shuffles(plan) == 1
    assert "Join" not in plan and "Window" not in plan
    assert not has_python_eval(plan)


def test_epoch_plan_one_rollup_then_grid_window(spark, sf_dir):
    """ns_epoch_plan: ONE map-side-combinable corpus rollup to the
    |sources| grid; the budget/weight window and all the epoch
    arithmetic run on that bounded grid — no joins, no Python."""
    from decision_tree_analytics_spark.operators.text import ns_epoch_plan
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(ns_epoch_plan(spark, sf_dir))
    assert "partial_sum" in plan  # the corpus rollup combines map-side
    assert count_shuffles(plan) <= 2  # rollup + the grid-sized window
    assert "Join" not in plan
    assert not has_python_eval(plan)


def test_skipping_audit_persisted_manifest_broadcast_probes(spark, sf_dir):
    """snap_skipping_audit: exactly ONE parquet scan feeds the
    persisted manifest (probes and the audit join are two branches of
    the SAME InMemoryRelation — the BM25 lesson), and the bounded
    probe grid reaches the join as a BROADCAST."""
    from decision_tree_analytics_spark.operators.cdc import snap_skipping_audit
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(snap_skipping_audit(spark, sf_dir))
    # Both branches read the SAME cache (each InMemoryRelation print
    # repeats its child FileScan, so count cache reads, not scans).
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_overlap_depth_manifest_sized_sweep(spark, sf_dir):
    """snap_overlap_depth: one corpus scan + rollup; the sweep-line
    (boundary rollup + running-sum window) runs entirely on the
    file-count-sized manifest — no joins, no Python, and the window's
    sort happens AFTER the boundary aggregate."""
    from decision_tree_analytics_spark.operators.cdc import snap_overlap_depth
    from decision_tree_analytics_spark.plans.inspect import (
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(snap_overlap_depth(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert not has_python_eval(plan)
    # Physical plans print OUTPUT-FIRST: the Window (last to run)
    # must appear BEFORE the boundary HashAggregate in the text.
    assert plan.index("Window") < plan.index("HashAggregate")


def test_preference_pairs_two_exchange_pipeline(spark, sf_dir):
    """ns_preference_pairs: BOTH row_number windows AND the pair
    groupBy run on the SAME hashpartitioning(prompt_id) (project
    preserves the child partitioning), so the whole pairing stage is
    ONE shuffle; the per-source rollup is the only second exchange.
    No joins, no Python, one corpus scan."""
    from decision_tree_analytics_spark.operators.text import ns_preference_pairs
    from decision_tree_analytics_spark.plans.inspect import (
        count_shuffles,
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(ns_preference_pairs(spark, sf_dir))
    assert count_shuffles(plan) == 2
    assert "Join" not in plan
    assert not has_python_eval(plan)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 2


def test_quantile_reg_grid_is_one_corpus_pass(spark, sf_dir):
    """ml_quantile_reg: all 25 grid losses are conditional aggregates
    of ONE corpus exchange; the stack (Generate) and the argmin window
    run on the |event_type|x25 aggregate — never a 25x corpus explode
    and never 25 scans (the ml_threshold_tuning shape)."""
    from decision_tree_analytics_spark.operators.ml_inventory import (
        ml_quantile_reg,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(ml_quantile_reg(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Generate") == 1  # the stack, post-aggregate
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert not has_python_eval(plan)
    # OUTPUT-FIRST print order: the stack's Generate runs AFTER the
    # corpus aggregate, so it prints before the HashAggregate.
    assert plan.index("Generate") < plan.rindex("HashAggregate")


def test_did_one_corpus_rollup_plus_broadcast_midpoint(spark, sf_dir):
    """rel_did: ONE corpus-sized exchange (the cell rollup is
    map-side-combinable), the temporal-midpoint scalar reaches the
    fact rows as a BROADCAST, and the 20-cell pivot is the only other
    exchange."""
    from decision_tree_analytics_spark.operators.stats_ext import rel_did
    from decision_tree_analytics_spark.plans.inspect import (
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(rel_did(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("BroadcastExchange") == 1  # the split-day scalar
    assert not has_python_eval(plan)


def test_rejection_sample_shares_prompt_partitioning(spark, sf_dir):
    """ns_rejection_sample: the best-of-pool window and the prompt
    groupBy ride ONE hashpartitioning(prompt_id) (the
    ns_preference_pairs shape); the per-source rollup is the only
    second exchange.  No joins, no Python, one corpus scan."""
    from decision_tree_analytics_spark.operators.text import (
        ns_rejection_sample,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(ns_rejection_sample(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert not has_python_eval(plan)
    assert plan.count("Scan parquet") == 1


def test_vacuum_plan_reference_table_cached_once(spark, sf_dir):
    """snap_vacuum_plan: the exploded reference table feeds BOTH
    aggregation branches (per-gen footprint, per-file last reference)
    from ONE persisted sub-plan — count InMemoryTableScan, never
    'Scan parquet' substrings (a persisted sub-plan's text repeats its
    child FileScan under every InMemoryRelation print)."""
    from decision_tree_analytics_spark.operators.cdc import (
        snap_vacuum_plan,
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(snap_vacuum_plan(spark, sf_dir))
    assert plan.count("InMemoryTableScan") == 2


def test_mann_kendall_pairs_come_from_collapsed_grid(spark, sf_dir):
    """rel_mann_kendall: the corpus collapses to the (type, day)
    rollup BEFORE the pairwise self-join (the rel_theil_sen bounded-
    grid rule) — the join sits above the daily HashAggregate in the
    OUTPUT-FIRST print, and no Python anywhere."""
    from decision_tree_analytics_spark.operators.stats_ext import (
        rel_mann_kendall,
    )
    from decision_tree_analytics_spark.plans.inspect import (
        has_python_eval,
        simple_plan,
    )

    plan = simple_plan(rel_mann_kendall(spark, sf_dir))
    assert not has_python_eval(plan)
    # The self-join consumes the grid-sized aggregate output: in
    # OUTPUT-FIRST text the join prints BEFORE the daily rollup's
    # final HashAggregate.
    assert "Join" in plan
    assert plan.index("Join") < plan.rindex("HashAggregate")


def test_token_spans_uses_arrow_udtf_lane(spark, sf_dir):
    """udf_token_spans (registered r14): the plan must run the UDTF
    through ArrowEvalPythonUDTF (Arrow batch transfer), never
    BatchEvalPythonUDTF (per-row pickling), with the doc slice pushed
    to the parquet scan and no shuffle before the Python stage."""
    from decision_tree_analytics_spark.operators.udf_inventory import (
        udf_token_spans,
    )

    plan = simple_plan(udf_token_spans(spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    assert plan.count("Scan parquet") == 1
    # The slice reaches the scan (filter pushdown, not post-filter).
    assert "PushedFilters" in plan and "IsNotNull(text)" in plan
    # Narrow stage: the only exchange is the size-aware repartition
    # (round-robin), no hash shuffle anywhere.
    assert plan.count("Exchange hashpartitioning") == 0


def test_video_frame_plan_is_map_only_codegen(spark, sf_dir):
    """mm_video_frame_plan (registered r14): the GOP manifest is pure
    integer codegen + one explode over the doc_id projection — zero
    shuffles, zero joins, zero Python, and the scan reads ONLY
    doc_id (the decode-worker fan-out must stay metadata-sized)."""
    from decision_tree_analytics_spark.operators.multimodal import (
        mm_video_frame_plan,
    )

    plan = simple_plan(mm_video_frame_plan(spark, sf_dir))
    assert count_shuffles(plan) == 0
    assert "Join" not in plan
    assert not has_python_eval(plan)
    assert has_whole_stage_codegen(plan)
    assert "Generate explode" in plan
    assert scan_read_schemas(plan) == [["doc_id"]]
