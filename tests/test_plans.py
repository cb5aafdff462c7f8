"""Physical-plan quality gates (SURVEY.md §4.2; the 100 TB design point).

Correctness tests prove the operators right; these prove the *plans*
right, and keep them right: filters and projections must reach the
parquet scans, dimension joins must broadcast, candidate generation must
never degenerate into a cartesian product, and the hot relational path
must stay inside whole-stage codegen. A regression here means a future
edit silently de-optimized a plan even though its results still match.
"""

from __future__ import annotations

import re

import pytest

from fawac_cdc_spark.registry import all_specs

_SPECS = all_specs()


def _plan(spark, sf_dir, name: str) -> str:
    df = _SPECS[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _hash_exchanges(plan: str) -> list[str]:
    """The hashpartitioning Exchange argument lines of a FORMATTED
    explain.  Formatted output prints each Exchange as a tree line
    ("Exchange (3)") plus a detail block whose Arguments line carries
    the partitioning — so the literal substring "Exchange
    hashpartitioning" NEVER occurs in formatted mode and any assertion
    on it is vacuous (ADVICE r15).  Match the Arguments lines instead.
    """
    return re.findall(r"Arguments: hashpartitioning\([^\n]*", plan)


def test_flagship_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_revenue_by_nation_month")
    # the l_shipdate range predicate must reach the lineitem scan
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:", 1)[1][:500]
    # the lineitem scan must not read money columns it doesn't need
    scan = next(s for s in plan.split("(1) Scan")[1:] if "lineitem" in s[:400])
    read_schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_tax" not in read_schema and "l_quantity" not in read_schema


def test_flagship_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_revenue_by_nation_month")
    # dims (customer, nation, region) broadcast; no dim reaches a sort-merge
    assert plan.count("BroadcastHashJoin") >= 3


def test_filter_range_scan_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_range_scan")
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:", 1)[1][:500]
    assert "GreaterThan" in pushed or "LessThan" in pushed or "l_" in pushed


def test_no_unintended_cartesian_products(spark, sf_dir):
    """Cross joins are legal only where a single broadcast row/stats frame
    is intentionally attached; candidate generation (dedup, similarity)
    must stay equi-join shaped."""
    for name in (
        "minhash_lsh_candidates",
        "ngram_jaccard_pairs",
        "simhash_hamming_pairs",
        "embedding_cosine_near_dup",
        "orders_lineitem_by_priority",
        "asof_join_last_signup_before_purchase",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


# Queries that intentionally attach ONE broadcast scalar/tiny frame via a
# cross join (corpus totals, stddev bounds, a single query vector, k=8
# centroids): the planner correctly picks BroadcastNestedLoopJoin with the
# tiny side broadcast — O(n) work, canonical scalar-subquery shape.  Every
# OTHER registered query must be free of both BNLJ and CartesianProduct.
_SCALAR_BROADCAST_OK = {
    "q22_inactive_customers",  # avg(acctbal) scalar
    "unigram_logprob_by_source",  # corpus token total
    "tfidf_source_terms",  # n_docs scalar
    "outlier_filtered_totals",  # mean/stddev bounds row
    "cosine_topk_query0",  # 1 query vector
    "ivf_topk_query1",  # 1 query vector + 8 centroids
    "kmeans_refined_ivf_cells",  # 8 centroids per iteration
    "pq_adc_topk_query0",  # 1-row PQ lookup table
    "ivfpq_topk_query1",  # 8 centroids assign + 1-row lookup table
    "q11_important_part_value",  # 2x-mean threshold scalar
    "pmi_bigram_collocations",  # corpus token/bigram totals (2 scalars)
    "theta_user_set_algebra",  # two 1-row cohort sketches joined
    "bm25_topk_docs",  # 1-row corpus stats (N, avgdl)
    "dsir_selected_docs",  # 1-row LM totals (tr, tt)
    "dsir_gumbel_resample",  # same 1-row LM totals
    "ivf_multiprobe_topk_query1",  # 1 query vector + 8 centroids
    "embedding_margin_stats",  # 1-row folded centroid table
    "rrf_fused_topk_docs",  # 1-row corpus stats + 1 query vector (composed)
    "semantic_decontam_flags",  # 1-row folded eval-vector table
    "multimodal_curation_composed",  # 1-row folded centroid table (argmax)
    "bigram_perplexity_by_source",  # 1-row vocab-size scalar (add-k denom)
    "neyman_stratified_allocation",  # 1-row stratum-weight total scalar
    "erasure_cascade_audit",  # four 1-row count frames attached pairwise
    "lsh_recall_vs_exact",  # three 1-row count frames folded to one row
    "data_quality_expectations",  # seven 1-row (violations, checked) frames
    "heaps_vocab_growth",  # 10-row cutoff frame attached by cross join
    # round 11
    "theil_sen_monthly_trend",  # bounded month-pair inequality join +
    #                             1-row slope/count frames (plan-pinned
    #                             that the NLJ never touches a scan)
    "acf_monthly_revenue",  # 6-row lag frame against the month rollup
    "assoc_rule_event_pairs",  # 1-row transition-total scalar
    "mutual_info_type_hour",  # 1-row total + entropy frames
    "chi_square_type_hour",  # 1-row total + dof frames
    "jsd_source_unigrams",  # 1-row corpus-total scalar
    "lsh_param_frontier",  # 1-row count frames per config, folded
    "holt_winters_hourly",  # |hours|-row zero-fill spine (from a 1-row
    #                         min/max bound frame) attached to |types|
    "rfm_customer_segments",  # 1-row corpus max-date + 1-row quintile
    #                           boundary frames (VERDICT r11 #3)
    "customer_decile_lift",  # 1-row decile-boundary frame (VERDICT r11 #2)
    # round 12
    "kendall_tau_monthly",  # bounded month-pair inequality join + 1-row
    #                         n_months frame (theil_sen's shape)
    "ks_test_type_hours",  # 24-row spine + 1-row max/argmax frames
    "survival_km_purchase",  # 1-row corpus-horizon + subject-count frames
    "abc_analysis_parts",  # 1-row total-mass frame
    "poisson_bootstrap_ci",  # 1-row full-mean frame + 32-replica explode
    "ann_recall_curve",  # 1-row query vector + <=10-row rank frames
    "cohort_ltv_matrix",  # broadcast cohort-size equi join (no NLJ, listed
    #                       defensively for the 1-row shapes AQE may fold)
    "seasonal_naive_backtest",  # the shared |hours|-row zero-fill spine
    #                             (holt_winters_hourly's shape)
    "capture_recapture_dups",  # three 1-row catch-count frames folded
    #                            (lsh_recall_vs_exact's shape)
    # round 14
    "kendall_w_daily_types",  # the shared Friedman 1-row bb/ag frames
    "logrank_test_purchase",  # 1-row corpus-horizon + cohort-count frames
    #                           (survival_km_purchase's shape)
    "grubbs_outlier_daily",  # 1-row moment frame against the day rollup
    "cvm_test_type_hours",  # 24-row spine + 1-row reduction (ks shape)
    "jackknife_source_influence",  # 1-row corpus-total frame
    "fuzzy_title_dedup",  # three 1-row audit-count frames folded
    "hopkins_clusterability",  # 2m-row probe frame against the embeddings
    #                            scan (cosine_topk_query0's fixed-m NLJ:
    #                            m extra scans, linear in the corpus)
    "rbo_retrieval_agreement",  # 10-row depth spine inequality-joined to
    #                             the <=10-row match frame (bounded both
    #                             sides) + 1-row total
    "shuffle_adjacency_audit",  # 1-row obs x 1-row mix frames
    "conformal_residual_coverage",  # 1-row k/q/coverage frames folded
    "kw_effect_sizes_event_types",  # the shared 1-row KW totals frame
    "energy_distance_type_hours",  # 24-row hour-grid self-join (both
    #                                sides bounded; Friedman's O(k^2)
    #                                discipline) + 1-row totals
    "l_moments_event_values",  # 1-row PWM totals frame
    "simpsons_paradox_audit",  # 1-row pooled-OR frame vs the year strata
    "durbin_watson_daily",  # 1-row OLS moment/fit frames (ols_two_feature's
    #                         closed-form shape) against the day grain
    "cooks_distance_top_days",  # same 1-row fit frames + 1-row SSE frame
    "decile_treatment_effects",  # 18-row (cohort x decile) k-frame
    #                              inequality-joined to the value grain
    #                              (tiny side broadcast, grain side linear)
    # round 12 extension (stats II)
    "permutation_test_mean_diff",  # 1-row observed-diff frame + 32-replica
    #                                explode (poisson_bootstrap_ci's shape)
    "t_closeness_audit",  # 1-row decile-boundary frame + 1-row total
    "eb_shrunk_part_rates",  # 1-row method-of-moments prior frame
    "mood_median_event_types",  # 1-row grand-median frame
    "silhouette_by_cell",  # 1-row folded centroid table (the
    #                        cosine_assigned_cells broadcast shape)
    "near_dup_source_modularity",  # three 1-row count frames folded
    #                                (lsh_recall_vs_exact's shape)
    "pacf_monthly_revenue",  # 6-row lag frame against the month rollup
    #                          (acf_monthly_revenue's shape)
    "mcnemar_halves_test",  # 1-row day-span bounds frame
    "cochran_armitage_trend",  # 1-row decile-boundary frame
    #                            (customer_decile_lift's shape)
    "dispersion_index_hourly",  # |hours|-row zero-fill spine
    #                             (holt_winters_hourly's shape)
    "theil_inequality_by_nation",  # 1-row corpus-total frame attached to
    #                                the spend grain + two 1-row results
    "importance_weight_ess",  # 1-row max-shift frame + the dsir LM totals
    #                           (dsir_selected_docs' shape)
    "ljung_box_monthly",  # 6-row lag frame against the month rollup
    #                       (acf_monthly_revenue's shape)
    "session_entropy_rate",  # 1-row transition-total scalar
    #                          (mutual_info_type_hour's shape)
    # round 13
    "traindata_modern_pipeline",  # 1-row folded centroid table in the
    #                               semantic stage (cosine_assigned_cells'
    #                               shape; usually checkpoint-truncated
    #                               out of the final plan — listed
    #                               defensively)
    "cohens_kappa_langid",  # 1-row cross-mass frame attached to 1-row totals
    "kruskal_wallis_event_types",  # 1-row exact-totals frame (nn, t3)
    "best_changepoint_daily",  # 1-row grand-sum/count frame against the
    #                            bounded day grain
    "psi_train_eval_quality",  # 1-row split-totals frame over the 10-bin spine
    "decontam_n_frontier",  # 1-row training-population frame attached to
    #                         the 3-row frontier union
    "welch_anova_event_types",  # two 1-row moment frames (t1, t2) folded
    "friedman_daily_types",  # 1-row k-count + 1-row block-count frames
    "dunn_posthoc_event_types",  # k-row type-order pair join (k~5) + the
    #                              1-row shared KW totals frame
    "hill_tail_index_doclen",  # 1-row threshold frame against the
    #                            TakeOrdered top-(k+1) frontier
    # round 15
    "mann_kendall_trend_daily",  # calendar-bounded day-pair inequality
    #                              join + 1-row S/tie/count frames
    #                              (theil_sen_monthly_trend's shape)
    "ks_test_flag_values",  # 1-row n1/n2 totals + 1-row sup/argmax
    #                         frames attached to the value grain
    "icc_user_events",  # 1-row Σx² frame attached to the 1-row
    #                     user-moment frame
    "ccf_daily_types",  # 1-row span frame -> calendar spine + 8-row lag
    #                     frame (holt_winters_hourly's spine shape)
    "gev_shape_daily_max",  # 1-row exact-moment totals frame
    "pot_mean_excess_doclen",  # 4-row threshold frame by broadcast
    #                            inequality against the value grain
    #                            (conformal's shape)
    "turning_points_daily",  # 1-row T/n frame over the bounded day grain
    "doc_perplexity_outliers",  # 1-row corpus token total (the
    #                             unigram_logprob_by_source scalar)
    "burstiness_word_stats",  # 1-row corpus doc-count frame attached to
    #                           the top-k word frame
    "partial_corr_daily_types",  # 1-row span frame -> calendar spine
    #                              (ccf_daily_types' shape)
    "hurst_aggvar_daily",  # 1-row min-day/n frames + 5-row k-grid
    "lorenz_curve_customer_spend",  # 1-row totals + 10-row decile frame
    #                                 by broadcast inequality against
    #                                 the spend grain (conformal shape)
    "ngram_entropy_orders",  # 3-row per-order totals frame broadcast
    "top2_changepoints_daily",  # 1-row totals + 1-row first-split frames
    #                             over the bounded day grain
    "sen_slope_ci_monthly",  # bounded month-pair inequality join + 1-row
    #                          rank frames (theil_sen's shape)
    "bowley_skewness_values",  # 1-row n + five 1-row quantile frames
}


def test_registry_wide_no_cartesian_no_stray_nlj(spark, sf_dir):
    """Repo-wide plan sweep: NO registered query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin may appear only in the
    allowlisted scalar-broadcast patterns above. Pins the 100 TB join
    discipline for every current and future registry entry."""
    flagged = {}
    for name in _SPECS:
        try:
            plan = _plan(spark, sf_dir, name)
        except Exception as exc:  # noqa: BLE001 — explain must never fail
            flagged[name] = f"explain failed: {exc}"
            continue
        if "CartesianProduct" in plan:
            flagged[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _SCALAR_BROADCAST_OK:
            flagged[name] = "unallowlisted BroadcastNestedLoopJoin"
    assert not flagged, flagged


def test_relational_hot_path_is_codegen(spark, sf_dir):
    """The TPC-H-ish relational queries must execute inside whole-stage
    codegen (no interpreted row-at-a-time operators on the hot path)."""
    # AQE defers physical planning, so the pre-execution codegen explain
    # reports 0 subtrees; disable it for the inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("pricing_summary", "orders_lineitem_by_priority"):
            df = _SPECS[name].fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            assert "WholeStageCodegen subtrees" in plan, name
            assert "Found 0 WholeStageCodegen" not in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_aggregates_are_partial_final(spark, sf_dir):
    """groupBy aggregations must map-side combine (partial_ functions
    before the shuffle) — at 100 TB this bounds shuffle volume."""
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "partial_" in plan


@pytest.mark.parametrize(
    "name",
    ["cosine_topk_query0", "rp_lsh_topk_query0", "ivf_topk_query1"],
)
def test_topk_uses_takeordered_not_global_sort(spark, sf_dir, name):
    """orderBy().limit(k) must compile to TakeOrderedAndProject —
    a per-partition heap + driver merge, never a full global sort."""
    plan = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan


def test_partitioned_sink_scan_prunes_partitions(spark, sf_dir):
    """The partitioned-sink roundtrip's read side must prune at the
    directory level: the event_type predicate appears as a
    PartitionFilter, not a data filter."""
    plan = _plan(spark, sf_dir, "partitioned_sink_pruned_scan")
    assert "PartitionFilters:" in plan
    part_section = plan.split("PartitionFilters:", 1)[1][:300]
    assert "event_type" in part_section


def test_traindata_map_ops_have_no_shuffle(spark, sf_dir):
    """Chunking, quantization, and repetition scoring are per-row array
    math — their plans must contain ZERO exchanges (pure map over the
    scan), the property that makes them free at 100 TB."""
    for name in (
        "doc_token_chunks",
        "embedding_int8_quant",
        "repetition_quality_scores",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, name


def test_packing_reuses_source_partitioning(spark, sf_dir):
    """The pack aggregation groups on (source, pack_shard, pack_id); the
    window already hash-partitioned by (source, pack_shard), which
    co-locates every pack group — so the plan must contain exactly ONE
    exchange."""
    plan = _plan(spark, sf_dir, "packed_sequences")
    # formatted explain prints each node in the tree AND the details
    # section — "Exchange (" matches the tree form only
    assert plan.count("Exchange (") == 1


@pytest.mark.parametrize("name", ["packed_sequences", "traindata_end_to_end"])
def test_packing_window_is_shard_bounded(spark, sf_dir, name):
    """The cumsum window must partition on (source, pack_shard), never on
    source alone: a power-law corpus makes a source-only window ONE task
    scanning most of 100 TB. Assert every window spec in the plan that
    partitions by source also carries pack_shard."""
    plan = _plan(spark, sf_dir, name)
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition(" in line and "source" in line
    ]
    assert specs, f"no window spec found in {name} plan"
    for line in specs:
        assert "pack_shard" in line, line


def test_vocab_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "vocab_top_terms")
    assert "TakeOrderedAndProject" in plan


def test_oov_vocab_avoids_global_window(spark, sf_dir):
    """The OOV vocabulary subtree must be a distributed top-K
    (TakeOrderedAndProject), never a partition-less row_number window —
    that would sort every distinct term of the corpus in ONE task."""
    plan = _plan(spark, sf_dir, "oov_rate_by_source")
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan


def test_wide_simhash_fingerprint_partial_aggregates(spark, sf_dir):
    """The 60-bit fingerprint's per-bit sums must map-side combine, so
    the shuffle carries one 60-value row per document — never the raw
    token stream — and the md5 must be projected before the aggregate
    (one hash per token, codegen'd case-whens per bit)."""
    from fawac_cdc_spark.functions.dedup import wide_simhash_df

    df = wide_simhash_df(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "partial_sum" in plan
    assert plan.count("Exchange (") == 1


def test_frame_sample_is_pure_map(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_frame_sample")
    assert "Exchange" not in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """rank()<=k filters must push into WindowGroupLimit — a per-partition
    top-k heap BEFORE the window shuffle, so only k rows per group reach
    the exchange instead of every row."""
    plan = _plan(spark, sf_dir, "topk_orders_per_status")
    assert "WindowGroupLimit" in plan


def test_tpch_ext_exists_compiles_to_semi_anti_hash_joins(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS (Q4/Q21/Q22 shapes) must compile to
    semi/anti HASH joins on the correlation key — never a nested-loop
    re-execution of the subquery per outer row."""
    q4 = _plan(spark, sf_dir, "q4_priority_exists")
    assert "LeftSemi" in q4
    q21 = _plan(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    q22 = _plan(spark, sf_dir, "q22_inactive_customers")
    assert "LeftAnti" in q22
    # q22's single BroadcastNestedLoopJoin is the intentional 1-row scalar
    # AVG subquery attach; anything more would be a real nested loop.
    # (formatted explain prints each node twice: tree line + detail block)
    assert q22.count("(1) BroadcastNestedLoopJoin") == 0  # never at the scan root
    assert q22.count("BroadcastNestedLoopJoin") <= 2
    for name, plan in (("q4", q4), ("q21", q21)):
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    assert "CartesianProduct" not in q22


def test_tpch_ext_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6 is the canonical pushdown probe: all three predicates reach the
    parquet scan and the plan is scan -> filter -> partial/final agg with
    exactly one exchange (the 1-row final agg gather)."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:", 1)[1][:600]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1


def test_tpch_ext_dims_broadcast(spark, sf_dir):
    """Filtered dims (part, nation, region) must broadcast in the wide
    joins; the only sort-merge/shuffle joins left are fact-fact."""
    assert _plan(spark, sf_dir, "q19_disjunctive_revenue").count("BroadcastHashJoin") >= 1
    assert _plan(spark, sf_dir, "q8_market_share").count("BroadcastHashJoin") >= 3


def test_q11_part_value_aggregate_materialized_once(spark, sf_dir):
    """q11's per-part value aggregate feeds both the row and threshold
    branches; without materialization Catalyst ran the 4-table join +
    aggregation twice (verified: two lineitem scans, zero
    ReusedExchange). The checkpoint shows as an ExistingRDD scan and no
    lineitem scan may remain in the final plan."""
    plan = _plan(spark, sf_dir, "q11_important_part_value")
    assert "ExistingRDD" in plan
    assert "lineitem" not in plan


def test_tpch_ext_q17_correlated_avg_is_single_aggregate(spark, sf_dir):
    """The per-part AVG is computed as ONE grouped aggregate joined back
    (shared scan), not a re-executed correlated subquery."""
    plan = _plan(spark, sf_dir, "q17_small_qty_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontam_broadcasts_eval_grams(spark, sf_dir):
    """The benchmark gram set is small by construction — it must broadcast
    into the overlap join (corpus side never shuffles for the join), and
    candidate generation must stay equi-join shaped."""
    plan = _plan(spark, sf_dir, "benchmark_decontam_flags")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scrub_is_pure_map_plus_one_aggregate(spark, sf_dir):
    """Regex scrubbing is a per-row map: the only exchange is the final
    per-source aggregate; no join, no Python."""
    plan = _plan(spark, sf_dir, "blocklist_scrub_stats")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["llm_corpus_pipeline", "traindata_end_to_end"])
def test_corpus_pipelines_persist_shingle_groups(spark, sf_dir, name):
    """jaccard_candidate_pairs always materializes the capped shingle-group
    table once (measured −5.7%/−11.3% at sf0.1, BASELINE.md)
    — the checkpoint shows up as an ExistingRDD scan in the plan. A
    refactor that drops it would silently recompute the expensive subtree
    twice at 100 TB."""
    plan = _plan(spark, sf_dir, name)
    assert "ExistingRDD" in plan, "expected the persisted shingle-group scan"


@pytest.mark.parametrize("name", ["near_dedup_survivors", "llm_corpus_pipeline"])
def test_near_dup_drop_list_is_not_force_broadcast(spark, sf_dir, name):
    """The near-dup drop-list is O(duplicate mass) — unbounded at the
    100 TB design point — so the survivor anti-join must NOT carry an
    explicit broadcast hint.  We assert on the optimized LOGICAL plan
    (no ``rightHint=(strategy=broadcast)`` on the doc_id anti-join):
    AQE is still free to pick a broadcast join physically when the list
    is actually small, which is exactly the desired behavior."""
    df = _SPECS[name].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    anti_lines = [
        line
        for line in opt.splitlines()
        if "Join LeftAnti" in line and "doc_id" in line
    ]
    assert anti_lines, "expected a doc_id anti-join in the survivor plan"
    for line in anti_lines:
        assert "broadcast" not in line.lower(), line


def test_bloom_probe_side_never_shuffles(spark, sf_dir):
    """The Bloom gate exists to demonstrate a shuffle-free PROBE: every
    word-table join on the probe side must be broadcast, and no exchange
    may partition on a probe-side column (c_custkey or the pos0..posK
    probe positions).  The BUILD side (distinct dim keys, group-by widx)
    legitimately shuffles once its scan spans >1 partition, so the
    assertion is scoped to probe-side keys rather than banning
    hashpartitioning outright — the earlier whole-plan ban only held
    because the fixture scans were single-partition."""
    plan = _plan(spark, sf_dir, "bloom_semi_join_gate")
    import re

    from fawac_cdc_spark.functions.sketches import BLOOM_K

    probe_cols = ["c_custkey"] + [f"pos{s}" for s in range(BLOOM_K)]
    bad = [
        ex
        for ex in _hash_exchanges(plan)
        if any(col in ex for col in probe_cols)
    ]
    assert not bad, f"probe side shuffled: {bad}"
    assert plan.count("BroadcastHashJoin") >= BLOOM_K
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "substring_dup_stats",
        "incremental_lsh_dedup",
        "knn_join_bucketed_top3",
        "semantic_dedup_cell_stats",
        "gopher_quality_flags",
        "containment_dup_pairs",
        "hard_triplet_mining",
        "stratified_eval_quota",
        "dup_cluster_size_hist",
        "minhash_est_error_pairs",
        "source_overlap_matrix",
    ],
)
def test_unordered_outputs_have_no_global_sort(spark, sf_dir, name):
    """The driver's value hash is order-insensitive, so these outputs
    carry no final orderBy — the plan must not contain a range-partition
    exchange (the physical signature of a global sort).  Window sorts
    (hashpartitioning + local Sort) remain allowed."""
    plan = _plan(spark, sf_dir, name)
    assert "rangepartitioning" not in plan, f"{name}: dead global sort"


def test_knn_join_ranks_with_group_limit_pushdown(spark, sf_dir):
    """The per-vector top-k must use the rank-limit pushdown
    (WindowGroupLimit trims to k per partition BEFORE the final window
    shuffle) and the candidate join must stay a bucket equi-join, never
    a cartesian product."""
    plan = _plan(spark, sf_dir, "knn_join_bucketed_top3")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_substring_dup_join_back_is_unhinted(spark, sf_dir):
    """The df>=2 gram list joins back to the gram stream WITHOUT a
    broadcast hint: at fixture scale the optimizer may pick broadcast,
    but the plan must not pin it (at 100 TB the duplicated-gram list is
    unbounded — boilerplate IS the signal — so AQE must be free to fall
    back to a shuffle join). Guard: the logical plan carries no
    user-supplied join hint, and nothing degenerates to a nested loop."""
    df = _SPECS["substring_dup_stats"].fn(spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "hints=[" not in logical.lower()
    plan = _plan(spark, sf_dir, "substring_dup_stats")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_lsh_probe_is_equi_join(spark, sf_dir):
    """Both the corpus probe and the within-batch self-join must be
    (band, key) equi-joins — never a cross join — and the packing of the
    band table must come from one checkpointed scan (the persisted-state
    stand-in), not two recomputations of the signature subtree."""
    plan = _plan(spark, sf_dir, "incremental_lsh_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the signature pipeline (shingle explode + minhash) runs zero times
    # in this plan because the band table was checkpointed eagerly
    assert "transform(" not in plan
    assert plan.count("Scan ExistingRDD") >= 2


def test_incremental_semantic_probe_is_equi_join(spark, sf_dir):
    """Both the corpus probe and the within-batch self-join must be
    cent_id equi-joins — never a cross join — and all three consumers
    must read the ONE checkpointed assignment table (the persisted
    per-cell artifact stand-in), not recompute the broadcast-argmax
    assignment."""
    plan = _plan(spark, sf_dir, "incremental_semantic_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the assignment pipeline (crossJoin with centroids + argmax window)
    # runs zero times in this plan because assigned was checkpointed
    assert "rangepartitioning" not in plan
    assert plan.count("Scan ExistingRDD") >= 3
    assert "Scan parquet" not in plan


def test_cell_assignment_is_shuffle_free(spark, sf_dir):
    """The IVF/SemDeDup cell assignment is a pure map over the
    embeddings input: the k centroids fold into one broadcast array
    row, so the corpus side crosses NO window and NO requirement-driven
    hashpartitioning exchange (the former crossJoin + row_number form
    pushed k times the corpus bytes through a shuffle just to take an
    argmax).  Its one exchange is the explicit-width ``fan_out``
    (REPARTITION_BY_NUM) that runs the k·d argmax fold at full width,
    whatever the input's partitioning; ENSURE_REQUIREMENTS exchanges
    stay banned."""
    from pyspark.sql import functions as F

    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.functions.similarity import EMB_DIM, cosine_assigned_cells

    def fmt(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # fixture scan: exactly ONE exchange, and it is the fan-out's
    # explicit-count repartition, not a requirement-driven shuffle
    plan = fmt(cosine_assigned_cells(load_table(spark, sf_dir, "embeddings")))
    ex = _hash_exchanges(plan)
    assert len(ex) == 1 and "REPARTITION_BY_NUM" in ex[0], ex
    assert "Window" not in plan
    # the one join is the canonical 1-row scalar-broadcast shape
    # (formatted explain prints each node twice: tree line + detail block)
    assert plan.count("BroadcastNestedLoopJoin") == 2

    # already-wide input (>= fan-out width partitions): the same one
    # explicit-count repartition, still no requirement-driven shuffle
    width = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 512, 1, width).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {EMB_DIM}), "
            "i -> cast(pmod(hash(id, i), 97) as float) / 97.0f)"
        ).alias("embedding"),
    )
    wide_plan = fmt(cosine_assigned_cells(wide))
    wide_ex = _hash_exchanges(wide_plan)
    assert len(wide_ex) == 1 and "REPARTITION_BY_NUM" in wide_ex[0], wide_ex
    assert "Window" not in wide_plan


def test_cell_assignment_fans_out_shuffled_semi_join(spark, sf_dir):
    """A shuffled intermediate fed to ``cosine_assigned_cells`` (here a
    semi-join over a round-robin-repartitioned corpus) still gets
    exactly one explicit-width repartition on vec_id before the k·d
    argmax fold.  A split-count guard skipped it: the input already
    had as many partitions as the fan-out width."""
    from pyspark.sql import functions as F

    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.functions.similarity import cosine_assigned_cells

    width = spark.sparkContext.defaultParallelism
    e = load_table(spark, sf_dir, "embeddings")
    keep = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id")
    ).where(F.col("vec_id") % 3 != 0)
    semi = e.repartition(width).join(keep, "vec_id", "left_semi")
    plan = spark._jvm.PythonSQLUtils.explainString(
        cosine_assigned_cells(semi)._jdf.queryExecution(), "formatted"
    )
    fanned = [x for x in _hash_exchanges(plan) if "REPARTITION_BY_NUM" in x]
    assert len(fanned) == 1 and "hashpartitioning(vec_id" in fanned[0], fanned
    assert f", {width})" in fanned[0], fanned


def test_mixture_materialization_is_map_plus_aggregate(spark, sf_dir):
    """The mixture weight lookup, md5 coin, and epoch explode are pure
    per-row ops; the only shuffles are the two aggregate exchanges that
    exact count_distinct requires (partial on (source, epoch, doc_id),
    final on (source, epoch)) — no join, no window, no extra exchange."""
    plan = _plan(spark, sf_dir, "weighted_source_mixture")
    assert plan.count("Exchange (") == 2
    assert "Join" not in plan and "Window" not in plan


# --- round 7 second session: retrieval / selection / shuffle plans ----------


def test_bm25_broadcasts_stats_and_takeordered(spark, sf_dir):
    """BM25's idf table (|query terms| rows) and corpus stats (1 row)
    must broadcast into the scoring join — the corpus-sized tf stream
    never shuffles for them — and the top-10 must compile to
    TakeOrderedAndProject, not a global range-partition sort."""
    plan = _plan(spark, sf_dir, "bm25_topk_docs")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_feature_tables_broadcast(spark, sf_dir):
    """DSIR's whole point at scale: the two hashed-feature LMs collapse
    to a DSIR_BUCKETS-row table that BROADCASTS into the token stream.
    The corpus side must cross exactly two hashpartitioning exchanges
    (the bucket-count aggregates are over the tiny key space; the
    per-doc sum is the only corpus-sized shuffle) and the top-20 must be
    TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "dsir_selected_docs")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_multiprobe_probe_table_broadcasts(spark, sf_dir):
    """Multi-probe LSH must stay ONE bucket-pruned pass over the corpus:
    the (1 + N_PLANES)-row probe table broadcasts into an equi-join on
    the bucket key — no extra hash tables, no corpus re-bucketing, no
    range sort (top-5 is TakeOrderedAndProject)."""
    plan = _plan(spark, sf_dir, "multiprobe_lsh_topk_query0")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_manifest_sorts_only_within_shards(spark, sf_dir):
    """The deterministic-shuffle rank must come from a window partitioned
    by shard (clustered distribution + LOCAL sort): a rangepartitioning
    exchange would mean a global sort — the exact thing the shard design
    exists to avoid at 100 TB.  (No assertion on the hashpartitioning
    exchange itself: the single-partition fixture scan already satisfies
    the window's clustered distribution, so EnsureRequirements elides it
    at test scale — the ADVICE-r6 brittleness class.)"""
    plan = _plan(spark, sf_dir, "shuffled_shard_manifest")
    assert "rangepartitioning" not in plan
    assert "Window" in plan


def test_novelty_plan_is_two_aggregates_and_equi_join(spark, sf_dir):
    """Trigram novelty must stay linear: explode -> (shard, gram) agg ->
    gram-level min -> equi-join back. No cartesian shapes, no global
    sort, no Python in the hot path."""
    plan = _plan(spark, sf_dir, "ngram_novelty_by_shard")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_multiprobe_stays_bucket_pruned(spark, sf_dir):
    """nprobe=2 must not change the plan class: candidates come from a
    2-row broadcast equi-join on cent_id over the shuffle-free
    assignment; the top-5 is TakeOrderedAndProject, never a global
    sort, and nothing degenerates to a cartesian product."""
    plan = _plan(spark, sf_dir, "ivf_multiprobe_topk_query1")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_classifier_is_pure_map_plus_aggregate(spark, sf_dir):
    """The logistic scoring must be a pure map over the documents scan
    (JVM built-ins only — no joins, no Python eval) followed by one
    small aggregate."""
    plan = _plan(spark, sf_dir, "quality_classifier_scores")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan


def test_dsir_gumbel_adds_no_shuffle_over_selection(spark, sf_dir):
    """Resampling must cost nothing beyond selection: same broadcast
    feature-LM join, per-doc aggregate, then a pure-map Gumbel key and
    TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "dsir_gumbel_resample")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_budget_prefix_sum_is_block_partitioned(spark, sf_dir):
    """The budget-fill prefix sum must be the two-phase distributed form:
    the big window partitions on (source, block) — never source alone —
    and no rangepartitioning exchange (global sort) appears anywhere."""
    plan = _plan(spark, sf_dir, "token_budget_selection")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    # both windows present: the wide within-block cumsum and the tiny
    # cross-block offset
    assert plan.count("Window (") == 2 or plan.count("Window") >= 2


def test_embedding_margin_is_single_broadcast_pass(spark, sf_dir):
    """The margin computation must mirror the shuffle-free assignment
    shape: one constant-size centroid aggregate, one broadcast of the
    folded centroid row, and a pure-map margin expression — the corpus
    never materializes a corpus x labels join and never range-sorts."""
    plan = _plan(spark, sf_dir, "embedding_margin_stats")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    # the folded 1-row centroid table attaches via the canonical
    # scalar-broadcast BNLJ (tree + details = 2 mentions)
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_binned_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The whole point of the bin blocking: a KEYLESS interval join must
    still plan as an equi-join on the time-bin key (with the exact range
    predicate as a residual), never the O(n*m) BroadcastNestedLoopJoin
    the naive theta-join formulation produces."""
    plan = _plan(spark, sf_dir, "binned_interval_join_counts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_cms_sketch_broadcasts_and_combines_map_side(spark, sf_dir):
    """CMS build must be one map-side-combinable aggregate (partial_
    before the shuffle) and the d*w-row sketch must BROADCAST into the
    estimate probe — the event stream is never shuffled a second time."""
    plan = _plan(spark, sf_dir, "cms_user_event_estimates")
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "retention_cohort_matrix",
        "session_transition_matrix",
        "rolling_zscore_anomalies",
    ],
)
def test_analytics_plans_stay_keyed(spark, sf_dir, name):
    """The product-analytics wave must stay window/aggregate shaped:
    shuffles key on user/session/type, no global sort, no cartesian
    shapes, no Python in the plan."""
    plan = _plan(spark, sf_dir, name)
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_build_is_windows_plus_one_aggregate(spark, sf_dir):
    """The SCD2 interval build must stay join-free: three user-keyed
    windows and one aggregate, no global sort, nothing cartesian, no
    Python."""
    plan = _plan(spark, sf_dir, "scd2_user_state_intervals")
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangle_enumeration_is_equi_joins_over_one_checkpoint(spark, sf_dir):
    """Triangle counting must be two equi-joins over ONE checkpointed
    edge table (the expensive shingle-pair subtree runs once), never a
    cartesian shape, with no global sort."""
    plan = _plan(spark, sf_dir, "near_dup_triangle_counts")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan
    # all three join legs read the checkpointed RDD, not the shingle scan
    assert "Scan parquet" not in plan
    assert plan.count("Scan ExistingRDD") >= 3


def test_kl_drift_broadcasts_the_corpus_distribution(spark, sf_dir):
    """The drift monitor's whole point: the corpus distribution is a
    DSIR_BUCKETS-row broadcast, so the per-source stream never shuffles
    to meet it."""
    plan = _plan(spark, sf_dir, "source_kl_drift")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_pagerank_loop_invariants_checkpointed_no_global_sort(spark, sf_dir):
    """The power iteration's loop-invariant inputs (degree-joined edge
    list, node list) must be materialized ONCE (ExistingRDD scans — the
    candidate-pair subtree must not re-run per iteration) and the output
    carries no dead global sort."""
    plan = _plan(spark, sf_dir, "pagerank_near_dup")
    assert plan.count("Scan ExistingRDD") >= 2
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_decontam_corpus_side_is_shuffle_free(spark, sf_dir):
    """The eval side folds into ONE broadcast row, so the corpus side is
    a pure map: no hashpartitioning exchange, no window, exactly the one
    scalar-broadcast nested-loop join (tree line + detail block)."""
    plan = _plan(spark, sf_dir, "semantic_decontam_flags")
    assert not _hash_exchanges(plan), _hash_exchanges(plan)
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_rrf_pools_are_distributed_topk(spark, sf_dir):
    """Both retriever pools and the final fused list must be
    TakeOrderedAndProject (distributed top-k), never a global sort; the
    unpartitioned rank windows run over the constant-size pools only."""
    plan = _plan(spark, sf_dir, "rrf_fused_topk_docs")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_table_profile_plan_is_expand_free(spark, sf_dir):
    """The profile's docstring argues the whole design around avoiding the
    countDistinct-per-column Expand blowup (every input row replicated
    once per profiled column); pin it (ADVICE r7: the claim had no test).
    Also pin that the min/max side joins back as a broadcast."""
    plan = _plan(spark, sf_dir, "table_profile_stats")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_reservoir_topk_is_take_ordered(spark, sf_dir):
    """The A-ES sample is distributed ONLY if the key top-K plans as
    TakeOrderedAndProject (map-side partial top-K, each partition forwards
    at most K rows) rather than a global sort (ADVICE r7: the docstring's
    plan-pin claim had no test)."""
    plan = _plan(spark, sf_dir, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_histogram_plan_is_expand_free_and_broadcasts_stats(spark, sf_dir):
    """The histogram extends the profile's Expand-free design (VERDICT r8
    item 5): the melt is one stack generator, the 9-row per-column
    min/max frame joins back as a BROADCAST, and the only aggregate
    shuffle keys on (col_name, bucket) — at most 9 x 16 groups, so no
    Expand and no range partitioning anywhere."""
    plan = _plan(spark, sf_dir, "lineitem_column_histograms")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in plan


def test_span_removal_plan_has_no_pairwise_stage(spark, sf_dir):
    """The span-removal family must stay LINEAR in total tokens: no
    cartesian product, no broadcast nested loop, and the gram table is
    materialized once (ExistingRDD scans feed both the dup count and the
    join-back) so the documents scan + gram hashing never re-runs."""
    for name in ("substring_span_removal", "span_removal_firstseen"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert plan.count("Scan ExistingRDD") >= 2, name


def test_multimodal_curation_single_plan_no_driver_step(spark, sf_dir):
    """The composed curation query's contract: all three modalities meet
    in ONE Catalyst plan — the cell assignment stays the folded-broadcast
    argmax (one scalar broadcast nested-loop join, no corpus-side window),
    the decode stages are Arrow maps inside the plan (ArrowEvalPython /
    MapInPandas nodes), and no range partitioning appears."""
    plan = _plan(spark, sf_dir, "multimodal_curation_composed")
    assert "MapInPandas" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_depth_histogram_two_phase_prefix_no_single_task_sort(spark, sf_dir):
    """Equi-depth's exact prefix sum must be the TWO-PHASE block shape:
    value-counts aggregate before any window (NDV rows, not table rows),
    the block-offset frame joins back as a BROADCAST, and the fine
    window partitions by (col_name, blk) — two Window operators total,
    no Expand, no range partitioning, so no column's ordered pass is one
    task."""
    plan = _plan(spark, sf_dir, "lineitem_depth_histograms")
    assert "Expand" not in plan
    assert "rangepartitioning" not in plan
    # two windows: the tiny offset cumsum + the within-block prefix
    import re

    window_ops = re.findall(r"\(\d+\) Window", plan)
    assert len(window_ops) == 2, window_ops
    assert "BroadcastHashJoin" in plan
    # the fine window partitions by (col_name, blk), never col_name alone
    # BOTH windowspecs key on blk right after col_name: the offset
    # window orders by blk, the fine window partitions by (col_name, blk)
    # — neither is a partition-by-column-alone ordered pass over values
    specs = re.findall(r"windowspecdefinition\(col_name#\d+, blk#", plan)
    assert len(specs) == 2, plan.count("windowspecdefinition")
    # value-count aggregate happens below the first window
    first_win = plan.index("Window")
    assert plan[:first_win].count("HashAggregate") >= 2


def test_decontam_span_removal_broadcasts_eval_grams(spark, sf_dir):
    """The whole scale argument: the eval gram set broadcasts into the
    corpus gram stream (BroadcastHashJoin), there is no per-gram fanout
    join, no cartesian, and the rewrite stays linear."""
    plan = _plan(spark, sf_dir, "decontam_span_removal")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adaptive_quality_cutoffs_broadcast_back(spark, sf_dir):
    """The per-source cutoff frame (~|sources| rows) must join back onto
    the token scan as a BROADCAST — the corpus side shuffles only for the
    percentile and the final per-source aggregate."""
    plan = _plan(spark, sf_dir, "adaptive_source_quality_filter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_full_outer_reconciliation_preaggregates_both_sides(spark, sf_dir):
    """The scale-honest order of operations: BOTH ledgers aggregate
    before the full-outer join (partial_count below the join), so the
    intrinsic user_id shuffle carries |users| rows, never raw facts."""
    plan = _plan(spark, sf_dir, "full_outer_user_reconciliation")
    assert "FullOuter" in plan
    join_pos = plan.index("FullOuter")
    assert plan[join_pos:].count("HashAggregate") >= 2  # aggs feed the join
    assert "CartesianProduct" not in plan


def test_debounce_is_one_window_pass(spark, sf_dir):
    """Debounce must be exactly one LAG window over (user, type): one
    hash exchange, no join, no range partitioning."""
    plan = _plan(spark, sf_dir, "debounced_events")
    assert "Window" in plan
    assert "Join" not in plan
    # exactly ONE exchange — the (user, type) hash partition the window
    # needs; no range partitioning, no second shuffle
    assert plan.count("hashpartitioning(") == 1
    assert "rangepartitioning" not in plan


def test_ppjoin_is_equijoin_shaped_no_global_rank(spark, sf_dir):
    """PPJoin's scale contract: candidate generation and verify are
    equi-joins (no cartesian / nested-loop), the prefix ranking is a
    PER-DOC window (hash partitioning on doc_id — never the empty
    partition spec that funnels into one task), and the shingle table is
    materialized once for its three consumers."""
    plan = _plan(spark, sf_dir, "ppjoin_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no global (unpartitioned) window: an unpartitioned Window would
    # plan a SinglePartition exchange — the one-task funnel this pin
    # exists to forbid (code-review round 10: the previous loop here
    # asserted nothing)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan  # the per-doc prefix window
    assert "rangepartitioning" not in plan
    assert plan.count("Scan ExistingRDD") >= 3  # checkpointed shingles reused


def test_quantile_norm_window_is_partitioned_by_source(spark, sf_dir):
    """The rank normalization must shuffle once on source — never a
    global unpartitioned window."""
    plan = _plan(spark, sf_dir, "quality_quantile_norm")
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_erasure_cascade_uses_semi_joins(spark, sf_dir):
    """The cascade must move KEYS only: orders and lineitem are pruned by
    left-semi joins, and no wide payload join appears."""
    plan = _plan(spark, sf_dir, "erasure_cascade_audit")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_mad_outliers_broadcasts_median_tables(spark, sf_dir):
    """Both per-type median tables are tiny and must broadcast back into
    the events stream (no sort-merge join on the full fact table)."""
    plan = _plan(spark, sf_dir, "mad_robust_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_holt_is_one_shuffle_arrow_scan(spark, sf_dir):
    """The Holt recurrence is one hash exchange on user_id plus an Arrow
    mapInPandas scan — no join, no range partitioning."""
    plan = _plan(spark, sf_dir, "holt_smoothed_values")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_lsh_recall_eval_is_key_only_joins(spark, sf_dir):
    """The recall/precision harness must compare KEY pairs only: the
    exact-vs-candidate overlap is a left-semi join, the three one-row
    counts attach by broadcast, and no unintended cartesian appears."""
    plan = _plan(spark, sf_dir, "lsh_recall_vs_exact")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_winsorized_stats_broadcast_bounds(spark, sf_dir):
    """The P1/P99 bound table is tiny and must broadcast back into the
    events stream — one exact-percentile aggregate, no sort-merge join."""
    plan = _plan(spark, sf_dir, "winsorized_stats_by_type")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_median_is_one_bounded_frame(spark, sf_dir):
    """One user-partitioned ROWS frame, no join, no range partitioning."""
    plan = _plan(spark, sf_dir, "rolling_median_per_user")
    assert "Window" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_nucleus_selection_windows_partition_by_source(spark, sf_dir):
    """Both the running-mass and total windows must partition by source —
    never an unpartitioned global window."""
    plan = _plan(spark, sf_dir, "nucleus_quality_selection")
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_expectations_fk_checks_are_anti_joins(spark, sf_dir):
    """The referential-integrity rules must be key-only LEFT ANTI joins
    — never a payload join or cartesian."""
    plan = _plan(spark, sf_dir, "data_quality_expectations")
    assert plan.count("LeftAnti") >= 2
    assert "CartesianProduct" not in plan


def test_out_of_order_stats_is_one_running_max_window(spark, sf_dir):
    """Lateness accounting is one arrival-ordered running-max window per
    event type plus one aggregate — no join, no range partitioning."""
    plan = _plan(spark, sf_dir, "out_of_order_stats")
    assert "Window" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_heaps_growth_has_no_expanding_distinct(spark, sf_dir):
    """Vocabulary checkpoints must come from per-token FIRST-doc minima
    plus a broadcast 10-row cutoff table — never an expanding distinct
    count; the cutoff attach is the allowlisted tiny-frame cross join."""
    plan = _plan(spark, sf_dir, "heaps_vocab_growth")
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_cusum_windows_partition_by_type(spark, sf_dir):
    """The running CUSUM and the peak rank are per-type windows over
    DAYS; the global-mean table broadcasts back."""
    plan = _plan(spark, sf_dir, "cusum_drift_by_type")
    assert "hashpartitioning(event_type" in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_survivor_rides_shared_closure(spark, sf_dir):
    """Survivor selection must reuse the checkpointed closure pipeline:
    no cartesian, per-component windows partitioned (no global funnel)."""
    plan = _plan(spark, sf_dir, "quality_survivor_per_cluster")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(component" in plan
    assert "SinglePartition" not in plan


def test_trailing_7d_is_pair_explode_not_window_distinct(spark, sf_dir):
    """The sliding distinct must be the pair-explode rewrite: a Generate
    (explode) node over distinct (user, day) pairs — never a windowed
    distinct or a day-range join."""
    plan = _plan(spark, sf_dir, "trailing_7d_active_users")
    assert "Generate" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_time_to_convert_is_one_window_no_pair_join(spark, sf_dir):
    """The latency carry must be ONE per-user window (running conditional
    MAX) — never the pair-enumerating interval join of the attribution
    queries."""
    plan = _plan(spark, sf_dir, "funnel_time_to_convert")
    assert "Window" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


# --- round 11 plan pins -----------------------------------------------------


def test_skyline_is_sort_based_not_dominance_join(spark, sf_dir):
    """The Pareto skyline must be the O(n log n) sort-based rewrite: one
    running-max window over spend groups and one broadcast join back —
    never the O(n²) dominance anti-join (no cartesian / nested-loop
    node anywhere)."""
    plan = _plan(spark, sf_dir, "skyline_pareto_customers")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_theil_sen_pairs_only_on_monthly_aggregate(spark, sf_dir):
    """The O(n²) slope enumeration must run on the MONTHLY aggregate —
    the inequality join's inputs are aggregates of a bounded month
    count, so the quadratic stage is constant-size at any corpus
    scale (the raw orders scan feeds exactly one aggregate)."""
    plan = _plan(spark, sf_dir, "theil_sen_monthly_trend")
    join_part = plan.split("BroadcastNestedLoopJoin", 1)
    assert len(join_part) == 2, "expected the bounded inequality pair join"
    # the pair join consumes the checkpointed month rollup, not a scan
    assert "orders.parquet" not in join_part[1].split("== Initial Plan ==")[0][:2000]


def test_churn_collapses_to_user_week_pairs_first(spark, sf_dir):
    """Week-over-week churn must aggregate events to distinct
    (user, week) BEFORE any join — the joins run on pair tables, never
    on the raw event stream."""
    plan = _plan(spark, sf_dir, "churn_retention_weekly")
    scan_first = plan.index("events.parquet")
    agg_first = plan.index("HashAggregate")
    join_first = plan.index("Join")
    assert agg_first < join_first or scan_first > join_first
    assert "CartesianProduct" not in plan


def test_streaks_window_runs_on_distinct_pairs(spark, sf_dir):
    """Gaps-and-islands must window over distinct (user, day) pairs —
    an aggregate sits below the row_number window."""
    plan = _plan(spark, sf_dir, "user_daily_streaks")
    assert "Window" in plan
    assert plan.index("HashAggregate") < plan.index("Window") or "Aggregate" in plan.split("Window")[0]


def test_twap_is_one_window_one_agg(spark, sf_dir):
    """TWAP must be one lead window + one grouped aggregate — no join,
    no second shuffle family."""
    plan = _plan(spark, sf_dir, "twap_daily_value")
    assert "Window" in plan
    assert "Join" not in plan


def test_benford_is_scan_plus_tiny_groupby(spark, sf_dir):
    """The digit audit is a pure map over the lineitem scan plus counts
    on 27 keys — no join and no window wider than the flag partition."""
    plan = _plan(spark, sf_dir, "benford_first_digit_audit")
    assert "Join" not in plan
    assert "lineitem" in plan


def test_quality_admissions_is_window_not_self_join(spark, sf_dir):
    """The best-so-far verdict must be the per-(band, key) running-max
    window — never the earlier-docs self-join (which enumerates
    collision pairs)."""
    plan = _plan(spark, sf_dir, "quality_dedup_admissions")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frontier_shares_signature_and_exact_inputs(spark, sf_dir):
    """The frontier's four configs must reuse the checkpointed signature
    and exact-pair tables: the plan contains NO documents scan (all
    corpus-sized work happened before the checkpoints) and one band
    self-join per config."""
    plan = _plan(spark, sf_dir, "lsh_param_frontier")
    assert "documents.parquet" not in plan
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan


def test_jsd_grid_is_generator_not_shuffle_join(spark, sf_dir):
    """The |sources| x 256 JSD grid joins a broadcast corpus-bucket table
    — the only exchanges key on (source, b)-grain aggregates, and the
    grid join itself is broadcast."""
    plan = _plan(spark, sf_dir, "jsd_source_unigrams")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_anomalies_sigma_gate_has_no_float_udf(spark, sf_dir):
    """The 2-sigma gate is integer window arithmetic: no Python UDF node
    (BatchEvalPython / ArrowEvalPython) anywhere in the plan."""
    plan = _plan(spark, sf_dir, "seasonal_hour_anomalies")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Window" in plan


def test_cooccurrence_joins_on_order_container(spark, sf_dir):
    """Co-purchase pair generation must self-join on l_orderkey (≤7
    parts per order bounds the fanout) — never a parts-side cross."""
    plan = _plan(spark, sf_dir, "item_cooccurrence_similarity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "l_orderkey" in plan


def test_session_path_agg_is_order_pinned(spark, sf_dir):
    """The path string must come from a sorted-struct aggregate (one
    ObjectHashAggregate family pass) — no second windowed pass over the
    collected arrays."""
    plan = _plan(spark, sf_dir, "session_path_topk")
    assert "array_sort" in plan or "sort_array" in plan
    assert "TakeOrderedAndProject" in plan


def test_holt_winters_is_one_shuffle_arrow_scan(spark, sf_dir):
    """The HW recurrence must be the secondary-sort mapInPandas shape:
    exactly one exchange on event_type feeding the Arrow scan."""
    plan = _plan(spark, sf_dir, "holt_winters_hourly")
    assert "MapInPandas" in plan
    assert "Sort" in plan


def test_skyline_runmax_window_is_bucket_partitioned(spark, sf_dir):
    """The skyline prefix max must run partitioned by the bit-length
    bucket (the unpartitioned global-window form is the scale-killer);
    only the ≤64-row bucket-offset window may be single-partition."""
    plan = _plan(spark, sf_dir, "skyline_pareto_customers")
    assert "bucket" in plan
    # The spend-group window partitions on bucket: the exchange feeding
    # it must be hashpartitioning(bucket...).  (The former
    # `"PARTITION BY" not in plan` assertion was vacuous — formatted
    # plans render windows as windowspecdefinition(...), never that
    # token — ADVICE r11.)  The only SinglePartition exchange allowed is
    # the ≤64-row bucket-offset window, so at most one may appear.
    assert "hashpartitioning(bucket" in plan
    assert plan.count("SinglePartition") <= 1


def test_gini_windows_are_bucket_blocked(spark, sf_dir):
    """VERDICT r11 #5: no per-source sort of the document grain — every
    window spec in the gini plan must be bucket-scoped (the value-grain
    cumulative count within (source, bucket), or the per-source offset
    window OVER the ≤64-row bucket table ordered by bucket)."""
    plan = _plan(spark, sf_dir, "gini_concentration_by_source")
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs, "expected window specs in the gini plan"
    for line in specs:
        assert "bucket" in line, line
        assert "doc_id" not in line, line


def test_decile_lift_has_no_global_ntile(spark, sf_dir):
    """VERDICT r11 #2: decile assignment must be broadcast quantile
    boundaries — no ntile anywhere, and the only window (the 10-row
    lift rollup) sits ABOVE the decile aggregate, never on the
    customer-grain input.  The boundary frame must arrive broadcast."""
    plan = _plan(spark, sf_dir, "customer_decile_lift")
    # word-bounded: "percentile(" itself contains the substring "ntile("
    assert not re.search(r"(?<![a-z])ntile\(", plan.lower())
    assert "percentile" in plan.lower()
    assert "BroadcastExchange" in plan
    # Every window spec in the plan must order by the 10-key decile
    # column only — a window spec mentioning the customer key would be
    # the banned global sort of the customer-grain rollup.
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "o_custkey" not in line, line


def test_rfm_is_windowless_broadcast_boundaries(spark, sf_dir):
    """VERDICT r11 #3: RFM scores come from one 12-cut-point aggregate
    broadcast back — the plan contains NO window operator at all and
    no ntile."""
    plan = _plan(spark, sf_dir, "rfm_customer_segments")
    assert not re.search(r"(?<![a-z])ntile\(", plan.lower())
    assert "Window" not in plan
    assert "percentile" in plan.lower()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_kendall_pairs_only_on_monthly_aggregate(spark, sf_dir):
    """The O(n²) concordance enumeration must run on the MONTHLY
    aggregate (theil_sen's discipline): the inequality join's inputs
    are bounded month rollups, never the orders scan."""
    plan = _plan(spark, sf_dir, "kendall_tau_monthly")
    join_part = plan.split("BroadcastNestedLoopJoin", 1)
    assert len(join_part) == 2, "expected the bounded inequality pair join"
    assert "orders.parquet" not in join_part[1].split("== Initial Plan ==")[0][:2000]


def test_mann_whitney_windows_are_bucket_blocked(spark, sf_dir):
    """No global sort of the price grain: every window spec in the
    rank-sum plan is bucket-scoped (value-grain cumulative within
    bucket, or the ≤64-row bucket-offset window ordered by bucket)."""
    plan = _plan(spark, sf_dir, "mann_whitney_flag_test")
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "bucket" in line, line


def test_abc_windows_are_bucket_blocked(spark, sf_dir):
    """Same discipline for the ABC cumulative mass: every window spec
    is bucket-scoped; classification itself is join+aggregate."""
    plan = _plan(spark, sf_dir, "abc_analysis_parts")
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "bucket" in line, line


def test_pivot_plans_single_pass(spark, sf_dir):
    """PIVOT with an explicit value list must compile to ONE aggregate
    pass over the join — no extra distinct-values job (no second scan
    of lineitem) and no Expand."""
    plan = _plan(spark, sf_dir, "pivot_monthly_flag_revenue")
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan


def test_attribution_pairs_join_on_user(spark, sf_dir):
    """Attribution pair enumeration must be the user-keyed range join —
    never a time-only cross."""
    plan = _plan(spark, sf_dir, "multi_touch_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan


# --- round-12 extension plan pins ---------------------------------------------


def test_embedding_diversity_has_no_pair_join(spark, sf_dir):
    """The sum-vector identity's whole point: NO shuffle join between
    two embedding-scan branches — every join in the plan is a broadcast
    attach of the tiny label-grain frame.  A SortMergeJoin or shuffled
    hash join appearing here would mean the O(n²) pair blowup crept
    back in."""
    plan = _plan(spark, sf_dir, "embedding_diversity_by_label")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_extension_topk_plans_use_take_ordered(spark, sf_dir):
    """The EB shrinkage ranking and the drawdown argmax must plan as
    TakeOrderedAndProject (top-k without a global sort), the repo's
    pinned top-k discipline."""
    for name in ("eb_shrunk_part_rates", "max_drawdown_daily"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert plan.count("Sort ") <= 1, name


def test_permutation_test_hoists_digests_before_explode(spark, sf_dir):
    """poisson_bootstrap's round-15 coin discipline, pinned for the
    permutation test: ALL md5/conv string work runs at the ORDER grain
    before the replicate Generate (explode), behind an explicit-width
    repartition — the exploded rows do only array access + integer
    arithmetic (the former per-exploded-row substr/conv was ~60% of the
    query's runtime and ran on the scan's single split)."""
    plan = _plan(spark, sf_dir, "permutation_test_mean_diff")
    # the replicate blowup exists
    assert plan.count("Generate") >= 1
    # the coin chunks are a plain array literal of codegen'd convs (no
    # interpreted lambda transform), hoisted pre-explode
    assert "conv(substr(md5" in plan
    assert "lambdafunction(md5" not in plan
    # the pre-explode widen is an explicit round-robin-free hash
    # repartition (AQE would coalesce a column-only one to 1 partition)
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(o_orderkey" in plan
    # the per-exploded-row coin is element_at arithmetic
    assert "element_at" in plan


# --- round-13 plan pins -------------------------------------------------------


def test_pca_moment_reduction_is_distributed(spark, sf_dir):
    """VERDICT r12 #2: the PCA moment fold must be a distributed exact
    aggregation, not a driver-side loop over per-Arrow-batch partials.
    Pins: (a) the totals frame plans as partial + final HashAggregate
    around exactly ONE exchange keyed on the flattened index i — so
    each map task ships at most 1 + d + d**2 combined rows no matter how
    many batches it saw; (b) the sum is DECIMAL(38,0) (exact, order-
    free); (c) collecting it yields exactly 1 + d + d**2 rows — the only
    thing that ever reaches the driver."""
    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.functions.similarity import (
        EMB_DIM,
        _pca_moment_totals_frame,
    )
    from pyspark.sql import functions as F
    import pandas as pd

    # a stand-in partials frame with the production schema: the plan
    # shape is independent of how many partial rows the scan emits
    def fake_parts(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"flat": [list(range(1 + EMB_DIM + EMB_DIM * EMB_DIM))] * len(pdf)}
            )

    parts = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .mapInPandas(fake_parts, "flat array<long>")
    )
    df = _pca_moment_totals_frame(parts)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(i" in plan
    assert plan.count("HashAggregate (") == 2  # partial + final
    assert "sum(cast(v" in plan and "decimal(38,0)" in plan
    assert "Join" not in plan and "Window" not in plan
    rows = df.collect()
    assert len(rows) == 1 + EMB_DIM + EMB_DIM * EMB_DIM


def test_changepoint_plans_take_ordered(spark, sf_dir):
    """best_changepoint_daily's argmax must compile to
    TakeOrderedAndProject over the bounded day grain (the repo's pinned
    top-k discipline), never a global range-partition sort."""
    plan = _plan(spark, sf_dir, "best_changepoint_daily")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


# --- round 14 plan pins --------------------------------------------------------


def test_grubbs_is_take_ordered_top1(spark, sf_dir):
    """The argmax day must be a TakeOrderedAndProject frontier, never a
    global sort of the day grain."""
    plan = _plan(spark, sf_dir, "grubbs_outlier_daily")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hopkins_probe_pass_is_single_scan_nlj(spark, sf_dir):
    """The Hopkins probe pass is ONE broadcast NLJ of the 2m-row probe
    frame against the embeddings scan (fixed-m extra-scans shape) — and
    the real-probe frontier is TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_dir, "hopkins_clusterability")
    # Catalyst pushes the crossJoin through the probe union, planning one
    # NLJ per branch — still the fixed-m extra-scans shape (<= 2 passes).
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_title_pairs_are_block_equi_joined(spark, sf_dir):
    """The title pair join must key on the block column (equi-join on
    blk), never an unkeyed pair expansion.  The final query plan hides
    the join behind a localCheckpoint, so pin the exposed pair frame."""
    from fawac_cdc_spark.functions.dedup import _fuzzy_title_pairs

    _, pairs = _fuzzy_title_pairs(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = [l for l in plan.splitlines() if "keys [1]" in l.lower()]
    assert keys and all("blk" in l for l in keys), keys


def test_conformal_quantile_windows_are_bucket_blocked(spark, sf_dir):
    """The conformal order statistic must ride the sign-safe bucket
    hierarchy: every window spec in the plan is bucket-scoped (the
    mann_whitney discipline on the residual grain)."""
    plan = _plan(spark, sf_dir, "conformal_residual_coverage")
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "bucket" in line, line


def test_l_moments_windows_are_bucket_blocked(spark, sf_dir):
    """The PWM rank machinery must never global-sort the value grain:
    every window spec is bucket-scoped (mann_whitney's discipline)."""
    plan = _plan(spark, sf_dir, "l_moments_event_values")
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "bucket" in line, line


def test_fan_out_width_and_multiset(spark):
    """Round-15 optimization internals: ``helpers.fan_out`` repartitions
    to ``defaultParallelism`` (explicit count — AQE-coalesce-exempt) and
    moves rows without changing them."""
    from pyspark.sql import functions as F

    from fawac_cdc_spark.operators.helpers import fan_out

    width = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).select(F.col("id").alias("k"))

    assert fan_out(narrow, "k").rdd.getNumPartitions() == width
    # values are a pure repartition: identical multiset
    a = sorted(r["k"] for r in fan_out(narrow, "k").collect())
    assert a == list(range(1000))
