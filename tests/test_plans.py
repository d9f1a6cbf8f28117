"""Plan-quality regression tests: the SCALE.md guarantees, asserted.
A change that silently drops predicate pushdown, widens a parquet scan,
or drags Python into a JVM-only path fails here at sf0.001 — long
before it costs anything at scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark.plans import checks as C
from weather_bigdata_project_spark import registry
from weather_bigdata_project_spark.registry import QUERIES

registry.load()

# every query whose plan must contain zero Python evaluation operators
_JVM_ONLY = [
    "weather_enrich",
    "weather_city_stats",
    "tpch_q1_pricing_summary",
    "tpch_q3_order_revenue",
    "tpch_q5_regional_revenue",
    "window_moving_avg_events",
    "events_hourly_window",
    "events_user_sessions",
    "events_json_extract",
    "text_fingerprint",
    "text_quality_score",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "embed_knn_bruteforce",
    "embed_ivf_search",
    "embed_ivf_recall",
    "join_geo_nearest_station",
    "geo_grid_cell_stats",
    "geo_radius_filter",
    "geo_zorder_cells",
    "part_skyline_frontier",
    "embed_kmeans_assign",
    "embed_kmeans_update",
    "embed_pq_encode",
    "dedup_edit_distance",
    "dedup_chunk_level",
    "text_bigram_pmi",
    "text_zipf_slope",
    "basket_brand_lift",
    "graph_pagerank_brands",
    "graph_triangle_brands",
    "events_variant_extract",
    "sql_recursive_brand_reach",
    "sql_udf_dew_point",
    "sql_lateral_topk_customers",
    "sql_table_fn_date_spine",
    "weather_collated_city_stats",
    "events_transition_matrix",
    "events_anomaly_zscore",
    "events_anomaly_mad",
    "events_value_ewma",
    "events_trailing_distinct_users",
    "orders_yoy_priority_growth",
    "orders_rfm_segments",
    "events_dow_seasonality",
    "events_cusum_drift",
    "events_holt_trend",
    "sql_join_null_semantics",
    "events_funnel_strict",
    "lineitem_abc_pareto",
    "events_user_streaks",
    "join_asof_purchase_next_click",
    "sql_window_functions",
    "sql_array_functions",
    "dedup_rate_by_source",
    "sql_agg_functions",
    "events_rolling_corr",
    "events_value_trend_ols",
    "events_hour_profile",
    "events_funnel_latency",
    "corpus_source_divergence",
    "corpus_perplexity_unigram",
    "corpus_split_assign",
    "corpus_weighted_sample",
    "dq_key_skew",
    "events_type_dow_chisq",
    "weather_degree_days",
    "events_session_paths",
    "events_acf_daily",
    "events_key_skew_profile",
    "events_interarrival_stats",
    "events_user_entropy",
    "events_user_features",
    "events_json_schema_profile",
    "embed_silhouette_labels",
    "embed_norm_stats",
    "embed_centroid_drift",
    "dedup_minhash_estimate_error",
    "dedup_prefix_filter_jaccard",
    "corpus_chunk_windows",
    "join_session_overlap",
    "join_asof_nearest_click",
    "orders_cohort_ltv",
    "orders_backlog_sweepline",
    "multimodal_exact_dupes",
    "events_holt_winters",
    "events_holt_backtest",
    "events_bootstrap_ci",
    "events_survival_km",
    "events_markov_eval",
    "events_value_anova",
    "events_periodogram",
    "events_did_analysis",
    "events_ab_conversion_ztest",
    "events_gini_concentration",
    "events_gini_binned",
    "corpus_rendezvous_shards",
    "privacy_t_closeness",
    "corpus_cluster_topics",
    "join_asof_tolerance",
    "join_asof_strict_before",
    "corpus_stupid_backoff",
    "privacy_contribution_bounding",
    "corpus_source_overlap_matrix",
    "geo_idw_loocv",
    "events_snaive_mase_backtest",
    "events_growth_accounting",
    "events_table_diff",
    "orders_benford_screen",
    "orders_fiscal_445_revenue",
    "part_price_index_laspeyres",
    "supplier_concentration_hhi",
    "nation_trade_balance",
    "lineitem_returns_pchart",
    "text_langid_confusion",
    "text_vocab_coverage_curve",
    "corpus_split_leakage",
    "dedup_minhash_band_tuning",
    "dedup_graph_degree_profile",
    "dedup_cluster_canonical_quality",
    "embed_ivf_nprobe_matrix",
    "sql_pipe_syntax_daily_revenue",
    "events_mannwhitney_u",
    "events_ks_weekend",
    "events_spearman_corr",
    "events_stl_decompose",
    "lineitem_corr_matrix",
    "ml_linreg_normal_eq",
    "embed_random_projection",
    "events_theilsen_trend",
    "events_changepoint_sse",
    "text_rake_keywords",
    "sql_subquery_battery",
    "events_holt_gridsearch",
    "graph_link_prediction_brands",
    "events_pacf_daily",
    "dq_fk_integrity",
    "events_attribution_linear",
    "events_power_analysis",
    "geo_idw_interpolation",
    "embed_mmr_rerank",
    "events_seasonal_esd",
    "corpus_perplexity_bigram",
    "events_forecast_reconcile",
    "embed_ood_distance",
    "warehouse_scd2_apply",
    "dedup_containment",
    "customer_migration_matrix",
    "events_value_twap",
    "ml_linreg_grouped_brands",
    "corpus_shard_balance",
    "orders_prefix_sum_distributed",
    "events_lateness_profile",
    "ml_decision_stump",
    "ml_stump_holdout_eval",
    "ml_auc_quantity_returns",
    "ml_precision_recall",
    "ml_calibration_bins",
    "events_seasonality_strength",
    "events_ab_sprt",
    "dq_daily_health_report",
    "text_bpe_train",
    "corpus_training_assembly",
    "text_bpe_holdout_compression",
    "lineitem_price_volume_mix",
    "events_dau_mau_stickiness",
    "part_xyz_variability",
    "events_croston_intermittent",
    "weather_beaufort_distribution",
    "events_retention_halflife",
    "orders_duplicate_screen",
    "orders_psi_priority",
    "orders_fulfillment_latency",
    "customer_whale_curve",
    "events_markov_absorption",
    "weather_city_correlation",
    "embed_dim_variance_spectrum",
    "part_single_source_risk",
    "lineitem_psi_quantity",
    "events_interrupted_timeseries",
    "lineitem_revenue_waterfall",
    "events_rate_shrinkage_eb",
    "weather_gumbel_return_levels",
    "corpus_source_novelty",
    "part_economic_order_quantity",
    "events_bass_diffusion",
    "embed_hubness_audit",
    "text_token_burstiness",
    "events_attribution_window_sensitivity",
    "text_langid_kappa",
    "events_feature_mi_screen",
    "weather_diurnal_range",
    "weather_wet_bulb_stats",
    "basket_association_rules",
    "part_price_dispersion",
    "events_peak_to_average",
    "orders_interorder_gamma_fit",
    "weather_comfort_transitions",
    "events_winsorized_mean",
    "events_duplicate_delivery",
    "customer_hhi_trend",
    "text_lexical_richness",
    "embed_distance_concentration",
    # round-3 additions
    "dedup_band_tuning_sampled",
    "embed_semdedup_prune",
    "embed_signbucket_neardup",
    "embed_pq_adc_search",
    "embed_ivfpq_search",
    "corpus_mix_temperature",
    "corpus_dedup_funnel",
    "text_token_fertility",
    "events_approx_distinct_bounds",
    "events_approx_percentile_bounds",
    "corpus_dsir_importance",
    "dedup_incremental_snapshot",
    "corpus_global_shuffle",
    "dedup_chunk_scrub",
    "corpus_decontaminate",
    "retrieval_rrf_fusion",
    "corpus_cluster_split",
    "embed_sq8_quantize",
    "dedup_duplicated_spans",
    "embed_sq8_recall",
    "weather_step_spike_qc",
    "corpus_gopher_rules",
    "embed_matryoshka_recall",
    "retrieval_hybrid_morelikethis",
    "events_ab_srm_check",
    "events_cuped_adjustment",
    "events_cms_frequency",
    "events_cms_joinsize",
    "lineitem_bloom_join_prune",
    "embed_nndescent_knn",
    "embed_binary_quantize_recall",
    "embed_semdedup_resplit",
    "embed_hard_negatives",
    "corpus_curriculum_order",
]


@pytest.mark.parametrize("name", _JVM_ONLY)
def test_hot_path_stays_jvm_side(spark, name):
    plan = C.formatted_plan(QUERIES[name](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_cartesian(plan)


def test_q3_pushdown_and_broadcast(spark):
    plan = C.formatted_plan(QUERIES["tpch_q3_order_revenue"](spark, SF_SMOKE))
    C.assert_pushdown(plan, "l_shipdate")        # date filter reaches lineitem scan
    C.assert_pushdown(plan, "c_mktsegment")      # segment filter reaches customer scan
    C.assert_broadcast_join(plan, 1)
    # projection pruning: q3 never needs lineitem quantity or tax
    C.assert_scan_pruned(plan, "l_quantity")
    C.assert_scan_pruned(plan, "l_tax")


def test_q5_dimension_broadcasts(spark):
    plan = C.formatted_plan(QUERIES["tpch_q5_regional_revenue"](spark, SF_SMOKE))
    C.assert_pushdown(plan, "r_name")            # region filter pushed
    C.assert_broadcast_join(plan, 3)             # supplier/nation/region hinted


def test_metadata_scan_prunes_text(spark):
    """multimodal_binary_meta computes from text but the documents scan
    must read only what it needs (never lang/source)."""
    plan = C.formatted_plan(QUERIES["multimodal_binary_meta"](spark, SF_SMOKE))
    C.assert_scan_pruned(plan, "lang")
    C.assert_scan_pruned(plan, "source")


def test_topk_uses_heap_not_global_sort(spark):
    """LIMIT-k queries must plan TakeOrderedAndProject (per-partition
    heaps), not a full Exchange+Sort of the scored set."""
    plan = C.formatted_plan(QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_minhash_verify_arrays_are_candidate_only(spark):
    """Round-2 judge finding, fixed: verification shingle ARRAYS must
    never ride a population-sized shuffle. The verify-side array frame
    sits above a LEFT SEMI prune of the per-doc array frame down to
    candidate doc_ids (_cand_arrays). Round 10 strengthened the shape:
    the arrays are read straight off the pinned in-row gram-array
    build, so the plan must have NO collect_list re-assembly aggregate
    either (the old plan gathered candidate arrays with a groupBy —
    one extra exchange of the semi-joined shingle rows). Applies to
    both the LSH and the prefix-filter (PPJoin) verifiers."""
    spark.catalog.clearCache()
    for name in ("dedup_minhash_lsh", "dedup_prefix_filter_jaccard"):
        plan = C.formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert "LeftSemi" in plan, f"{name}: no candidate semi-prune"
        assert "collect_list" not in plan, (
            f"{name}: verify arrays re-assembled by an aggregate"
        )


# --- advanced.py operators (as-of / band / salted / sample) ---------------

def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must be exactly ONE exchange (on
    user_id) — the whole point of the design vs a pair-blowup join."""
    plan = C.formatted_plan(
        QUERIES["join_asof_purchase_last_click"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    C.assert_max_shuffles(plan, 1)
    C.assert_pushdown(plan, "event_type")  # side filters reach the scans
    # the tolerance variant must not cost a second exchange: the bound
    # is a post-carry projection, not a join condition
    plan2 = C.formatted_plan(
        QUERIES["join_asof_tolerance"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan2)
    C.assert_max_shuffles(plan2, 1)


def test_band_join_compiles_to_hash_join(spark):
    """Bucketized band join must be a hash/sort-merge equi join — never a
    nested-loop over the raw inequality."""
    plan = C.formatted_plan(
        QUERIES["join_range_clicks_before_purchase"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)


def test_stratified_sample_is_narrow(spark):
    """Hash-threshold sampling is a pure filter: zero shuffles, and the
    scan reads only the projected columns (props/ts pruned)."""
    plan = C.formatted_plan(QUERIES["sample_stratified_events"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 0)
    C.assert_scan_pruned(plan, "props")


def test_q4_semi_join_no_multiplication(spark):
    plan = C.formatted_plan(
        QUERIES["tpch_q4_late_shipment_orders"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_cartesian(plan)
    assert "LeftSemi" in plan
    C.assert_pushdown(plan, "o_orderdate")


# --- tpch_extra.py (Q2/Q10/Q13/Q15/Q17/Q19/Q22 shapes) ---------------------

def test_q19_or_hull_pushed_to_both_scans(spark):
    """The OR-of-ANDs predicate must not stay post-join: Catalyst splits
    it into a per-side disjunction pushed into BOTH parquet scans
    (quantity hull -> lineitem, brand/size -> part)."""
    plan = C.formatted_plan(
        QUERIES["tpch_q19_or_predicate_revenue"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_pushdown(plan, "l_quantity")
    C.assert_pushdown(plan, "p_brand")
    # join needs only 7 columns; the wide lineitem scan must be pruned
    C.assert_scan_pruned(plan, "l_shipdate")
    C.assert_scan_pruned(plan, "l_tax")


def test_q10_topk_and_pruning(spark):
    plan = C.formatted_plan(QUERIES["tpch_q10_returned_revenue"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan        # no global sort for top-20
    C.assert_pushdown(plan, "l_returnflag")
    C.assert_pushdown(plan, "o_orderdate")
    C.assert_scan_pruned(plan, "l_quantity")


def test_q2_decorrelated_min_reuses_partitioning(spark):
    """The correlated-MIN rewrite must be window-over-aggregate: no
    nested-loop re-scan, no Python, and the filtered part side joins by
    broadcast."""
    plan = C.formatted_plan(QUERIES["tpch_q2_min_cost_supplier"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    C.assert_pushdown(plan, "p_type")
    C.assert_broadcast_join(plan, 3)


def test_q22_anti_join_prunes_orders_probe(spark):
    """NOT EXISTS compiles to left_anti; the orders probe must read only
    o_custkey (the entire point of column pruning on a fact probe)."""
    plan = C.formatted_plan(QUERIES["tpch_q22_dormant_customers"](spark, SF_SMOKE))
    assert "LeftAnti" in plan
    C.assert_scan_pruned(plan, "o_totalprice")
    C.assert_scan_pruned(plan, "o_orderdate")


def test_q17_correlated_avg_is_single_lineitem_scan(spark):
    """The window rewrite of the correlated AVG must scan lineitem ONCE
    (the oracle's subquery form re-scans it per part)."""
    plan = C.formatted_plan(
        QUERIES["tpch_q17_small_quantity_revenue"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    assert plan.count("lineitem.parquet") == 1
    C.assert_broadcast_join(plan, 1)


# --- stats.py ---------------------------------------------------------------

def test_moment_stats_single_scan_exact_sums(spark):
    """All five moment sums must fold into ONE aggregate over ONE scan
    (shuffle carries 5 integers per group), reading only value+ts+type."""
    plan = C.formatted_plan(QUERIES["events_moment_stats"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    assert plan.count("events.parquet") == 1
    C.assert_scan_pruned(plan, "props")
    C.assert_scan_pruned(plan, "user_id")


def test_rank_windows_single_shuffle(spark):
    """ntile/percent_rank/cume_dist share one window spec -> one
    exchange on event_type + one in-partition sort."""
    plan = C.formatted_plan(
        QUERIES["window_value_distribution_ranks"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    C.assert_scan_pruned(plan, "props")


def test_time_range_window_single_shuffle(spark):
    plan = C.formatted_plan(QUERIES["window_time_range_avg"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)


# --- tpch_rest.py (Q7/Q8/Q9/Q11/Q16/Q20/Q21 shapes) -------------------------

def test_q7_single_fact_shuffle_chain(spark):
    """Both nation dims and supplier broadcast; the only exchanges join
    the two facts. The date window must reach the lineitem scan and the
    nation-pair disjunction must reach the nation scans."""
    plan = C.formatted_plan(QUERIES["tpch_q7_volume_shipping"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    C.assert_pushdown(plan, "l_shipdate")
    C.assert_pushdown(plan, "NATION_1")
    C.assert_scan_pruned(plan, "l_quantity")


def test_q8_share_is_one_aggregate(spark):
    """Numerator and denominator of the market share come out of ONE
    conditional aggregate — one shuffle total; p_type prunes the fact
    via the broadcast join before it."""
    plan = C.formatted_plan(QUERIES["tpch_q8_market_share"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    C.assert_pushdown(plan, "p_type")
    C.assert_pushdown(plan, "r_name")


def test_q9_profit_single_shuffle(spark):
    plan = C.formatted_plan(QUERIES["tpch_q9_product_profit"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    C.assert_pushdown(plan, "p_name")
    C.assert_scan_pruned(plan, "l_tax")


def test_q16_anti_join_and_expand_distinct(spark):
    """NOT IN compiles to a broadcast anti join (never a shuffle of the
    fact against the blacklist); count-distinct keeps its partial
    aggregate below the exchange."""
    plan = C.formatted_plan(
        QUERIES["tpch_q16_supplier_part_counts"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    assert "LeftAnti" in plan
    C.assert_pushdown(plan, "s_acctbal")
    C.assert_pushdown(plan, "p_size")
    C.assert_scan_pruned(plan, "l_extendedprice")


def test_q21_exists_pair_is_one_per_order_aggregate(spark):
    """The EXISTS / NOT-EXISTS pair must compile to ONE per-order
    aggregate over ONE lineitem scan (collect_set/collect_list + array
    logic), never a re-scan per outer row; top-10 via
    TakeOrderedAndProject."""
    plan = C.formatted_plan(QUERIES["tpch_q21_waiting_suppliers"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan
    C.assert_pushdown(plan, "o_orderstatus")


def test_q20_semi_joins_and_reduced_window(spark):
    """Nested INs compile to semi joins; the part filter pushes; the
    share window runs over the reduced pair frame (the plan's window
    sort keys are the pair-aggregate output, not raw lineitem)."""
    plan = C.formatted_plan(
        QUERIES["tpch_q20_promotion_suppliers"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    assert "LeftSemi" in plan
    C.assert_pushdown(plan, "p_name")
    C.assert_pushdown(plan, "l_shipdate")


# --- reshape.py ---------------------------------------------------------------

def test_pivot_two_phase_single_fact_exchange(spark):
    """Pivot with an explicit value list: no distinct-discovery scan of
    event_type (one events scan), and only the (day, type) aggregate's
    exchange sees fact volume — the PivotFirst phase reshapes the
    already-reduced frame."""
    plan = C.formatted_plan(QUERIES["events_pivot_daily_types"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 2)
    assert plan.count("events.parquet") == 1
    C.assert_scan_pruned(plan, "props")
    C.assert_scan_pruned(plan, "value")


def test_unpivot_adds_no_shuffle(spark):
    """unpivot/melt is an Expand over the pivot output: the whole
    round trip adds NO exchange beyond the pivot's own."""
    plan = C.formatted_plan(QUERIES["events_unpivot_daily_types"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 2)
    assert "Expand" in plan


def test_exact_percentiles_single_shuffle(spark):
    plan = C.formatted_plan(QUERIES["events_exact_percentiles"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    C.assert_scan_pruned(plan, "props")
    C.assert_scan_pruned(plan, "ts")


def test_funnel_two_aggregates_no_self_join(spark):
    """The funnel must be per-user conditional mins + a global count —
    one events scan, never one join per stage."""
    plan = C.formatted_plan(QUERIES["events_funnel_conversion"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_cartesian(plan)
    assert plan.count("events.parquet") == 1
    C.assert_max_shuffles(plan, 2)   # user agg + 1-row global agg


# --- timeseries.py ------------------------------------------------------------

def test_gapfill_spine_never_sees_fact_volume(spark):
    """After the pinned daily aggregate, the spine build + left join run
    on calendar-days x types rows. Under the default persist strategy the
    fact scan is still VISIBLE in the plan (inside the cached relation's
    recomputable lineage — that recoverability is the point, SCALE.md
    materialization section) but executes once: both consumer branches
    read InMemoryTableScan over one InMemoryRelation.

    clearCache first: CacheManager substitutes ANY matching cached
    subplan from earlier tests into this plan, which changes the
    visible (not executed) exchange count — the assertion is about the
    fresh-session plan shape. Safe under the persist strategy: dropped
    frames recompute from lineage."""
    spark.catalog.clearCache()
    plan = C.formatted_plan(QUERIES["events_daily_gapfill"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    assert plan.count("events.parquet") <= 1   # one cached daily build
    assert "InMemoryRelation" in plan          # pinned, not re-derived
    assert plan.count("InMemoryTableScan") >= 2  # spine AND join probe hit cache
    # daily agg (runs once, cached) + spine min/max agg
    C.assert_max_shuffles(plan, 2)


def test_ffill_single_window_exchange(spark):
    """One window exchange over the pinned daily frame; the daily agg's
    own exchange is inside the cached (once-executed) lineage."""
    spark.catalog.clearCache()  # see test_gapfill_spine_never_sees_fact_volume
    plan = C.formatted_plan(QUERIES["events_daily_value_ffill"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    assert "InMemoryRelation" in plan
    C.assert_max_shuffles(plan, 2)


def test_cohort_retention_user_cardinality(spark):
    """Round 9: the cohort label is a MIN window over the user
    partition on the distinct (user, day) frame — ONE events scan, no
    pinned copy, no join-back (the old shape persisted the frame and
    consumed it twice; this asserts the stronger single-chain plan)."""
    spark.catalog.clearCache()  # see test_gapfill_spine_never_sees_fact_volume
    plan = C.formatted_plan(QUERIES["events_cohort_retention"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_cartesian(plan)
    assert plan.count("events.parquet") == 1
    assert "InMemoryRelation" not in plan  # no pinned frame needed
    assert plan.count("Window") >= 1  # cohort = min(day) over user
    C.assert_max_shuffles(plan, 4)


# --- warehouse.py -------------------------------------------------------------

def test_scd2_no_self_join(spark):
    """SCD2 must be aggregate + window (2 exchanges, 1 scan) — never the
    history-against-itself self-join formulation."""
    plan = C.formatted_plan(
        QUERIES["scd2_customer_value_history"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_cartesian(plan)
    assert plan.count("orders.parquet") == 1
    C.assert_max_shuffles(plan, 2)
    C.assert_scan_pruned(plan, "o_orderpriority")


def test_profile_single_pass(spark):
    """The column profile is ONE aggregate over ONE scan; the Expand is
    the count-distinct pair, not a second pass."""
    plan = C.formatted_plan(QUERIES["profile_lineitem_columns"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    assert plan.count("lineitem.parquet") == 1
    C.assert_max_shuffles(plan, 2)
    C.assert_scan_pruned(plan, "l_tax")
    C.assert_scan_pruned(plan, "l_discount")


def test_point_in_time_join_is_union_window(spark):
    """The temporal lookup must be the as-of union+window shape — no
    interval-predicate nested-loop join, one orders scan, one events
    scan."""
    plan = C.formatted_plan(
        QUERIES["join_point_in_time_customer_value"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    assert plan.count("orders.parquet") == 1
    assert plan.count("events.parquet") == 1
    C.assert_pushdown(plan, "event_type")


def test_aqe_coalesces_at_runtime(spark):
    """AQE must actually re-plan at runtime: after execution, the final
    adaptive plan shows coalesced shuffle reads (AQEShuffleRead) instead
    of the static 2x-cores partition count."""
    df = QUERIES["tpch_q1_pricing_summary"](spark, SF_SMOKE)
    df.collect()
    plan = C.formatted_plan(df)
    assert "AdaptiveSparkPlan" in plan
    assert "AQEShuffleRead" in plan


def test_repetition_metrics_zero_shuffle(spark):
    """Gopher repetition signals compute inside the row: no Python, no
    explode-groupBy round trip. The only exchange permitted is the
    small-scan spread guard (round-robin, fires only when the input has
    fewer splits than cores — a no-op at production scale), and nothing
    downstream of the metrics may shuffle."""
    plan = C.formatted_plan(
        QUERIES["text_repetition_metrics"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    assert "hashpartitioning" not in plan  # spread is round-robin only
    assert "rangepartitioning" not in plan


def test_contamination_probe_broadcasts_benchmark(spark):
    """The contamination check's training side probes a BROADCAST
    benchmark-shingle set (benchmarks are fixed-size; the corpus is
    not), and both source filters are pushed into their scans."""
    plan = C.formatted_plan(
        QUERIES["contamination_ngram_overlap"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_broadcast_join(plan, 1)
    pushed = " ".join(C.pushed_filters(plan))
    assert "EqualTo(source,src0)" in pushed
    assert "Not(EqualTo(source,src0))" in pushed


@pytest.mark.parametrize(
    "name",
    ["corpus_mix_sample", "corpus_token_budget", "corpus_sequence_pack"],
)
def test_mix_operators_single_source_exchange(spark, name):
    """Both data-mixing operators are ONE window exchange partitioned on
    source — never a global sort."""
    plan = C.formatted_plan(QUERIES[name](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    # the one exchange hash-partitions on source; a global sort would
    # show up as rangepartitioning / SinglePartition
    assert "hashpartitioning(source" in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_pii_redact_narrow_and_pruned(spark):
    """PII scrub is a pure map: zero exchanges, JVM regex only, and the
    scan must not read the columns the query never touches."""
    plan = C.formatted_plan(QUERIES["text_pii_redact"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 0)
    C.assert_scan_pruned(plan, "lang")
    C.assert_scan_pruned(plan, "source")


def test_tfidf_broadcasts_df_side(spark):
    """tf-idf joins the vocabulary-sized df frame by BROADCAST (never a
    corpus-side sort-merge), and the whole chain is <= 3 exchanges:
    tf agg, df agg, rank window."""
    plan = C.formatted_plan(QUERIES["text_tfidf_top_terms"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    C.assert_max_shuffles(plan, 3)


def test_inverted_index_two_hash_aggs(spark):
    """Inverted index is two map-side-combined hash aggs — the shuffle
    carries (doc, term) pairs then vocabulary rows, never raw tokens."""
    plan = C.formatted_plan(QUERIES["text_inverted_index"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 2)
    assert plan.count("HashAggregate") >= 4  # partial+final x 2


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """When the dim side is too big to broadcast, Spark can still inject
    a runtime BloomFilter built from the filtered dim keys into the fact
    scan — the shuffle-join analogue of dynamic partition pruning, and
    the mechanism that keeps a 100 TB fact shuffle proportional to the
    SELECTED keys, not the whole fact table. Verified live by forcing
    the shuffle-join path (broadcast off) and dropping the injection
    size thresholds to fixture scale."""
    from weather_bigdata_project_spark import tables

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = tables.load(spark, SF_SMOKE, "lineitem")
        od = tables.load(spark, SF_SMOKE, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in optimized.lower(), optimized[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_cogroup_uses_arrow_cogroup_operator(spark):
    """The cogrouped-pandas as-of join must route through the Arrow
    co-group operator (FlatMapCoGroupsInPandas) with ONE exchange per
    side on the key — not a pair-blowup join, not row-at-a-time
    Python."""
    plan = C.formatted_plan(
        QUERIES["join_asof_cogrouped_pandas"](spark, SF_SMOKE)
    )
    assert "FlatMapCoGroupsInPandas" in plan
    C.assert_max_shuffles(plan, 2)  # one per co-grouped side


def test_chunk_windows_zero_shuffle_narrow(spark):
    """Sliding-window chunking is a pure narrow map: split + in-row
    window transform + explode. The only exchange permitted is the
    small-scan spread guard (round-robin); nothing hash/range
    partitions, and no Python appears."""
    plan = C.formatted_plan(QUERIES["corpus_chunk_windows"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_max_shuffles(plan, 1)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_interval_overlap_is_hash_join(spark):
    """The bucketized interval-overlap join must compile to an equi
    hash/sort-merge join on the bucket — never BroadcastNestedLoop over
    the raw range predicate — and stay JVM-side."""
    plan = C.formatted_plan(QUERIES["join_session_overlap"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)
    assert "TakeOrderedAndProject" in plan  # top-20 via heaps


def test_attribution_band_join_is_hash_join(spark):
    """The 60-min attribution look-back must ride the bucketized equi
    join (hash/sort-merge), never a time-inequality nested loop."""
    plan = C.formatted_plan(
        QUERIES["events_attribution_linear"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    C.assert_no_nested_loop(plan)


def test_distributed_prefix_sum_row_path_stays_partitioned(spark):
    """The two-phase prefix sum's row-cardinality window must be
    partitioned by bucket; only the bucket-aggregate frame may pass
    through a single-partition exchange. We assert the plan has a
    partitioned Window on (b) and that the row-side sort is bucket-
    local (no global Sort over o_orderkey without partitioning)."""
    plan = C.formatted_plan(
        QUERIES["orders_prefix_sum_distributed"](spark, SF_SMOKE)
    )
    C.assert_no_python(plan)
    # the row-cardinality running sum must be a Window PARTITIONED on
    # the bucket column b with o_orderkey as the intra-bucket order —
    # rendered by explain("formatted") as
    #   windowspecdefinition(b#NL, o_orderkey#NL ASC ...)
    import re

    assert re.search(
        r"windowspecdefinition\(b#\d+L?, o_orderkey#\d+L? ASC", plan
    ), "row-path window is not partitioned by bucket"
    # the single-partition exchanges present must feed Window/Sort over
    # the bucket-aggregate frame, whose input is the hash aggregate —
    # cheap proxy: at most one SinglePartition exchange in the plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_skyline_local_window_is_bucket_partitioned(spark):
    """The 2-D skyline's per-price running max must be a Window
    PARTITIONED by the price bucket; only the B-row bucket-max frame
    may cross a single-partition exchange (same discipline as the
    distributed prefix sum)."""
    import re

    plan = C.formatted_plan(QUERIES["part_skyline_frontier"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    assert re.search(
        r"windowspecdefinition\(b#\d+L?, price#\d+ ASC", plan
    ), "local skyline window is not partitioned by bucket"
    assert plan.count("Exchange SinglePartition") <= 1


def test_zorder_cells_single_bounded_aggregate(spark):
    """The Morton-cell rollup must be narrow arithmetic + ONE hash
    aggregate: no window, no join, no Python — the 2x10 interleave
    terms all fold into the scan-side projection."""
    plan = C.formatted_plan(QUERIES["geo_zorder_cells"](spark, SF_SMOKE))
    C.assert_no_python(plan)
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") <= 4  # partial+final x (agg levels)


def test_ppm_decode_is_arrow_only_and_shuffle_free(spark):
    """The real-decoder query must cross into Python exactly once, as
    an Arrow-batched MapInPandas (never row-at-a-time BatchEvalPython),
    and its plan must contain no exchange at all — payload build,
    decode, and stat projection are one narrow pipeline."""
    plan = C.formatted_plan(
        QUERIES["multimodal_ppm_decode_stats"](spark, SF_SMOKE)
    )
    # formatted plans list each node twice (tree + detail section)
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan, "real decode must not shuffle payloads"


def test_graph_search_hops_are_broadcast_joins(spark):
    """embed_graph_search_recall (round-9): every beam-hop and scoring
    join must be a BroadcastHashJoin — the frontier is beam-bounded
    and the query batch is broadcast with its norms riding along, so
    no hop may shuffle the corpus. SortMergeJoin anywhere in the walk
    means a hop lost its broadcast hint."""
    from weather_bigdata_project_spark.queries import similarity as S

    emb = S.T.materialize(
        S._emb(spark, SF_SMOKE).select("vec_id", "embedding")
    )
    n = emb.count()
    nrm = S.T.materialize(
        emb.select(
            "vec_id",
            F.expr(S._DOT.format(a="embedding", b="embedding")).alias(
                "n2"
            ),
        )
    )
    plan = C.formatted_plan(S._graph_search(spark, emb))
    # every hop/score/assembly join carries an explicit broadcast hint
    # (the graph CONSTRUCTION's bucket self-join is pre-materialized
    # behind InMemoryTableScan, so the walk's plan must show ZERO
    # sort-merge joins and only broadcast ones)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_goertzel_is_codegen_only_and_shuffle_free(spark):
    """multimodal_goertzel_tone (round 9): the packed-BIGINT resonator
    fold is whole-stage-codegen JVM arithmetic — no Python boundary,
    no Exchange (in-row per doc at any scale)."""
    plan = C.formatted_plan(
        QUERIES["multimodal_goertzel_tone"](spark, SF_SMOKE)
    )
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_link_graph_single_arrow_stage(spark):
    """corpus_link_graph: exactly ONE Arrow-batched extraction stage;
    page payloads are synthesized and parsed in-row, so the only
    shuffles are the edge distinct + degree aggregations (id-keyed),
    never the html column."""
    plan = C.formatted_plan(QUERIES["corpus_link_graph"](spark, SF_SMOKE))
    # the cached kernel subtree pretty-prints once per cache REFERENCE
    # but shares one physical node id — assert one INSTANCE (an
    # unpinned plan re-runs the extraction per degree branch and shows
    # distinct ids; caught live: 6 textual occurrences, 3 instances)
    import re as _re

    ids = set(_re.findall(r"MapInPandas \((\d+)\)", plan))
    assert len(ids) == 1, ids
    assert "BatchEvalPython" not in plan


def test_pagerank_plan_is_iteration_constant(spark):
    """corpus_pagerank: per-round lineage cuts must keep the final
    plan's operator count bounded (a plan that grows per iteration
    re-analyzes 8 nested joins and explodes at higher iteration
    counts) and Python-free."""
    plan = C.formatted_plan(QUERIES["corpus_pagerank"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # the final frame sees only the LAST rank state (a cached leaf),
    # the in-degree agg, and the output projection — not 8 rounds of
    # nested joins
    assert plan.count("InMemoryTableScan") <= 4
    assert plan.count("Exchange") <= 6


def test_wire_feed_spreads_two_columns_before_synthesis(spark):
    """wire_frame(partitions=n): exactly one shuffle, a round-robin of the
    two-column events scan to n partitions, below the 14-string
    synthesis. The default frame keeps its one spread exchange (the
    fixture is a single row group), so batch plans do not move."""
    import re

    from weather_bigdata_project_spark import weather_domain as wd

    for n in (8, 3):
        df = wd.wire_frame(spark, SF_SMOKE, partitions=n)
        plan = C.formatted_plan(df)
        assert C.count_exchanges(plan) == 1
        assert f"RoundRobinPartitioning({n})" in plan
        assert re.search(r"^\(\d+\) Exchange\nInput \[2\]", plan, re.M), plan
        assert df.rdd.getNumPartitions() == n

    plan = C.formatted_plan(wd.wire_frame(spark, SF_SMOKE))
    assert C.count_exchanges(plan) == 1
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par})" in plan
