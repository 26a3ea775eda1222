"""Names every registry entry: ``register(name, module, fn, oracle)``.

Each row gives the dotted path of the implementing module and the
names of the query function and of its DuckDB oracle string in it.
Nothing here imports an operator module: ``registry.queries()[name]``
imports the entry's module the first time the entry is looked up, so
a driver that answers a few queries loads only their modules.

Naming convention: ``<family>_<operator>`` so CORRECTNESS reports read
as an inventory of SURVEY.md §2.

Ordering contract: the round driver verifies queries in registry
order and has a finite budget — each round records exactly the first
50 entries. Since round 4 the verified prefix is the EXPLICIT
``TIER1`` list at the bottom of this file (``registry.promote``
reorders the registry; physical ``register()`` calls stay grouped by
operator family for readers):

* TIER 1 (the 50 ``TIER1`` names): one-to-few representatives of
  EVERY operator family — flagship, joins, windows, events, text,
  dedup, similarity, aggregates, sampling, io, SQL API, cleaning,
  scalar funcs, sorts/sets, multimodal, UDF tiers, ML, streaming,
  TPC-H — so a prefix-capped verification still certifies the full
  breadth of SURVEY.md §2. Rotated each round: new/changed entries
  and never-yet-driver-checked ones surface, long-stable ones yield.
* TIER 2 (remainder): the rest of each family, insertion order.

315 registered queries; names are stable across rounds — only the
``TIER1`` list (the verified prefix) rotates.
"""

from __future__ import annotations

from backend_model_spark.plans.registry import promote, register

# implementing modules, by dotted path
aggregates = "backend_model_spark.operators.aggregates"
cleaning = "backend_model_spark.operators.cleaning"
dedup = "backend_model_spark.operators.dedup"
events_ops = "backend_model_spark.operators.events_ops"
geo = "backend_model_spark.operators.geo"
joins = "backend_model_spark.operators.joins"
ml_queries = "backend_model_spark.operators.ml_queries"
mllib_ops = "backend_model_spark.operators.mllib_ops"
multimodal = "backend_model_spark.operators.multimodal"
relational = "backend_model_spark.operators.relational"
sampling = "backend_model_spark.operators.sampling"
scalar_funcs = "backend_model_spark.operators.scalar_funcs"
similarity = "backend_model_spark.operators.similarity"
sorts_sets = "backend_model_spark.operators.sorts_sets"
sql_api = "backend_model_spark.operators.sql_api"
text = "backend_model_spark.operators.text"
tpch_suite = "backend_model_spark.operators.tpch_suite"
udf_tiers = "backend_model_spark.operators.udf_tiers"
windows = "backend_model_spark.operators.windows"
ml_cleaning = "backend_model_spark.ml.cleaning"
io_ops = "backend_model_spark.sources.io_ops"
streaming_jobs = "backend_model_spark.streaming.jobs"
markov_ops = "backend_model_spark.operators.markov"
bpe_ops = "backend_model_spark.operators.bpe"
ml_mlp = "backend_model_spark.ml.mlp"
ml_arch = "backend_model_spark.ml.arch_search"
ml_train = "backend_model_spark.ml.train_distributed"

# ======================================================================
# TIER 1 — breadth-first representatives (kept to 50 entries)
# ======================================================================

# flagship
register("q1_pricing_summary", relational, "q1_pricing_summary", "Q1_ORACLE")
# joins
register("join_q3_shipping_priority", joins, "q3_shipping_priority", "Q3_ORACLE")
# windows (top_per_customer displaced to tier 2 for the session-2
# CUSUM addition; rfm + percent_of_parent remain in the prefix)
# (events_changepoint — session-2 addition, green in every full
# local sweep since — displaced to tier 2 for the session-3
# recursive-hierarchy traversal, which is driver-unseen)
register(
    "sql_recursive_hierarchy",
    sql_api,
    "recursive_hierarchy",
    "RECURSIVE_HIERARCHY_SQL",
)
# events / time series (sessionize + asof_join displaced to tier 2;
# the family keeps the round-3 + session-2 additions in the prefix)
# text analysis (quality_scores displaced to tier 2; the family keeps
# 5 other reps in the prefix incl. the round-3 classifier)
# dedup (tier-1 reps are in the rotation block below)
# similarity (cosine_topk_bruteforce displaced to tier 2 for the
# session-2 PSI drift addition; sim_pq_encode remains in the prefix)
# (dq_drift_psi — session-2 addition, green in every full local
# sweep since; dq keeps dq_observe in the prefix — displaced to
# tier 2 for the session-3 blocked fuzzy pairs)
# aggregates (family's tier-1 reps are the round-3 rotation entries
# below: agg_revenue_concentration, agg_normality_probe, agg_chi2;
# agg_grouped_orders displaced to tier 2 for the FPGrowth addition)
# sampling / dataset mixing (stratified_hash displaced to tier 2;
# importance_resample / temperature_mix / curriculum_order remain)
# sources / sinks (io_csv_roundtrip displaced to tier 2 for the
# z-order layout probe; io keeps 5 other tier-1 reps)
# (io_zorder_layout — r3-stable, measured in SCALE.md — displaced to
# tier 2 for the weighted-median addition; io keeps dynamic-overwrite,
# schema-evolution, compaction, python-datasource in the prefix)
# (agg_weighted_median_rank — session-2 addition, green in every
# full local sweep since — displaced to tier 2 for the tie-corrected
# Mann-Whitney U, which is driver-unseen)
register("stat_mann_whitney", aggregates, "mann_whitney_u", "MANN_WHITNEY_ORACLE")
# SQL API (grouping_sets displaced to tier 2; the round-3 LATERAL
# entry below is the family's prefix rep)
# cleaning (junk_filter displaced to tier 2; impute_group_median
# remains in the prefix)
# scalar functions (func_regex — r02-driver-green — displaced to
# tier 2 for the BM25 ranking; func family keeps the session-3
# blocked-ER entry in the prefix)
register("text_bm25_rank", text, "bm25_rank", "BM25_RANK_ORACLE")
# sorts / sets (set_union_all displaced to tier 2; dedup_exact_groups
# likewise — both r02-driver-green, families still represented)
register("sort_topk_orders", sorts_sets, "topk_orders_by_price", "TOPK_ORDERS_ORACLE")
# multimodal
register("media_payload_stats", multimodal, "payload_stats", "PAYLOAD_STATS_ORACLE")
# UDF tiers (udf_pandas_normalize displaced to tier 2 for the
# session-2 MIPS addition; udtf_runlength_encode remains in the
# prefix as the family rep)
# (sim_mips_topk — session-2 addition, green in every full local
# sweep since; similarity keeps sim_pq_encode in the prefix —
# displaced to tier 2 for the exact KS test, which is driver-unseen)
register("stat_ks_test", aggregates, "ks_two_sample", "KS_TWO_SAMPLE_ORACLE")
# ML (ml_linear_fit_closed_form — r02-driver-green — displaced to
# tier 2 for the Gini decision stump; ML keeps NB + CV in the prefix)
register(
    "ml_decision_stump", ml_queries, "decision_stump_gini", "DECISION_STUMP_ORACLE"
)
# streaming (hourly-counts displaced to tier 2 for the pattern-match
# addition; streaming keeps left_join_attribution in the prefix)
# TPC-H suite
register("tpch_q10_returns", tpch_suite, "q10_returned_items", "Q10_ORACLE")

# second representative of each family, most-load-bearing first.
# Round-3 rotation (VERDICT r2 item 6): the entries rewritten or added
# this round — every global-window fix, the grid-blocked embedding
# pair stage + its CC decisions, the round-2 io additions, winnowing,
# and the new normality probe — sit INSIDE the driver-verified prefix;
# displaced stable entries (driver-green in r02) moved to tier 2.
# (events_asof_join and dedup_minhash_lsh_candidates — both r02
# driver-green — displaced to tier 2 for the session-2 additions
# below; both families keep several other reps in the prefix)
# (events_seasonal_decompose and stat_bootstrap_ci — session-2
# additions, green in every full local sweep since — displaced to
# tier 2 for the session-3 geo family, which is driver-unseen)
register("geo_knn_comps", geo, "knn_comps", "KNN_COMPS_ORACLE")
register("geo_cell_density", geo, "cell_density", "CELL_DENSITY_ORACLE")
# (window_rfm_segments — bench-held and plan-pinned since its r3
# rewrite — displaced to tier 2 for the session-2 batch-3 additions)
# (io_dynamic_partition_overwrite — session-2 addition, green in
# every full local sweep since; io keeps 4 other reps in the prefix
# — displaced to tier 2 for the exact-decimal Spearman)
register("agg_spearman_corr", aggregates, "spearman_corr", "SPEARMAN_ORACLE")
# (agg_revenue_concentration — r3-rewrite, plan-pinned and locally
# re-verified every session — displaced to tier 2 for the
# inter-arrival addition)
# (events_interarrival — session-2 addition, green in every full
# local sweep since — displaced to tier 2 for the epoch-shuffle
# order, which is driver-unseen)
register(
    "sample_epoch_shuffle", sampling, "epoch_shuffle_order", "EPOCH_SHUFFLE_ORACLE"
)
# (text_source_kl — r3-rewritten, locally re-verified every session —
# displaced to tier 2 for the Bloom-prefilter dedup addition)
# (dedup_bloom_prefilter — session-2 addition, green in every full
# local sweep since; dedup keeps five other reps in the prefix —
# displaced to tier 2 for the mutual-information profile)
register("dq_mutual_info", relational, "mutual_information", "MUTUAL_INFO_ORACLE")
# (text_repetition_signals — stable since r3-early — displaced to
# tier 2 for the path-trigram addition)
# (events_path_trigrams — session-2 addition, green in every full
# local sweep since — displaced to tier 2 for the one-pass k-fold
# CV, which is driver-unseen)
register("ml_ols_cv_sufficient", ml_queries, "ols_cv_sufficient", "OLS_CV_ORACLE")
# K-fold target encoding: leakage-safe smoothed out-of-fold category
# means (content-addressed folds, exact bigint sufficient stats)
register(
    "ml_target_encode_kfold",
    ml_queries,
    "target_encode_kfold",
    "TARGET_ENCODE_ORACLE",
)
# (join_q5_region_revenue displaced to tier 2 for the session-2
# k-fold addition; joins keep q3 + order_backlog in the prefix)
# (sample_kfold_assign — session-2 addition, green in every full
# local sweep since — displaced to tier 2 for the Naive Bayes
# classifier, which is driver-unseen)
register("ml_naive_bayes_lang", ml_queries, "naive_bayes_lang", "NAIVE_BAYES_ORACLE")
# (io_bucketed_join — stable since round 2, plan-pinned by
# tests/test_bucketing.py — displaced to tier 2 for the session-2
# drawdown addition; io keeps zorder/schema-evolution/compaction/
# python-datasource in the prefix)
register("window_max_drawdown", windows, "max_drawdown", "MAX_DRAWDOWN_ORACLE")
# (func_fuzzy_blocked_pairs — session-3 addition, driver-unseen →
# verified prefix; the probe-broadcast sibling func_fuzzy_match
# stays in tier 2)
register(
    "func_fuzzy_blocked_pairs",
    scalar_funcs,
    "fuzzy_blocked_pairs",
    "FUZZY_BLOCKED_ORACLE",
)
# round-3 session-2 additions (driver-unseen → verified prefix;
# displaced r02/r03-stable entries: io_ddl_create_insert_scan,
# text_vocab_build, clean_impute_group_median → tier 2)
register("text_pmi_collocations", text, "pmi_collocations", "PMI_COLLOCATIONS_ORACLE")
# (events_autocorr and stat_ab_welch — session-2 additions, green in
# every full local sweep since — displaced to tier 2 for the two
# session-2-late entries below, which are driver-unseen)
register("agg_moments_shape", aggregates, "moments_skew_kurtosis", "MOMENTS_ORACLE")
# (events_cohort_ltv — verified in multiple full sweeps this
# session; events keeps several reps — displaced to tier 2 for the
# Matryoshka-truncation recall, which is driver-unseen)
register("sim_matryoshka_recall", similarity, "matryoshka_recall", "MATRYOSHKA_ORACLE")
# (join_order_backlog and sample_importance_resample — both stable
# and plan-pinned — displaced to tier 2 for the kNN classifier and
# the rank-based exact median)
register("sim_knn_classify", similarity, "knn_classify", "KNN_CLASSIFY_ORACLE")
# (agg_exact_median_rank — session-2 addition, green in every full
# local sweep since; agg keeps 3 other reps — displaced to tier 2 so
# the cleaning family regains its prefix representative)
register("clean_impute_group_median", cleaning, "impute_group_median", "IMPUTE_ORACLE")
# (window_revenue_growth displaced to tier 2 for dq_observe; windows
# family keeps rfm + percent_of_parent in the prefix)
# round-3 late additions (driver-unseen → verified prefix; displaced
# r02-green stable entries: events_funnel, dedup_lsh_verified,
# sql_recursive_cte → tier 2)
# (dedup_chunk_first_wins — r3-stable, bench-held; dedup keeps four
# other reps in the prefix — displaced to tier 2 for the
# deterministic exact mode, which is driver-unseen)
register("agg_mode_exact", aggregates, "mode_exact", "MODE_EXACT_ORACLE")
register(
    "text_quality_classifier",
    text,
    "quality_classifier",
    "QUALITY_CLASSIFIER_ORACLE",
)
register(
    "sample_curriculum_order",
    sampling,
    "curriculum_order",
    "CURRICULUM_ORDER_ORACLE",
)
register(
    "mllib_fpgrowth_pairs",
    mllib_ops,
    "mllib_fpgrowth_pairs",
    "FPGROWTH_PAIRS_ORACLE",
)
register("dedup_graph_triangles", dedup, "graph_triangles", "GRAPH_TRIANGLES_ORACLE")
# (events_overlap_join — r3-stable, green in every full local sweep
# since — displaced to tier 2 for the rolling-trend detector)
register("events_rolling_trend", events_ops, "rolling_trend", "ROLLING_TREND_ORACLE")
# (events_pattern_sequence — r3-stable, green in every full local
# sweep since — displaced to tier 2 for the STL-residual anomaly
# composite, which is driver-unseen)
register(
    "events_anomaly_seasonal",
    events_ops,
    "anomaly_seasonal_residual",
    "ANOMALY_SEASONAL_ORACLE",
)
register(
    "io_schema_evolution",
    io_ops,
    "schema_evolution_scan",
    "SCHEMA_EVOLUTION_ORACLE",
)
register("dedup_lsh_recall", dedup, "lsh_recall", "LSH_RECALL_ORACLE")
register(
    "pipeline_quality_dedup",
    text,
    "quality_dedup_pipeline",
    "QUALITY_DEDUP_PIPELINE_ORACLE",
)
register(
    "io_compact_small_files",
    io_ops,
    "compact_small_files",
    "COMPACT_SMALL_FILES_ORACLE",
)
register("sql_lateral_topk", sql_api, "lateral_topk", "LATERAL_TOPK_SQL")
register(
    "io_python_datasource",
    io_ops,
    "python_datasource_scan",
    "PYTHON_DATASOURCE_ORACLE",
)
register(
    "udtf_runlength_encode",
    udf_tiers,
    "udtf_runlength_encode",
    "RUNLENGTH_ORACLE",
)
register("dq_observe", relational, "dq_observe_metrics", "DQ_OBSERVE_ORACLE")
# (streaming_python_datasource — r3-stable, green in every full
# local sweep since — displaced to tier 2 for the bounded-state
# watermark dedup, which is driver-unseen)
register(
    "streaming_dedup_within_watermark",
    streaming_jobs,
    "streaming_dedup_within_watermark",
    "STREAMING_DEDUP_WWM_ORACLE",
)
register("sim_pq_encode", similarity, "pq_encode", "PQ_ENCODE_ORACLE")
# round 10: SemDeDup (Abbas et al. 2023) — semantic dedup via
# within-cluster cosine, keep-farthest-from-centroid; clustering
# bounds the quadratic (the paper's own cost model)
register("dedup_semantic_semdedup", similarity, "semdedup_clusters", "SEMDEDUP_ORACLE")
# round-4: the SEARCH half of PQ — asymmetric-distance top-k over the
# 8-code words with a broadcast per-query LUT, salted two-stage rank
# (similarity._salted_topk)
register("sim_pq_adc_topk", similarity, "pq_adc_topk", "PQ_ADC_TOPK_ORACLE")
register("sim_pq_adc_recall", similarity, "pq_adc_recall", "PQ_ADC_RECALL_ORACLE")
# (window_percent_of_parent — r3-stable — displaced to tier 2 for the
# time-constrained funnel; windows keep max_drawdown in the prefix)
# (events_funnel_timed — session-2 addition, green in every full
# local sweep since; events keeps several reps — displaced to tier 2
# for the closed-form ridge, which is driver-unseen)
register("ml_ridge_closed_form", ml_queries, "ridge_closed_form", "RIDGE_ORACLE")
register("agg_normality_probe", aggregates, "normality_probe", "NORMALITY_PROBE_ORACLE")
# (sample_temperature_mix — r3-stable — displaced to tier 2 for the
# group-integrity split; sampling keeps kfold + curriculum in prefix)
register("sample_group_split", sampling, "group_split", "GROUP_SPLIT_ORACLE")
# (agg_chi2_independence displaced to tier 2 for sim_pq_encode; agg
# keeps revenue_concentration + normality_probe in the prefix)
# (dq_benford — r3-stable — displaced to tier 2 for the SCD2
# point-in-time join; dq keeps dq_observe + dq_drift_psi in the prefix)
register("io_scd2_pit_join", io_ops, "scd2_point_in_time_join", "SCD2_PIT_ORACLE")
register(
    "dedup_embedding_neardup",
    dedup,
    "embedding_neardup_pairs",
    "EMBEDDING_NEARDUP_ORACLE",
)
register(
    "dedup_embedding_clusters",
    dedup,
    "embedding_duplicate_clusters",
    "EMBEDDING_CLUSTERS_ORACLE",
)
# (io_scd2_merge displaced to tier 2 for the streaming Python
# DataSource addition; clean_impute_group_median displaced to tier 2
# for the session-2 additions above)
# (io_incremental_rollup / io_permissive_json_scan displaced to
# tier 2 — r02/r03-stable — for the Python DataSource + table-arg
# UDTF additions below)
register("text_winnow_fingerprints", text, "winnow_fingerprints", "WINNOW_ORACLE")
# (dedup_duplicate_clusters — r02 driver-green — displaced to tier 2
# for the session-2 hysteresis addition; dedup keeps chunk_first_wins,
# triangles, lsh_recall, embedding_neardup/_clusters in the prefix)
# (events_alert_hysteresis — session-2 addition, green in every
# full local sweep since; events keeps 4+ reps in the prefix —
# displaced to tier 2 for the PIT feature store, which is
# driver-unseen)
register(
    "pipeline_feature_store", ml_queries, "feature_store_pit", "FEATURE_STORE_ORACLE"
)
# round 8 (verdict ask #8): the reference's core Airbnb dataflow
# itself under the driver's rotating check — exact 99,569 → 38,499
# funnel, oracle literals from an independent pandas implementation
register("pipeline_airbnb_e2e", ml_cleaning, "airbnb_e2e", "AIRBNB_E2E_ORACLE")
# round 9 (verdict ask #7): the funnel's last half-step — cleaned
# 38,499×16 frame chained into the capability-map GBT and evaluated
# held-out, certificate booleans hashed
register(
    "pipeline_airbnb_train_eval",
    ml_cleaning,
    "airbnb_train_eval",
    "AIRBNB_TRAIN_EVAL_ORACLE",
)
# (streaming_left_join_attribution — r3-stable, green in every
# full local sweep since — displaced to tier 2 for the stream-static
# enrichment, which is driver-unseen)
register(
    "streaming_static_enrich",
    streaming_jobs,
    "streaming_static_enrich",
    "STREAMING_STATIC_ENRICH_ORACLE",
)
# windowed top-k (daily trending users): watermarked windowed count in
# the stream + per-window rank downstream — the foreachBatch serving
# two-step, the rank-shaped readout the streaming family was missing
register(
    "streaming_windowed_topk",
    streaming_jobs,
    "streaming_windowed_topk",
    "STREAMING_WINDOWED_TOPK_ORACLE",
)

# ======================================================================
# TIER 2 — remainder, grouped by family
# ======================================================================

# --- flagship / pricing ---------------------------------------------------
register("q6_forecast_revenue", relational, "q6_forecast_revenue", "Q6_ORACLE")
register("agg_unpivot_rates", relational, "unpivot_lineitem_rates", "UNPIVOT_ORACLE")
register("dq_audit", relational, "dq_audit", "DQ_AUDIT_ORACLE")
# round-4: asymmetric containment (quote/nesting detection)
register("dedup_containment_pairs", dedup, "containment_pairs", "CONTAINMENT_ORACLE")
register("dq_benford", relational, "benford_first_digit", "BENFORD_ORACLE")
# round-4: k-anonymity release gate (quasi-identifier class sizes)
register("dq_k_anonymity", relational, "k_anonymity_audit", "K_ANONYMITY_ORACLE")

# --- aggregates (SURVEY §2.5) ----------------------------------------------
register(
    "agg_weighted_median_rank",
    aggregates,
    "weighted_median_rank",
    "WEIGHTED_MEDIAN_ORACLE",
)
register("stat_bootstrap_ci", aggregates, "bootstrap_ci", "BOOTSTRAP_CI_ORACLE")
register(
    "agg_revenue_concentration",
    aggregates,
    "revenue_concentration",
    "CONCENTRATION_ORACLE",
)
register("agg_chi2_independence", aggregates, "chi2_independence", "CHI2_ORACLE")
register(
    "agg_grouped_orders",
    aggregates,
    "grouped_agg_orders_by_status",
    "GROUPED_AGG_ORACLE",
)
register("agg_rollup", aggregates, "rollup_orders", "ROLLUP_ORACLE")
register("agg_cube", aggregates, "cube_lineitem_flags", "CUBE_ORACLE")
register("agg_pivot", aggregates, "pivot_quantity_by_status", "PIVOT_ORACLE")
register("agg_global_stats", aggregates, "global_aggs", "GLOBAL_AGGS_ORACLE")
register(
    "agg_count_distinct",
    aggregates,
    "count_distinct_per_column",
    "COUNT_DISTINCT_ORACLE",
)
register("agg_distinct_values", aggregates, "distinct_values", "DISTINCT_VALUES_ORACLE")
register("agg_null_count", aggregates, "null_count_total", "NULL_COUNT_ORACLE")
register("agg_correlation", aggregates, "correlation_with_price", "CORRELATION_ORACLE")
register(
    "agg_approx_distinct",
    aggregates,
    "approx_distinct_orders",
    "APPROX_DISTINCT_ORACLE",
)
register("agg_cms_heavy_hitters", aggregates, "cms_heavy_hitters", "CMS_ORACLE")
register(
    "agg_hll_sketch_rollup",
    aggregates,
    "hll_sketch_rollup",
    "HLL_SKETCH_ROLLUP_ORACLE",
)
register(
    "agg_collect_order_years",
    aggregates,
    "collect_order_years",
    "COLLECT_YEARS_ORACLE",
)
register("agg_price_histogram", aggregates, "order_price_histogram", "HISTOGRAM_ORACLE")
# log2-bucket histogram: the long-tail sibling of the fixed-width
# histogram — bucket = bit length of integer cents, libm-free
register("agg_log2_histogram", aggregates, "log2_histogram", "LOG2_HISTOGRAM_ORACLE")
register("agg_salted_skew", aggregates, "salted_skew_aggregation", "SALTED_SKEW_ORACLE")

# --- sorts / limits / set ops (SURVEY §2.4, §2.7) ---------------------------
register("set_union_all", sorts_sets, "union_all_segments", "UNION_ALL_ORACLE")
register(
    "sort_key_projection",
    sorts_sets,
    "sort_by_key_projection",
    "SORT_PROJECTION_ORACLE",
)
register("set_intersect", sorts_sets, "intersect_custkeys", "INTERSECT_ORACLE")
register("set_except_all", sorts_sets, "except_custkeys", "EXCEPT_ORACLE")

# --- cleaning / scalar functions (SURVEY §2.2, §2.8) ------------------------
register(
    "agg_exact_median_rank", aggregates, "exact_median_rank", "EXACT_MEDIAN_ORACLE"
)
register("clean_junk_filter", cleaning, "junk_value_filter", "JUNK_FILTER_ORACLE")
register("clean_outlier_iqr", cleaning, "outlier_iqr_filter", "OUTLIER_IQR_ORACLE")
register(
    "clean_cast_priority",
    cleaning,
    "cast_string_priority_to_int",
    "CAST_PRIORITY_ORACLE",
)
register(
    "clean_conditional_flags",
    cleaning,
    "conditional_flag_update",
    "CONDITIONAL_FLAG_ORACLE",
)
register(
    "clean_regex_first_token",
    cleaning,
    "regex_clean_first_token",
    "REGEX_CLEAN_ORACLE",
)
register("clean_epoch_days", cleaning, "epoch_days_conversion", "EPOCH_DAYS_ORACLE")
register("clean_exp_log_roundtrip", cleaning, "exp_log_roundtrip", "EXP_LOG_ORACLE")
register("clean_dropna_count", cleaning, "dropna_count", "DROPNA_ORACLE")
register("clean_hcc_detection", cleaning, "hcc_column_cardinalities", "HCC_ORACLE")
register("func_null_semantics", scalar_funcs, "null_semantics", "NULL_SEMANTICS_ORACLE")
register("func_regex", scalar_funcs, "regex_functions", "REGEX_FUNCS_ORACLE")
register("func_fuzzy_match", scalar_funcs, "fuzzy_name_match", "FUZZY_MATCH_ORACLE")

# --- joins (SURVEY §2.3) -----------------------------------------------------
register("join_order_backlog", joins, "order_backlog_series", "BACKLOG_ORACLE")
register("join_q5_region_revenue", joins, "q5_region_revenue", "Q5_ORACLE")
register("join_semi_recent", joins, "customers_with_recent_orders", "SEMI_JOIN_ORACLE")
register(
    "join_supplier_per_region",
    joins,
    "supplier_per_region",
    "SUPPLIER_PER_REGION_ORACLE",
)
register("join_anti_no_orders", joins, "customers_without_orders", "ANTI_JOIN_ORACLE")
register("join_outer_order_counts", joins, "outer_join_order_counts", "OUTER_JOIN_ORACLE")
register("join_price_band_range", joins, "price_band_range_join", "RANGE_JOIN_ORACLE")
register("join_market_basket", joins, "market_basket_pairs", "MARKET_BASKET_ORACLE")
# manual join salting: content-addressed fact salt × R-exploded dim on
# an extreme-skew key — the join half of the skew toolkit (the agg
# half is agg_salted_skew); for paths where broadcast/AQE can't help
register("join_salted_skew", joins, "salted_skew_join", "SALTED_SKEW_JOIN_ORACLE")
register("join_ship_latency", joins, "ship_latency_percentiles", "SHIP_LATENCY_ORACLE")

# --- TPC-H-shape suite (remaining decision-support shapes) -------------------
register("tpch_q2_min_cost", tpch_suite, "q2_min_cost_supplier", "Q2_ORACLE")
register("tpch_q7_volume", tpch_suite, "q7_volume_shipping", "Q7_ORACLE")
register("tpch_q8_mkt_share", tpch_suite, "q8_market_share", "Q8_ORACLE")
register("tpch_q9_profit", tpch_suite, "q9_product_profit", "Q9_ORACLE")
register("tpch_q15_top_supplier", tpch_suite, "q15_top_supplier", "Q15_ORACLE")
register("tpch_q16_supplier_cnt", tpch_suite, "q16_parts_supplier_counts", "Q16_ORACLE")
register("tpch_q17_small_qty", tpch_suite, "q17_small_quantity_revenue", "Q17_ORACLE")
register("tpch_q18_big_orders", tpch_suite, "q18_large_volume_customers", "Q18_ORACLE")
register("tpch_q19_disjunctive", tpch_suite, "q19_disjunctive_revenue", "Q19_ORACLE")
register("tpch_q20_excess_supp", tpch_suite, "q20_excess_suppliers", "Q20_ORACLE")
register(
    "tpch_q21_last_shipper",
    tpch_suite,
    "q21_last_shipping_supplier",
    "Q21_ORACLE",
)
register("tpch_q22_idle_rich", tpch_suite, "q22_idle_rich_customers", "Q22_ORACLE")
register(
    "tpch_q13_order_dist",
    tpch_suite,
    "q13_order_count_distribution",
    "Q13_ORACLE",
)
register("tpch_q11_important_parts", tpch_suite, "q11_important_parts", "Q11_ORACLE")

# --- windows (SURVEY §2.6) ---------------------------------------------------
register(
    "window_percent_of_parent", windows, "percent_of_parent", "PERCENT_OF_PARENT_ORACLE"
)
register("window_rfm_segments", windows, "rfm_segmentation", "RFM_ORACLE")
register(
    "window_top_per_customer",
    windows,
    "top_orders_per_customer",
    "TOP_PER_CUSTOMER_ORACLE",
)
register(
    "window_revenue_growth", windows, "revenue_growth_series", "REVENUE_GROWTH_ORACLE"
)
register("window_running_total", windows, "running_order_total", "RUNNING_TOTAL_ORACLE")
register("window_rolling_avg", windows, "rolling_avg_events", "ROLLING_AVG_ORACLE")
register("window_lag_deltas", windows, "event_value_deltas", "EVENT_DELTAS_ORACLE")
register("window_dense_rank", windows, "dense_rank_parts_by_brand", "DENSE_RANK_ORACLE")
register("window_ntile", windows, "ntile_customer_balance", "NTILE_ORACLE")
register(
    "window_distribution_stats",
    windows,
    "distribution_stats_per_nation",
    "DISTRIBUTION_STATS_ORACLE",
)
register("window_range_frame", windows, "range_frame_price_band", "RANGE_FRAME_ORACLE")

# --- events / time series (SURVEY §2.11 batch halves) ------------------------
register(
    "events_active_users", events_ops, "active_users_rolling", "ACTIVE_USERS_ORACLE"
)
register(
    "events_seasonal_decompose",
    events_ops,
    "seasonal_decompose",
    "SEASONAL_DECOMPOSE_ORACLE",
)
register("events_autocorr", events_ops, "daily_autocorrelation", "AUTOCORR_ORACLE")
register("stat_ab_welch", events_ops, "ab_welch_ttest", "AB_WELCH_ORACLE")
# round-4: CUPED variance reduction (pre-period covariate adjustment)
register("stat_ab_cuped", events_ops, "ab_cuped_adjust", "AB_CUPED_ORACLE")
# round-4: distributional A/B readout (exact per-variant quartiles)
register(
    "stat_ab_quantile_effect", events_ops, "ab_quantile_effect", "AB_QUANTILE_ORACLE"
)
# round-4: Kaplan-Meier time-to-purchase survival with censoring
register("stat_ab_survival_km", events_ops, "ab_survival_km", "AB_SURVIVAL_KM_ORACLE")
register(
    "events_alert_hysteresis",
    events_ops,
    "alert_hysteresis",
    "ALERT_HYSTERESIS_ORACLE",
)
register("sim_mips_topk", similarity, "mips_topk", "MIPS_TOPK_ORACLE")
register(
    "events_overlap_join",
    events_ops,
    "session_overlap_join",
    "SESSION_OVERLAP_ORACLE",
)
register(
    "events_overlap_topk",
    events_ops,
    "session_overlap_topk",
    "SESSION_OVERLAP_TOPK_ORACLE",
)
register("events_cohort_ltv", events_ops, "cohort_ltv_curve", "COHORT_LTV_ORACLE")
register(
    "events_pattern_sequence",
    events_ops,
    "pattern_sequence",
    "PATTERN_SEQUENCE_ORACLE",
)
register("events_funnel_timed", events_ops, "funnel_timed", "FUNNEL_TIMED_ORACLE")
register("events_interarrival", events_ops, "interarrival_stats", "INTERARRIVAL_ORACLE")
register("dq_drift_psi", events_ops, "value_drift_psi", "VALUE_DRIFT_PSI_ORACLE")
register("events_path_trigrams", events_ops, "path_trigrams", "PATH_TRIGRAMS_ORACLE")
register(
    "events_changepoint",
    events_ops,
    "changepoint_cusum",
    "CHANGEPOINT_CUSUM_ORACLE",
)
register("events_asof_join", events_ops, "asof_purchase_to_click", "ASOF_ORACLE")
register("events_sessionize", events_ops, "sessionize_users", "SESSIONIZE_ORACLE")
register("events_funnel", events_ops, "funnel_conversion", "FUNNEL_ORACLE")
# round-4: Markov removal-effect attribution — one journey scan into a
# 21-counter row, absorption via in-query Cramer (ridge precedent),
# formula text literally shared between F.expr and the oracle SQL
register(
    "events_markov_attribution",
    markov_ops,
    "markov_removal_attribution",
    "MARKOV_ATTRIBUTION_ORACLE",
)
register(
    "events_retention_cohorts",
    events_ops,
    "retention_cohorts",
    "RETENTION_ORACLE",
)
register(
    "events_hourly_rollup", events_ops, "hourly_event_rollup", "HOURLY_ROLLUP_ORACLE"
)
register("events_json_props", events_ops, "json_props_extract", "JSON_PROPS_ORACLE")
register(
    "events_variant_props",
    events_ops,
    "variant_props_extract",
    "JSON_PROPS_ORACLE",  # same contract as the JSON-path form
)
register("events_asof_cogroup", events_ops, "asof_cogroup_pandas", "ASOF_ORACLE")
register(
    "events_transitions",
    events_ops,
    "event_type_transition_counts",
    "TRANSITIONS_ORACLE",
)
register(
    "events_sliding_windows",
    events_ops,
    "sliding_window_rollup",
    "SLIDING_WINDOW_ORACLE",
)
register(
    "events_multilevel_rollup",
    events_ops,
    "multilevel_time_rollup",
    "MULTILEVEL_ROLLUP_ORACLE",
)
register("events_gapfill_spine", events_ops, "gapfill_hourly_spine", "GAPFILL_ORACLE")
register("events_props_map", events_ops, "props_as_map", "PROPS_MAP_ORACLE")
register(
    "events_fill_forward", events_ops, "fill_forward_values", "FILL_FORWARD_ORACLE"
)
register("events_ewma", events_ops, "ewma_event_values", "EWMA_ORACLE")
register("events_anomaly_mad", events_ops, "anomaly_mad", "ANOMALY_MAD_ORACLE")
register("events_heatmap", events_ops, "activity_heatmap", "HEATMAP_ORACLE")
register("events_active_streaks", events_ops, "active_day_streaks", "STREAKS_ORACLE")
register("events_anomaly_zscore", events_ops, "anomaly_zscore", "ANOMALY_ZSCORE_ORACLE")
register("events_late_audit", events_ops, "late_data_audit", "LATE_DATA_ORACLE")

# --- text analysis (LLM-data-pipeline surface) -------------------------------
register("text_source_kl", text, "source_kl_divergence", "KL_DIVERGENCE_ORACLE")
register(
    "text_repetition_signals",
    text,
    "repetition_signals",
    "REPETITION_SIGNALS_ORACLE",
)
register("text_vocab_build", text, "vocab_build", "VOCAB_ORACLE")
register("text_quality_scores", text, "quality_scores", "QUALITY_ORACLE")
register("text_token_stats", text, "token_stats_per_lang", "TOKEN_STATS_ORACLE")
register("text_bpe_token_count", text, "bpe_token_estimate", "BPE_TOKEN_ORACLE")
# round-4: BPE merge LEARNING (tokenizer training) — one corpus scan
# for the word vocab, then N tiny distributed rounds; greedy
# left-to-right application via run-parity windows; unrolled oracle
register("text_bpe_learn_merges", bpe_ops, "bpe_learn_merges", "BPE_MERGES_ORACLE")
register("text_bpe_segment_corpus", bpe_ops, "bpe_segment_corpus", "BPE_SEGMENT_ORACLE")
register("text_language_id", text, "language_id", "LANG_ID_ORACLE")
register("text_fingerprints", text, "fingerprints", "FINGERPRINT_ORACLE")
register("text_top_tokens", text, "top_tokens", "TOP_TOKENS_ORACLE")
register("text_char_stats", text, "char_stats", "CHAR_STATS_ORACLE")
register(
    "text_decontaminate",
    text,
    "decontaminate_against_holdout",
    "DECONTAMINATE_ORACLE",
)
register("text_chunk_documents", text, "chunk_documents", "CHUNK_ORACLE")
register("text_bigram_lm", text, "bigram_lm", "BIGRAM_LM_ORACLE")
register("text_tfidf", text, "tfidf_top_terms", "TFIDF_ORACLE")
register("text_unigram_entropy", text, "unigram_entropy", "UNIGRAM_ENTROPY_ORACLE")
register("text_source_vocab_jaccard", text, "source_vocab_jaccard", "SOURCE_JACCARD_ORACLE")
register("text_pii_scrub", text, "pii_scrub", "PII_SCRUB_ORACLE")
register("text_repetition_scores", text, "repetition_scores", "REPETITION_ORACLE")
register("text_bigram_logprob", text, "bigram_doc_logprob", "BIGRAM_LOGPROB_ORACLE")
register("text_winnow_overlap", text, "winnow_overlap_pairs", "WINNOW_OVERLAP_ORACLE")
register("pipeline_corpus_prep", text, "corpus_prep_pipeline", "CORPUS_PREP_ORACLE")

# --- deduplication ------------------------------------------------------------
register("dedup_chunk_first_wins", dedup, "chunk_first_wins", "CHUNK_FIRST_WINS_ORACLE")
register(
    "dedup_bloom_prefilter", dedup, "bloom_prefilter_dedup", "BLOOM_PREFILTER_ORACLE"
)
register(
    "dedup_duplicate_clusters",
    dedup,
    "duplicate_clusters",
    "DUPLICATE_CLUSTERS_ORACLE",
)
register(
    "dedup_minhash_lsh_candidates",
    dedup,
    "minhash_lsh_candidates",
    "MINHASH_LSH_ORACLE",
)
register("dedup_exact_groups", dedup, "exact_dedup_groups", "EXACT_DEDUP_ORACLE")
# round-11: packed k=4 Bloom BITMAP (63-bit-word bit_or packing, sized
# from the history digest count) with exact zero-false-negative +
# measured-FPR certificates, no pinned literals — the true-Bloom
# sibling of the k=1 bucket-set entry above
register("dedup_bloom_bitmap", dedup, "bloom_bitmap_certify", "BLOOM_BITMAP_ORACLE")
register("dedup_lsh_verified", dedup, "lsh_verified_pairs", "LSH_VERIFIED_ORACLE")
register("dedup_keep_list", dedup, "dedup_keep_list", "KEEP_LIST_ORACLE")
register("dedup_ngram_jaccard", dedup, "ngram_jaccard_pairs", "NGRAM_JACCARD_ORACLE")
register("dedup_minhash_signatures", dedup, "minhash_signatures", "MINHASH_ORACLE")
register("dedup_simhash", dedup, "simhash_fingerprints", "SIMHASH_ORACLE")
register("dedup_graph_pagerank", dedup, "lsh_graph_pagerank", "PAGERANK_ORACLE")

# --- similarity search ---------------------------------------------------------
register(
    "sim_cosine_topk_bruteforce",
    similarity,
    "cosine_topk_bruteforce",
    "COSINE_TOPK_ORACLE",
)
register("sim_centroid_assign", similarity, "centroid_assign", "CENTROID_ASSIGN_ORACLE")
register("sim_ivf_topk", similarity, "ivf_topk", "IVF_TOPK_ORACLE")
register(
    "sim_lsh_hyperplane_buckets",
    similarity,
    "lsh_hyperplane_buckets",
    "LSH_BUCKETS_ORACLE",
)
register("sim_quantize_int8", similarity, "quantize_embeddings_int8", "QUANTIZE_ORACLE")

# --- multimodal binary-column plumbing ----------------------------------------
register(
    "media_content_dedup", multimodal, "media_content_dedup", "CONTENT_DEDUP_ORACLE"
)
register(
    "media_decode_features", multimodal, "decode_features", "DECODE_FEATURES_ORACLE"
)
register("media_frame_sample", multimodal, "frame_sample", "FRAME_SAMPLE_ORACLE")
register("media_resize", multimodal, "media_resize", "MEDIA_RESIZE_ORACLE")
# round-6: the one REAL media codec (clean-room PNG encode/decode on
# stdlib zlib+struct; CRC-verified, five-filter reconstruction) with a
# full pixel-level DuckDB oracle — upgrades the family beyond stubs
register("media_png_roundtrip", multimodal, "png_roundtrip", "PNG_ROUNDTRIP_ORACLE")
# round-6: real AUDIO codec — stdlib-wave PCM16 encode, clean-room RIFF
# decode, integer frame-energy/peak/polyhash facts under a full oracle
register("media_wav_roundtrip", multimodal, "wav_roundtrip", "WAV_ROUNDTRIP_ORACLE")

# --- UDF tiers (same logic, same oracle: codegen vs Arrow escape hatch) --------
register("udf_pandas_normalize", udf_tiers, "pandas_udf_normalize", "NORMALIZE_ORACLE")
register(
    "udaf_pandas_weighted_mean",
    udf_tiers,
    "udaf_pandas_weighted_mean",
    "WEIGHTED_MEAN_ORACLE",
)
register("udf_native_normalize", udf_tiers, "native_normalize", "NORMALIZE_ORACLE")
register("udf_arrow_normalize", udf_tiers, "arrow_map_normalize", "NORMALIZE_ORACLE")
register(
    "udtf_sentence_split",
    udf_tiers,
    "udtf_sentence_split",
    "SENTENCE_SPLIT_ORACLE",
)

# --- sampling / dataset mixing (training-data selection layer) -----------------
# round-4: Write-Audit-Publish lifecycle (atomic staged landing)
register("io_wap_lifecycle", io_ops, "wap_write_audit_publish", "WAP_ORACLE")
register("sample_kfold_assign", sampling, "kfold_assign", "KFOLD_ASSIGN_ORACLE")
# round-4: Neyman-optimal stratified allocation (sampling DESIGN)
register("sample_neyman_allocation", sampling, "neyman_allocation", "NEYMAN_ORACLE")
register(
    "sample_temperature_mix",
    sampling,
    "temperature_mix",
    "TEMPERATURE_MIX_ORACLE",
)
register(
    "sample_importance_resample",
    sampling,
    "importance_resample",
    "IMPORTANCE_RESAMPLE_ORACLE",
)
register(
    "sample_stratified_hash",
    sampling,
    "stratified_sample",
    "STRATIFIED_SAMPLE_ORACLE",
)
register(
    "sample_train_test_split",
    sampling,
    "train_test_split_hash",
    "TRAIN_TEST_SPLIT_ORACLE",
)
register("sample_pack_sequences", sampling, "pack_sequences", "PACK_SEQUENCES_ORACLE")
register(
    "sample_weighted_lang_mix",
    sampling,
    "weighted_language_mix",
    "WEIGHTED_MIX_ORACLE",
)
# round-6: upgraded rows-only -> full oracle (exact counts + accuracy
# booleans hashed; raw sketch values stay engine-local)
register(
    "agg_approx_quantiles",
    sampling,
    "approx_quantile_sketch",
    "APPROX_QUANTILES_ORACLE",
)
register("sample_cap_per_group", sampling, "cap_per_group", "CAP_PER_GROUP_ORACLE")
register(
    "sample_weighted_topk", sampling, "weighted_sample_topk", "WEIGHTED_TOPK_ORACLE"
)

# --- MLlib approximate variants (rows-only: no SQL-expressible oracle) --------
# round-6: certificate upgrades — exact cross-engine facts + contract
# booleans hashed; engine-local outputs stay on the underlying fns
register(
    "mllib_minhash_neardup",
    mllib_ops,
    "mllib_minhash_neardup_certified",
    "MINHASH_CERT_ORACLE",
)
register(
    "mllib_brp_ann_join",
    mllib_ops,
    "mllib_brp_ann_join_certified",
    "BRP_CERT_ORACLE",
)
# round-6: upgraded rows-only -> full oracle (exact class counts +
# convergence-certificate booleans; betas stay numpy-test-verified)
register(
    "ml_logistic_irls",
    ml_queries,
    "logistic_irls_certified",
    "LOGISTIC_IRLS_ORACLE",
)
register(
    "mllib_kmeans_clusters",
    mllib_ops,
    "mllib_kmeans_clusters_certified",
    "KMEANS_CERT_ORACLE",
)
register(
    "mllib_pca_variance",
    mllib_ops,
    "mllib_pca_variance_certified",
    "PCA_CERT_ORACLE",
)
# round-6: upgraded rows-only -> full oracle (composed from the
# long-green brute-force + IVF oracle CTE chains)
register("sim_ivf_recall", similarity, "ivf_recall_vs_exact", "IVF_RECALL_ORACLE")

# --- sources / sinks / DDL (SURVEY §2.1 S1-S7) ---------------------------------
register(
    "io_dynamic_partition_overwrite",
    io_ops,
    "dynamic_partition_overwrite",
    "DYNAMIC_OVERWRITE_ORACLE",
)
register("io_zorder_layout", io_ops, "zorder_layout", "ZORDER_LAYOUT_ORACLE")
register("io_bucketed_join", io_ops, "bucketed_join", "BUCKETED_JOIN_ORACLE")
register("io_ddl_create_insert_scan", io_ops, "ddl_create_insert_scan", "DDL_ORACLE")
register("io_scd2_merge", io_ops, "scd2_dimension_merge", "SCD2_ORACLE")
register("io_csv_roundtrip", io_ops, "csv_roundtrip", "CSV_ROUNDTRIP_ORACLE")
register(
    "io_incremental_rollup", io_ops, "incremental_rollup", "INCREMENTAL_ROLLUP_ORACLE"
)
register(
    "io_permissive_json_scan",
    io_ops,
    "permissive_json_scan",
    "PERMISSIVE_JSON_ORACLE",
)
register("io_etl_orchestration", io_ops, "etl_orchestration", "ETL_ORACLE")
register("io_upsert_merge", io_ops, "upsert_merge", "UPSERT_ORACLE")
register("io_append_sink", io_ops, "append_sink", "APPEND_SINK_ORACLE")
register("io_json_roundtrip", io_ops, "json_roundtrip", "JSON_ROUNDTRIP_ORACLE")
register("io_orc_roundtrip", io_ops, "orc_roundtrip", "ORC_ROUNDTRIP_ORACLE")
register("io_jdbc_roundtrip", io_ops, "jdbc_roundtrip", "JDBC_ROUNDTRIP_ORACLE")
# real-Postgres sink (clean-room wire client; server binaries + runuser
# are present in this container — gate keeps import safe elsewhere)
from backend_model_spark.sources.pg_server import postgres_available  # noqa: E402

HAS_POSTGRES = postgres_available()
if HAS_POSTGRES:
    register(
        "io_postgres_roundtrip",
        io_ops,
        "postgres_roundtrip",
        "POSTGRES_ROUNDTRIP_ORACLE",
    )

# --- scalar function batteries (SURVEY §2.8) -----------------------------------
register("func_date", scalar_funcs, "date_functions", "DATE_FUNCS_ORACLE")
register(
    "func_percentiles",
    scalar_funcs,
    "percentiles_by_status",
    "PERCENTILES_ORACLE",
)
register("func_string", scalar_funcs, "string_functions", "STRING_FUNCS_ORACLE")
register("func_math", scalar_funcs, "math_functions", "MATH_FUNCS_ORACLE")
register("func_array", scalar_funcs, "array_functions", "ARRAY_FUNCS_ORACLE")

# --- SQL-API constructs (identical ANSI text on both engines) ------------------
register("sql_grouping_sets", sql_api, "grouping_sets", "GROUPING_SETS_SQL")
register("sql_recursive_cte", sql_api, "recursive_cte_month_spine", "RECURSIVE_CTE_SQL")
register("sql_q4_exists", sql_api, "q4_order_priority", "Q4_EXISTS_SQL")
register("sql_having", sql_api, "having_filter", "HAVING_SQL")
register("sql_filtered_aggs", sql_api, "filtered_aggregates", "FILTERED_AGG_SQL")
register("sql_subqueries", sql_api, "subqueries", "SUBQUERIES_SQL")
register("sql_case_buckets", sql_api, "case_buckets", "CASE_BUCKETS_SQL")
register("sql_named_window", sql_api, "named_window", "NAMED_WINDOW_SQL")
register("sql_group_by_all", sql_api, "group_by_all", "GROUP_BY_ALL_SQL")
register("sql_q12_conditional", sql_api, "q12_priority_lines", "Q12_CONDITIONAL_AGG_SQL")
register("sql_q14_promo_share", sql_api, "q14_promo_share", "Q14_PROMO_SHARE_SQL")

# --- ML (SURVEY §2.10) ---------------------------------------------------------
register(
    "ml_gbt_train_eval",
    ml_queries,
    "gbt_train_eval_certified",
    "GBT_TRAIN_CERT_ORACLE",
)
register(
    "ml_linear_fit_closed_form",
    ml_queries,
    "linear_fit_closed_form",
    "LINEAR_FIT_ORACLE",
)
register("ml_group_ols_pandas", ml_queries, "group_ols_pandas", "GROUP_OLS_ORACLE")
register(
    "ml_gbt_feature_importance",
    ml_queries,
    "gbt_feature_importance_certified",
    "GBT_IMPORTANCE_CERT_ORACLE",
)

# --- structured streaming (availableNow batch-equivalence) --------------------
register(
    "streaming_left_join_attribution",
    streaming_jobs,
    "streaming_left_join_attribution",
    "STREAMING_LEFT_JOIN_ORACLE",
)
register(
    "streaming_python_datasource",
    streaming_jobs,
    "streaming_python_datasource",
    "STREAMING_PYDS_ORACLE",
)
register(
    "streaming_hourly_counts",
    streaming_jobs,
    "streaming_hourly_counts",
    "STREAMING_HOURLY_ORACLE",
)
register(
    "streaming_session_windows",
    streaming_jobs,
    "streaming_session_windows",
    "STREAMING_SESSION_ORACLE",
)
register(
    "streaming_dedup_user_types",
    streaming_jobs,
    "streaming_dedup_user_types",
    "STREAMING_DEDUP_ORACLE",
)
register(
    "streaming_stateful_user_stats",
    streaming_jobs,
    "streaming_stateful_user_stats",
    "STREAMING_STATEFUL_ORACLE",
)
register(
    "streaming_click_purchase_join",
    streaming_jobs,
    "streaming_click_purchase_join",
    "STREAMING_JOIN_ORACLE",
)
register(
    "streaming_foreach_batch_sink",
    streaming_jobs,
    "streaming_foreach_batch_sink",
    "FOREACH_BATCH_ORACLE",
)
# round-4: fixed-weights FCFF batch inference (the reference's model-
# serving path) — the one mapInPandas scorer with the dyadic-quantized
# weights in its closure, full DuckDB oracle (layer-by-layer SQL from
# the same weights)
register("ml_mlp_batch_inference", ml_mlp, "mlp_batch_inference", "MLP_ORACLE")
# champion-challenger: both deployed nets (grid- vs bayes-tuned, the
# reference's SavedModel pair) scored in ONE scan, per-model error
# rollup (n/RMSE/MAE/bias) in exact integer units, full DuckDB oracle
register("ml_mlp_model_compare", ml_mlp, "mlp_model_compare", "MLP_COMPARE_ORACLE")
# serving-side monitoring: exact global deciles of the champion's
# predictions → calibration (pred vs realized), bias, gains curve
register(
    "ml_mlp_calibration_deciles",
    ml_mlp,
    "mlp_calibration_deciles",
    "MLP_CALIBRATION_ORACLE",
)
# round-10 (verdict asks #1-#3): the reference's model-FITTING step
# in-engine — data-parallel full-batch GD with order-independent
# dyadic gradient sums (bit-deterministic under any partitioning;
# serial-numpy parity pinned by test), plus M3 grid / M4 TPE
# architecture search over the same trainer and the champion-
# challenger composition mirroring the reference's two SavedModel dirs
register(
    "ml_mlp_train_distributed",
    ml_train,
    "mlp_train_distributed",
    "MLP_TRAIN_ORACLE",
)
register(
    "ml_tuning_grid_champion",
    ml_arch,
    "tuning_grid_champion",
    "GRID_CHAMPION_ORACLE",
)
register(
    "ml_tuning_tpe_champion",
    ml_arch,
    "tuning_tpe_champion",
    "TPE_CHAMPION_ORACLE",
)
register(
    "ml_tuning_arch_compare",
    ml_arch,
    "tuning_arch_compare",
    "ARCH_COMPARE_ORACLE",
)
register(
    "ml_tuning_subsample_champion",
    ml_arch,
    "tuning_subsample_champion",
    "SUBSAMPLE_CHAMPION_ORACLE",
)
# the lifecycle closure: in-engine-TRAINED weights deployed through
# the one serving scorer (zero-shuffle mapInPandas, closure weights)
# and evaluated with exact integer error sums; serve_matches_train
# certifies the serving MSE reproduces the trainer's final loss
# (model-registry gate)
register(
    "ml_mlp_train_serve_e2e",
    ml_train,
    "mlp_train_then_serve",
    "MLP_TRAIN_SERVE_ORACLE",
)
# the reference's ACTUAL optimizer (keras_metadata: Adam(lr=1e-3)):
# same trainer, Adam moments driver-side over the exact gradient sums;
# head-to-head certificate vs the GD fit at equal epochs
register("ml_mlp_train_adam", ml_train, "mlp_train_adam", "MLP_TRAIN_ADAM_ORACLE")
# round-11: mini-batch SGD over content-addressed (md5 mod NB) batches —
# same scan I/O per epoch as full GD, NBx the updates; the
# beats_gd_equal_passes certificate pins the scan-budget win exactly
register(
    "ml_mlp_train_minibatch",
    ml_train,
    "mlp_train_minibatch",
    "MLP_TRAIN_MINIBATCH_ORACLE",
)
# round-5 additions — lakehouse-maintenance + sketch + resample family:
# CDC MERGE INTO post-image (latest-change window + one full-outer
# hash join on pk; deterministic changelog derived from orders)
register("io_cdc_merge_apply", io_ops, "cdc_merge_apply", "CDC_MERGE_ORACLE")
# ANALYZE TABLE column statistics in ONE scan (multi-distinct Expand +
# stack unpivot; the CBO-feeding ndv/nulls/min/max/len tuple)
register(
    "io_analyze_table_stats",
    io_ops,
    "analyze_table_stats",
    "ANALYZE_STATS_ORACLE",
)
# per-source-file provenance audit via the hidden _metadata column
# (backfill debugging: which FILE holds the bad day) — oracle verifies
# write→read-back conservation from the source table
register("io_provenance_audit", io_ops, "provenance_audit", "PROVENANCE_AUDIT_ORACLE")
# join-cardinality estimation audit: the textbook CBO estimate
# n_l·n_r/max(ndv) vs actual, integer-exact — the stats-validation
# loop that flags skewed/non-contained keys (feeds on analyze stats)
register(
    "io_cardinality_estimate_audit",
    io_ops,
    "cardinality_estimate_audit",
    "CARDINALITY_AUDIT_ORACLE",
)
# count-min sketch: constant-size (4×512) additive frequency state,
# order/partition-invariant by construction (fixed MINSTD hash rows)
register("agg_countmin_topk", aggregates, "countmin_topk", "COUNTMIN_TOPK_ORACLE")
# KMV bottom-k distinct sketch: deterministic (fixed Lehmer hash)
# mergeable distinct-count + union/intersection estimates — the
# oracle-able counterpart to the rows-only HLL entries
register(
    "agg_kmv_distinct_sketch",
    aggregates,
    "kmv_distinct_sketch",
    "KMV_SKETCH_ORACLE",
)
# field-level survivorship (MDM golden record): per-cluster merge with
# per-field rules (longest-wins content, first-seen lineage) over the
# shared LSH/CC chain; singletons self-cluster
register("dedup_golden_record", dedup, "dedup_golden_record", "GOLDEN_RECORD_ORACLE")
# difference-in-differences: the identification complement to CUPED
# (parallel-trends causal readout, one sufficient-stats row)
register("stat_ab_did", events_ops, "ab_did_estimator", "AB_DID_ORACLE")
# sample-ratio-mismatch guardrail: daily per-arm active-user counts +
# integer-exact chi-square vs the expected even split (the validity
# precondition for every readout entry above)
register("stat_ab_srm", events_ops, "ab_srm_daily", "AB_SRM_ORACLE")
# group-sequential monitoring: cumulative Welch-z per daily look vs
# fixed and OBF-shaped boundaries (the 'peeking' readout)
register(
    "stat_ab_sequential",
    events_ops,
    "ab_sequential_monitor",
    "AB_SEQUENTIAL_ORACLE",
)
# A/B DESIGN-phase sizing grid: MDE(n) at 80/90% power from the
# historical metric's sufficient statistics — the missing half next
# to the readout suite (welch/CUPED/QTE/KM)
register("stat_ab_power_mde", events_ops, "ab_power_mde", "AB_POWER_MDE_ORACLE")
# IVF-PQ composition: coarse probe (nprobe lists) pruning the ADC
# code scan — the billion-scale ANN architecture, all off ONE shared
# subspace-distance table
register("sim_ivfpq_topk", similarity, "ivfpq_topk", "IVFPQ_TOPK_ORACLE")
# RRF hybrid retrieval: lexical (rational-idf BM25 family) + dense
# (exact cosine) arms fused by integer-nano reciprocal-rank fusion —
# the standard RAG serving composition over the two existing rankers
register("sim_rrf_hybrid_rank", similarity, "rrf_hybrid_rank", "RRF_HYBRID_ORACLE")
# deterministic Lloyd k-means TRAINER (first-K init, integer-micro
# centroid means, unrolled iterations) — the oracle-checked upgrade of
# the rows-only MLlib clustering entries
register("ml_kmeans_lloyd", similarity, "kmeans_lloyd", "KMEANS_LLOYD_ORACLE")
# exact repeated-substring spans (Lee et al. ExactSubstr, Spark-first:
# dup-gram inverted index + gaps-and-islands — no suffix array, no
# pairwise work) and its consumer that rewrites the corpus with the
# duplicated spans cut out (row-conserving)
register("dedup_substring_spans", dedup, "substring_spans", "SUBSTRING_SPANS_ORACLE")
register("dedup_substring_scrub", dedup, "substring_scrub", "SUBSTRING_SCRUB_ORACLE")
# calendar-spine resample + integer-exact LINEAR interpolation (the
# step past ffill: bracketing windows + bigint blend, bit-stable)
register(
    "events_linear_interpolate",
    events_ops,
    "linear_interpolate_daily",
    "LINEAR_INTERPOLATE_ORACLE",
)
# transformWithStateInPandas speaks protobuf on its JVM<->Python state
# channel. Containers without the protobuf distribution get the
# vendored minimal runtime (backend_model_spark/vendor, clean-room
# wire-format implementation — see protobuf_compat.ensure_protobuf,
# called at session import so PYTHONPATH reaches Python workers); the
# gate only stays closed if neither is available.
from backend_model_spark.protobuf_compat import ensure_protobuf  # noqa: E402

HAS_PROTOBUF = ensure_protobuf()
if HAS_PROTOBUF:
    register(
        "streaming_transform_with_state",
        streaming_jobs,
        "streaming_transform_with_state",
        "STREAMING_TWS_ORACLE",
    )

# ----------------------------------------------------------------------
# ROUND-11 TIER-1 rotation — GENERATED by scripts/staleness.py
# (row age now strictly dominates after new/changed entries, per the
# round-10 generator fix). Bands this round:
#   (0) the 4 NEW entries (events_overlap_topk bounded rollup,
#       ml_tuning_subsample_champion, ml_mlp_train_minibatch,
#       dedup_bloom_bitmap) — no driver row yet;
#   (1) entries whose closure changed THIS round: semdedup star
#       contract + events/arch_search/train_distributed/mllib memo
#       hygiene, airbnb split-key docstring sync;
#   (2) pure age drain, oldest rows first: all 9 r2-row and all 9
#       r3-row entries plus 17 of the 29 r4-row entries (35 age slots
#       after bands 0-1) -- once the r11 driver file lands, max row
#       age drops 8 -> 7 held by the 12 remaining r4 entries, which
#       band-2 of the r12 rotation clears first.
# Full report + max row age: SURVEY §15.
# ----------------------------------------------------------------------
TIER1 = [
    "events_overlap_topk",
    "ml_tuning_subsample_champion",
    "ml_mlp_train_minibatch",
    "dedup_bloom_bitmap",
    "events_overlap_join",
    "ml_gbt_feature_importance",
    "ml_gbt_train_eval",
    "pipeline_airbnb_e2e",
    "dedup_semantic_semdedup",
    "ml_mlp_train_adam",
    "ml_mlp_train_distributed",
    "ml_mlp_train_serve_e2e",
    "ml_tuning_arch_compare",
    "ml_tuning_grid_champion",
    "ml_tuning_tpe_champion",
    "mllib_brp_ann_join",
    "pipeline_airbnb_train_eval",
    "sql_recursive_cte",
    "text_bpe_token_count",
    "text_token_stats",
    "udaf_pandas_weighted_mean",
    "udf_pandas_normalize",
    "window_rolling_avg",
    "window_running_total",
    "window_top_per_customer",
    "set_union_all",
    "dq_mutual_info",
    "events_anomaly_seasonal",
    "geo_cell_density",
    "io_compact_small_files",
    "io_schema_evolution",
    "pipeline_quality_dedup",
    "sample_curriculum_order",
    "text_pmi_collocations",
    "text_winnow_fingerprints",
    "agg_mode_exact",
    "dq_observe",
    "events_rolling_trend",
    "func_array",
    "func_fuzzy_blocked_pairs",
    "func_string",
    "io_bucketed_join",
    "io_dynamic_partition_overwrite",
    "io_python_datasource",
    "io_scd2_merge",
    "io_scd2_pit_join",
    "media_payload_stats",
    "ml_decision_stump",
    "mllib_fpgrowth_pairs",
    "pipeline_feature_store",
]

# vendor ships in-repo so HAS_PROTOBUF is normally always True; the
# filters keep import working in environments missing a dependency
_GATED = {
    "streaming_transform_with_state": HAS_PROTOBUF,
    "io_postgres_roundtrip": HAS_POSTGRES,
}
promote([n for n in TIER1 if _GATED.get(n, True)])
