"""Query registry — the single source of truth for the driver contract.

Every operator the engine claims is registered here via the ``@query``
decorator, pairing a (spark, sf_dir) -> DataFrame callable with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables. The
driver hash-compares both at sf0.01 (CORRECTNESS gate), so the pair must
agree on column NAMES and VALUES exactly.

Cross-engine determinism conventions (applied in both the Spark code and
the oracle SQL; deviations are bugs):

1.  Alias every computed column identically on both sides.
2.  Double aggregation: per-row arithmetic stays in IEEE double (bit-
    identical across engines), but the SUM is done in DECIMAL(38,10)
    (exact, order-independent) and cast back to double:
    Spark  ``F.sum(expr.cast("decimal(38,10)")).cast("double")``
    DuckDB ``CAST(SUM(CAST(expr AS DECIMAL(38,10))) AS DOUBLE)``
    AVG = decimal-sum / count (double division is deterministic).
3.  Integer aggregates: cast to BIGINT in SQL (DuckDB SUM(int) is
    HUGEINT, Spark's is long).
4.  Timestamps are TIMESTAMP_NTZ on the Spark side (matches DuckDB's
    naive timestamps); events.ts is truncated to microseconds by the
    loader.
5.  Any LIMIT/top-k is preceded by a TOTAL ordering (unique tiebreaker
    column included).

Contract note — some queries materialize intermediate state at
construction time (eager per-round localCheckpoint for iterative
algorithms, a shared shortlist/edge-list checkpoint for multi-consumer
plans, or driver-side algorithm state collected from tiny aggregates),
so calling their query function EXECUTES work before the returned
DataFrame is acted on; the returned frame is the cheap final plan over
that state. The eager queries are: dedup_cluster_components,
dedup_canonicalize, ml_kmeans, ml_cluster_purity (driver-side centroid
collects), graph_pagerank, graph_jaccard_link_prediction,
graph_label_propagation, events_markov_stationary,
embeddings_top_eigenvector, sim_pq_trained, sim_mmr_diversify,
sample_kcenter_coreset, graph_kcore, pipeline_e2e_pretrain,
graph_degree_assortativity, graph_bridge_edges, graph_wcc_sizes,
graph_rich_club, graph_hits_authorities,
graph_avg_neighbor_degree, graph_katz_3step, graph_local_clustering,
graph_resource_allocation_linkpred, graph_2hop_reach (shared
co-purchase edge list checkpointed once for plans whose column-pruned
consumers re-derived it from parquet 12-34 times — optimization r14),
dedup_near_minhash_lsh, dedup_minhash_adaptive_bands,
dedup_minhash_estimate_error, dedup_containment (minhash signature
frame checkpointed once for the four-consumer pair pipelines —
optimization r14, measured 2.55→1.42 s),
orders_theil_sen_trend (calendar-bounded slope-frame checkpoint),
orders_hodges_lehmann (calendar-bounded Walsh-pair-frame checkpoint,
the same two-phase-median shape),
orders_sen_slope_ci (the same slope-frame checkpoint as
orders_theil_sen_trend),
orders_laspeyres_price_index and orders_paasche_fisher_index (the
(part × period) price rollup materialized once for its three
non-reuse-eligible consumers — optimization r13),
embeddings_covariance_audit (dims²-bounded Gram-partials checkpoint —
9 plan consumers would each replay the scan + mapInPandas),
pipeline_e2e_rag,
and the corpus-adaptive LSH family
(sim_range_search_adaptive, sim_pair_margin_adaptive,
ml_knn_purity_adaptive, sample_hard_negatives_adaptive,
sim_reciprocal_nn_adaptive, sim_ann_recall_adaptive,
dedup_embedding_adaptive, sim_topk_adaptive,
sim_adaptive_occupancy_profile — a driver-side parquet
FOOTER-metadata row count picks the plane count; no Spark job, with a
count() fallback for non-file sources).
Every
other query returns a fully lazy plan. (tests/test_registry_lint.py
keeps this list honest against the construction sites.)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a driver-visible query named ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# The driver's per-round CORRECTNESS gate covers the FIRST 50 registered
# queries, so exposure order is rotated each round: queries without a
# prior driver-green row lead, driver-green queries refill the window.
# Explicit list (not import order — transitive module imports would
# scramble it).

# Names registered after the round-4 gate window froze (r4 window
# positions 51+): they MUST lead the round-5 window verbatim so the
# driver union finally covers the whole registry.
ROUND5_QUEUE = [
    "sample_temperature_mix",
    "events_funnel_windowed",
    "cdc_merge_on_read",
    "text_tfidf_topterms",
    "embeddings_dim_stats",
    "events_user_path_topk",
    "dq_freshness_by_type",
    "text_cooccurrence_lift",
    "sim_knn_graph",
    "layout_compaction_plan",
    "text_quality_gate",
    "embeddings_top_eigenvector",
    "q70_recursive_org_rollup",
    "src_reffile_datasource",
    "events_heatmap_dow_hour",
    "text_chunk_dedup",
    "orders_backlog_timeseries",
    "sim_ivf_pq",
    "events_markov_stationary",
]

# Names registered after the round-5 gate window froze: position 51+
# this round, leading the round-6 rotation.
ROUND6_QUEUE: list[str] = [
    "dedup_incremental",
    "profile_dict_encoding",
    "sample_domain_reweight",
    "dq_distribution_drift",
    "profile_join_fanout",
    "lake_time_travel_read",
    "lake_incremental_scan",
    "lake_stats_pruning",
    "src_lakefeed_datasource",
    "lake_merge_upsert",
    "lake_zorder_pruned_read",
    "lake_replace_where",
    "lake_change_feed",
    "text_unicode_normalize",
    "profile_gini_impurity",
    "sample_epoch_shuffle",
    "dedup_exact_substring",
    "graph_triangle_count",
    "events_changepoint_cusum",
    "mm_phash_dedup",
    "text_ngram_novelty",
    "sim_hybrid_rrf",
    "sim_mmr_diversify",
    "pack_length_buckets",
    "dedup_band_tuning_curve",
    "sim_ann_multitable",
    "graph_jaccard_link_prediction",
    "events_anomaly_mad",
    "dq_k_anonymity",
    "mm_audio_vad_segments",
    "ml_linear_probe_auc",
    "events_ab_srm_check",
    "mm_video_scene_cuts",
    "sample_kcenter_coreset",
    "events_forecast_backtest",
    "graph_label_propagation",
]

# Names registered after the round-6 gate window freezes: position 51+
# this round, leading the round-7 rotation.
ROUND7_QUEUE: list[str] = [
    "dq_referential_integrity",
    "events_churn_hazard",
    "graph_kcore",
    "ml_score_deciles_lift",
    "ml_confusion_thresholds",
    "embeddings_centroid_drift",
    "graph_degree_assortativity",
    "dq_l_diversity",
    "events_ab_cuped",
    "text_keyphrase_rake",
    "dedup_soft_weights",
    "ml_average_precision",
    "events_diff_in_diff",
    "pipeline_e2e_rag",
    "events_anova_dow",
    "dq_benford_test",
    "events_order_autocorr",
    "sim_filtered_topk",
    "sim_multi_query_topk",
    "mix_token_budget_allocator",
    "events_ab_power",
]

# Names registered after the round-7 gate window freezes: position 51+
# this round, leading the round-8 rotation. Grows as round-7 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND8_QUEUE: list[str] = [
    "events_retention_cohorts",
    "events_sessionize_gap",
    "events_rfm_segments",
    "profile_pareto_revenue",
    "sample_stratified_exact",
    "dq_schema_drift",
    "graph_bridge_edges",
    "sim_ivf_balance_audit",
    "sim_ann_recall_curve",
    "text_hapax_ratio",
    "pipeline_e2e_eval_harness",
    "sim_pq_recall_audit",
    "lake_manifest_audit",
    "events_survival_km",
    "events_cross_correlation",
    "events_funnel_time_to_convert",
    "text_heaps_law",
    "graph_local_clustering",
    "text_burstiness",
    "mm_aspect_bucket",
    "lake_deletion_vectors",
    "sim_reciprocal_nn",
    "text_bigram_surprisal",
    "embeddings_effective_rank",
    "orders_cohort_ltv",
    "stream_windowed_distinct",
    "events_new_vs_returning",
    "events_interarrival_stats",
    "ml_feature_chi2_screen",
    "events_seasonal_residual_anomaly",
    "sample_hard_negatives",
    "lake_dv_compaction",
    "events_attribution_linear",
    "text_source_jaccard",
    "mm_wav_loudness_gate",
    "embeddings_class_separation",
    "events_holt_linear_forecast",
    "pipeline_dedup_impact",
    "lake_bloom_point_lookup",
    "events_covisitation_matrix",
    "sample_time_split_leakage",
]

# Names registered after the round-8 gate window freezes: position 51+
# this round, leading the round-9 rotation. Grows as round-8 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND9_QUEUE: list[str] = [
    "sample_hard_negatives_bucketed",
    "sim_reciprocal_nn_bucketed",
    "ml_retrieval_mrr",
    "ml_calibration_bins",
    "graph_resource_allocation_linkpred",
    "events_audience_overlap",
    "text_ttr_length_curve",
    "orders_repeat_purchase_curve",
    "ml_topk_accuracy",
    "graph_2hop_reach",
    "sample_group_holdout_split",
    "orders_priority_mix_shift",
    "dq_uniqueness_audit",
    "events_dau_wau_stickiness",
    "events_conversion_window_sensitivity",
    "events_funnel_by_segment",
    "dedup_cross_source_overlap",
    "graph_degree_powerlaw",
    "events_error_rate_sla",
    "orders_seasonality_yoy",
    "events_weekday_weekend_lift",
    "text_sentence_length_profile",
    "stream_error_rate_alert",
    "lake_vacuum_plan",
]

# Names registered after the round-9 gate window freezes: position 51+
# this round, leading the round-10 rotation. Grows as round-9 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND10_QUEUE: list[str] = [
    "events_growth_accounting",
    "events_concurrency_peak",
    "events_power_user_curve",
    "events_attribution_position",
    "orders_customer_migration_matrix",
    "embeddings_isotropy_audit",
    "sim_range_search_lsh",
    "graph_avg_neighbor_degree",
    "graph_katz_3step",
    "ml_cohens_kappa",
    "dedup_bloom_prefilter",
    "ivm_delta_join",
    "text_chunk_dedup_impact",
    "text_quality_threshold_sweep",
    "text_vocab_contribution",
    "mm_audio_chunk_plan",
    "lake_schema_evolution_audit",
    "q71_window_distinct_count",
    "stream_topk_per_window",
    "sim_pair_margin_stats",
    "orders_abc_class",
    "sample_kfold_assignment",
    "embeddings_dim_quantiles",
    "sample_unigram_neg_sampling",
    "profile_column_storage",
    "orders_ship_delay_sla",
    "dq_monotonic_id_gaps",
    "lake_clone_shallow",
    "q72_grouping_id",
    "text_bpe_fertility_by_lang",
    "mm_image_tile_grid",
    "ml_knn_label_purity_bucketed",
    "stream_session_abandonment",
    "ml_expected_calibration_error",
    "events_error_budget_burn",
    "orders_open_order_aging",
    "graph_wcc_sizes",
]

# Names registered after the round-10 gate window freezes: position 51+
# this round, leading the round-11 rotation. Grows as round-10 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND11_QUEUE: list[str] = [
    "sim_range_search_adaptive",
    "sim_pair_margin_adaptive",
    "ml_knn_purity_adaptive",
    "sample_hard_negatives_adaptive",
    "sim_reciprocal_nn_adaptive",
    "q73_mode_per_group",
    "q74_percent_rank_cume_dist",
    "graph_modularity_brands",
    "text_zipf_constancy",
    "orders_pareto_frontier",
    "sim_ann_recall_adaptive",
    "sample_coverage_curve",
    "dq_functional_dependency",
    "events_gaps_and_islands",
    "events_local_peaks",
    "sample_proportional_allocation",
    "ivm_delta_agg",
    "text_length_gini",
    "ml_brier_decomposition",
    "text_ngram_train_test_coverage",
    "dq_repeated_event_runs",
    "dedup_embedding_adaptive",
    "sim_topk_adaptive",
    "events_type_cooccurrence_sessions",
    "graph_rich_club",
    "events_type_hhi",
    "dedup_minhash_estimate_error",
    "orders_revenue_gini",
    "sim_adaptive_occupancy_profile",
    "events_dormancy_reactivation_lag",
    "events_first_session_profile",
    "orders_pareto_8020_point",
    "events_value_drawdown",
]

# Names registered after the round-11 gate window freezes: position 51+
# this round, leading the round-12 rotation. Grows as round-11 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND12_QUEUE: list[str] = [
    "sim_ivf_adaptive",
    "sim_ivf_adaptive_occupancy",
    "sim_ivf_adaptive_recall",
    "ml_ndcg_at_k",
    "ml_mcc_at_thresholds",
    "text_dup_ngram_coverage",
    "sample_priority_pps",
    "graph_hits_authorities",
    "dq_ks_source_drift",
    "events_value_bootstrap_ci",
    "events_winsorized_mean",
    "sample_neyman_allocation",
    "dedup_minhash_adaptive_bands",
    "ml_auc_delong_ci",
    "orders_spearman_price_items",
]

# Names registered after the round-12 gate window freezes: position 51+
# this round, leading the round-13 rotation. Grows as round-12 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND13_QUEUE: list[str] = [
    "events_winsorized_mean_binned",
    "events_mann_whitney_u",
    "events_wilcoxon_signed_rank",
    "events_kendall_tau_hour",
    "orders_theil_sen_trend",
    "text_hellinger_sources",
    "dq_cramers_v_type_dow",
    "sim_ivf_sharded",
    "events_type_mix_tv_drift",
    "events_user_type_simpson",
    "sample_horvitz_thompson",
    "q75_ntile_revenue_quartiles",
    "dq_tukey_outlier_fences",
    "q76_nth_value_window",
    "sim_ivf_sharded_occupancy",
    "sim_ivf_sharded_recall",
    "orders_laspeyres_price_index",
    "dq_completeness_profile",
]

# Names registered after the round-13 gate window freezes: position 51+
# this round, leading the round-14 rotation. Grows as round-13 operators
# land; tests/test_registry_lint.py asserts it exactly equals the set of
# registered queries with no driver evidence that are outside the window.
ROUND14_QUEUE: list[str] = [
    "orders_mann_kendall_trend",
    "orders_runs_test_median",
    "events_bowley_skewness",
    "events_poisson_dispersion",
    "orders_paasche_fisher_index",
    "embeddings_covariance_audit",
    "q77_group_by_all",
    "dq_fd_violation_profile",
    "text_rake_keyphrases",
    "events_kruskal_wallis",
    "events_friedman_dow",
    "events_cochran_armitage_hour",
    "dq_grubbs_extreme_day",
    "events_levene_brown_forsythe",
    "orders_hodges_lehmann",
    "events_ljung_box",
    "orders_durbin_watson",
    "events_mood_median_test",
    "events_cliffs_delta",
    "orders_page_trend_test",
    "events_brunner_munzel",
    "orders_sen_slope_ci",
]

# Round-13 window (positions 1-50):
#   1-18  ROUND13_QUEUE verbatim — every round-12 in-round addition
#         (the nonparametric/robust-stats tier, the sharded-IVF triad,
#         NTILE/NTH_VALUE SQL, Laspeyres index, completeness profile),
#         all re-verified oracle-green by the r12 judge, never
#         driver-gated. After this round the driver union r1..r13
#         covers the whole registry as of the r13 freeze (437/437).
#   19-37 freshness re-gates, oldest driver evidence first: the 19
#         youngest round-4 rows (round-4-window order) — the last
#         round-4 evidence anywhere in the ledger.
#   38-50 the 13 oldest round-5 rows (round-5-window order; the other
#         37 round-5 rows remain for round 14's refill slots).
# tests/test_registry_lint.py::test_round13_window_leads_with_queue
# asserts all of this mechanically.
_GATE_FIRST = [
    *ROUND13_QUEUE,
    # round-4 evidence (19 youngest — last r4 rows in the ledger)
    "events_ewma",
    "q68_revenue_mom_change",
    "embeddings_norm_audit",
    "q69_variant_shred",
    "src_federated_union",
    "bootstrap_token_stats",
    "sim_pq_trained",
    "dedup_semantic",
    "src_bucketed_join",
    "sample_weighted_reservoir",
    "snapshot_diff",
    "stream_custom_state",
    "mm_real_decode_stats",
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_near_minhash_lsh",
    "sim_topk_cosine",
    "ml_kmeans",
    "enc_roundtrip_agg",
    # round-5 evidence (13 oldest, round-5 window order)
    "sample_temperature_mix",
    "events_funnel_windowed",
    "cdc_merge_on_read",
    "text_tfidf_topterms",
    "embeddings_dim_stats",
    "events_user_path_topk",
    "dq_freshness_by_type",
    "text_cooccurrence_lift",
    "sim_knn_graph",
    "layout_compaction_plan",
    "text_quality_gate",
    "embeddings_top_eigenvector",
    "q70_recursive_org_rollup",
]

# Round-12 window (positions 1-50), kept for the ledger:
#   1-15  ROUND12_QUEUE verbatim — every round-11 in-round addition
#         (the corpus-adaptive IVF triad, NDCG/MCC/DeLong-CI retrieval
#         and classifier eval, priority sampling, KS drift, bootstrap
#         CI, winsorized mean, Neyman allocation, adaptive banding,
#         HITS, Spearman), all re-verified oracle-green by the r11
#         judge, never driver-gated. After this round the driver union
#         r1..r12 covers the whole registry as of the r12 freeze
#         (419/419).
#   16-19 the 4 youngest round-3 evidence rows (round-3-window order) —
#         the last round-3 evidence anywhere in the ledger.
#   20-50 freshness re-gates, oldest remaining driver evidence: the 31
#         oldest round-4 rows, in round-4-window order (the 19 youngest
#         round-4 rows remain for round 13's refill slots).
_R12_GATE_FIRST = [
    *ROUND12_QUEUE,
    # round-3 evidence (the 4 youngest — last r3 rows in the ledger)
    "sample_negatives",
    "dq_constraint_checks",
    "dedup_containment",
    "events_late_data_metrics",
    # round-4 evidence (31 oldest, round-4 window order)
    "text_inverted_index",
    "dedup_cluster_components",
    "events_asof_nearest",
    "text_bigram_stats",
    "events_user_rfm",
    "ml_cluster_purity",
    "events_winsorized_stats",
    "events_time_weighted_avg",
    "basket_part_pairs",
    "ivm_merge_agg",
    "sql_text_frontend",
    "q64_groupwise_ols",
    "events_quantile_normalize",
    "events_longest_streak",
    "pipeline_e2e_pretrain",
    "events_abtest_lift",
    "sim_matryoshka_prefix",
    "events_active_users",
    "events_seasonality_profile",
    "text_prefix_autocomplete",
    "events_pareto_concentration",
    "q65_excess_share_suppliers",
    "q66_waiting_suppliers",
    "q67_dormant_rich_accounts",
    "events_sessionize",
    "events_rolling_distinct",
    "pack_sequences",
    "curriculum_order",
    "scd2_point_in_time_join",
    "text_boilerplate_ngrams",
    "text_bpe_merge_pairs",
]

# Round-11 window (positions 1-50), kept for the ledger:
#   1-33  ROUND11_QUEUE verbatim — every round-10 in-round addition
#         (the corpus-adaptive LSH tier, mode/percent_rank SQL surface,
#         rich-club/modularity graph audits, Pareto/Gini economics,
#         gaps-and-islands), all local-oracle green at BOTH sf0.01 and
#         sf0.001 in round 10, never driver-gated. After round 11 the
#         driver union r1..r11 covers the whole pre-freeze registry
#         (404/404).
#   34-50 freshness re-gates, oldest driver evidence first: the 17
#         oldest remaining round-3 rows (in round-3-window order; the
#         4 youngest round-3 rows were left for round 12's refill slots).
_R11_GATE_FIRST = [
    *ROUND11_QUEUE,
    # round-3 evidence (17 oldest remaining, round-3 window order)
    "events_percentiles_exact",
    "events_rolling_1h",
    "scd2_build",
    "text_source_divergence",
    "text_vocab_coverage",
    "events_value_histogram",
    "enc_key_rotation",
    "mm_arrow_features",
    "events_attribution_last_touch",
    "events_value_deciles",
    "sim_binary_quant",
    "udtf_token_positions",
    "cdc_tombstone_merge",
    "sim_ivf_multiprobe",
    "src_json_corrupt_records",
    "q62_nested_order_lines",
    "q63_hll_sketch_union",
]

# Round-10 window (positions 1-50), kept for the ledger:
#   1-37  ROUND10_QUEUE verbatim — every round-9 in-round addition,
#         never driver-gated before round 10 (driver union r1..r10
#         covered the whole pre-freeze registry, 371/371).
#   38-50 freshness re-gates: the 13 oldest round-3 rows.
_R10_GATE_FIRST = [
    *ROUND10_QUEUE,
    # round-3 evidence (13 oldest remaining at the time, round-3 order)
    "sim_random_projection",
    "text_rare_token_score",
    "events_anomaly_zscore",
    "udaf_grouped_pandas",
    "sim_pq_adc",
    "text_bm25_rank",
    "stream_static_enrich",
    "dedup_canonicalize",
    "layout_zorder_stats",
    "graph_pagerank",
    "profile_table",
    "sample_rebalance_classes",
    "dedup_eval_recall",
]

# Round-9 window (positions 1-50), kept for the ledger:
#   1-24  ROUND9_QUEUE verbatim — every round-8 in-round addition
#         (bucketed corpus-scale mining, retrieval/calibration metrics,
#         lifecycle analytics, streaming error-rate alert, lake vacuum
#         plan), all local-oracle green at BOTH sf0.01 and sf0.001 in
#         round 8, never driver-gated. After this round the driver
#         union r1..r9 covers the whole pre-freeze registry (334/334).
#   25-50 freshness re-gates, oldest driver evidence first: the 11
#         remaining round-2 rows (in round-2-window order), then the 15
#         oldest round-3 rows (in round-3-window order).
_R9_GATE_FIRST = [
    *ROUND9_QUEUE,
    # round-2 evidence (11)
    "q54_ignore_nulls_window",
    "q55_sequence_arrays",
    "text_decontaminate",
    "text_pii_redact",
    "mm_frame_sample",
    "enc_pme_roundtrip",
    "text_repetition_filter",
    "sample_stratified_hash",
    "sample_uniform_topk",
    "mix_source_weights",
    "sim_scalar_quant",
    # round-3 evidence (15)
    "q56_decimal_exact",
    "q57_interval_arith",
    "q58_string_agg",
    "split_train_val_test",
    "text_oov_rate",
    "upsert_snapshot",
    "events_rollup_multigrain",
    "q59_stat_moments",
    "events_funnel",
    "events_cohort_retention",
    "events_transitions",
    "q60_try_funcs",
    "q61_struct_explode",
    "events_gap_fill",
    "dedup_fuzzy_levenshtein",
]

def _ordered() -> dict[str, RegisteredQuery]:
    _load_all()
    # Loud on drift: a typo/renamed entry here would silently shift the
    # 50-query gate window and un-gate queries the rotation plan assumes
    # are covered.
    unknown = [n for n in _GATE_FIRST if n not in _REGISTRY]
    assert not unknown, f"_GATE_FIRST names not in registry: {unknown}"
    lead = list(_GATE_FIRST)
    lead_set = set(lead)
    rest = [n for n in _REGISTRY if n not in lead_set]
    return {n: _REGISTRY[n] for n in [*lead, *rest]}


def all_queries() -> dict[str, QueryFn]:
    return {n: r.fn for n, r in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {n: r.oracle for n, r in _ordered().items() if r.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Import order == registration order == driver-gate order. The driver's
    # CORRECTNESS gate covers the first 50 registered queries per round, so
    # coverage is ROTATED round-over-round: round 1 gated the first 50 of the
    # old order (asof/dedup/encrypted/llm_text/ml_kmeans/multimodal/relational
    # q1-q30); round 2 front-loads the 27 queries round 1 left ungated
    # (relational2, similarity, skew, sources, streaming) so every registered
    # query has driver-green evidence across the union of rounds.
    # never-driver-gated queries first (round-2 additions included), then
    # round-1-green modules refilling the remainder of the gate window
    from .operators import (  # noqa: F401
        relational2,
        similarity,
        skew,
        sources,
    )
    from .streaming import events as streaming_events  # noqa: F401
    from .operators import (  # noqa: F401
        relational3,
        relational4,
        relational5,
        events_analytics2,
        llm_text2,
        llm_text3,
        similarity2,
        similarity3,
        similarity4,
        text_index,
        dedup2,
        dedup3,
        layout,
        graph,
        profiling,
        text_stats,
        similarity5,
        udtf_ops,
        pipeline,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        corpus_prep,
        retrieval,
        lake_queries,
        vector_stats,
        ml_eval,
        pipeline6,
        pipeline7,
        pipeline8,
        pipeline9,
        similarity6,
        similarity7,
        pipeline10,
        reffile_source,
        avro_source,
        events_analytics,
        encrypted,
        asof,
        dedup,
        llm_text,
        ml_kmeans,
        multimodal,
        relational,
        similarity8,
        pipeline11,
        pipeline12,
        similarity9,
        graph2,
        llm_text4,
        multimodal2,
        pipeline13,
        similarity10,
        pipeline14,
        similarity11,
        similarity12,
        pipeline15,
        pipeline16,
        pipeline17,
        pipeline18,
        dedup4,
        pipeline19,
        pipeline20,
    )

    _LOADED = True


# --- shared helpers used by operator modules -------------------------------


def dsum(col):
    """Order-independent SUM of a double expression (convention #2)."""
    from pyspark.sql import functions as F

    return F.sum(col.cast("decimal(38,10)")).cast("double")


# The VARCHAR round-trip matters: DuckDB's direct DECIMAL→DOUBLE cast is
# not correctly rounded (verified: 289473120.0300000000 → …03000003), but
# DECIMAL→VARCHAR→DOUBLE is, and matches Spark's BigDecimal.doubleValue.
DSUM_SQL = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


# ORDERED-FOLD convention (round 13, pipeline19 module note): the
# cross-engine-deterministic sum of DOUBLE terms over a BOUNDED key
# domain (group keys, calendar days, contingency cells). Both engines
# reduce the key-ordered term list with the same left-to-right IEEE
# sequence; a cumulative WINDOW sum is NOT portable (DuckDB evaluates
# windowed SUM by segment tree), and the floor-scaled convention
# saturates at Spark floor(double)->LONG = 9.2e18. COALESCE NULL terms
# to 0.0 at call sites (Spark collect_list drops NULLs, DuckDB list()
# keeps them).
OFOLD_SQL = (
    "list_reduce(list_prepend(0.0, list({term} ORDER BY {key})),"
    " (acc, x) -> acc + x)"
)


def ofold(term, *keys):
    """Ordered sequential fold of `term` (a double Column) over the
    ascending (*keys) order — the Spark twin of OFOLD_SQL."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        *[k.alias(f"k{i}") for i, k in enumerate(keys)],
                        term.alias("t"),
                    )
                )
            ),
            lambda s: s["t"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def davg(col):
    """Order-independent AVG of a double expression (convention #2)."""
    from pyspark.sql import functions as F

    return (
        F.sum(col.cast("decimal(38,10)")).cast("double") / F.count(col)
    )


DAVG_SQL = (
    "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    " / COUNT({expr})"
)
