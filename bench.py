"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Execution is forced through the noop sink so timings measure the
distributed plan (scan→shuffle→agg), not driver-side row transfer.

Per-query deltas vs the newest committed BENCH_r{N}.json (positive =
slower than last round) print on an EARLIER stdout line and land in
.benchmarks/last_run.json. The driver records only the last 2000 bytes
of stdout, and round 4's single line (summary + deltas) outgrew that —
BENCH_r04.json has parsed:null. So the FINAL line now carries only the
driver-contract fields ({metric, value, unit, queries, sf}) and a
self-check asserts it fits the capture window with headroom.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from project_final_parquet_spark.registry import all_queries
from project_final_parquet_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_star_join_revenue",
    "q7_top3_orders_per_customer",
    "q8_running_qty_per_supplier",
    "q23_asof_join",
    "dedup_near_minhash_lsh",
    "dedup_cluster_components",
    "sim_topk_cosine",
    "sim_ann_lsh",
    "ml_kmeans",
    "text_token_stats",
    "text_chunking",
    "stream_session_windows",
    "enc_roundtrip_agg",
    # round-2 additions
    "text_decontaminate",
    "text_repetition_filter",
    "text_oov_rate",
    "sim_scalar_quant",
    "events_rollup_multigrain",
    "upsert_snapshot",
    # round-2 late additions
    "sim_pq_adc",
    "text_bm25_rank",
    "graph_pagerank",
    "stream_static_enrich",
    # round-3 additions: heaviest families that had no bench coverage
    "scd2_build",
    "dedup_containment",
    "q63_hll_sketch_union",
    "pipeline_e2e_pretrain",
    # round-4 additions: r3 registry families start round-over-round
    # tracking (judge item 4), plus the new real-codec path
    "dedup_semantic",
    "sim_pq_trained",
    "src_bucketed_join",
    "pack_sequences",
    "stream_custom_state",
    "mm_real_decode_stats",
    "embeddings_top_eigenvector",
    "sim_knn_graph",
    "text_quality_gate",
    "cdc_merge_on_read",
    "sample_temperature_mix",
    # round-5 additions: the remaining heavy r5-queue families (judge
    # item 3) + the new sketch-based rolling distinct
    "sim_ivf_pq",
    "text_chunk_dedup",
    "orders_backlog_timeseries",
    "events_rolling_distinct_hll",
    # round-5 sweep fixes: start round-over-round tracking for the two
    # queries the full-registry sweep caught slow (see SCALE.md)
    "q42_approx_aggs",
    "sim_pairs_label_block",
    # round-5 late additions (ROUND6_QUEUE): every new family tracks
    # round-over-round from its first round
    "dedup_incremental",
    "profile_dict_encoding",
    "sample_domain_reweight",
    "dq_distribution_drift",
    "profile_join_fanout",
    "lake_time_travel_read",
    "lake_stats_pruning",
    # round-5 fourth-session additions (ROUND6_QUEUE tail)
    "lake_merge_upsert",
    "lake_zorder_pruned_read",
    "text_unicode_normalize",
    "sample_epoch_shuffle",
    # round-5 fifth-session additions (ROUND6_QUEUE tail)
    "lake_change_feed",
    "dedup_exact_substring",
    "graph_triangle_count",
    "events_changepoint_cusum",
    "mm_phash_dedup",
    "text_ngram_novelty",
    # round-5 sixth-session additions (ROUND6_QUEUE tail)
    "sim_hybrid_rrf",
    "sim_mmr_diversify",
    "pack_length_buckets",
    "dedup_band_tuning_curve",
    "sim_ann_multitable",
    # round-5 seventh-session additions (ROUND6_QUEUE tail)
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
    # round-6 additions (ROUND7_QUEUE): tracked from their first round
    "dq_referential_integrity",
    "events_churn_hazard",
    "graph_kcore",
    # round-6 rework: ml_cluster_purity joins the bench so the kmeans
    # family's new driver-side-centroid shape is tracked on both paths
    "ml_cluster_purity",
    # round-6 in-round additions (ROUND7_QUEUE)
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
    # round-7 additions (ROUND8_QUEUE): tracked from their first round
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
    # round-7 in-session additions (ROUND8_QUEUE tail): tracked from
    # their first round
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
    # round-8 additions (ROUND9_QUEUE): the corpus-scale bucketed
    # mining variants and the analytics batch, tracked from their
    # first round
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
    # round 9
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
    # NOTE: slowest single query in any record (6.8-14.5 s observed).
    # Iterate-to-fixpoint pointer doubling: wall time = rounds x
    # per-round job latency, so it is the bench's most page-cache-
    # sensitive entry (each round re-reads the checkpointed label
    # frame; a drained cache pays disk every round). The per-record
    # cache_state field is the denominator for comparing its numbers
    # across records; the plan shape itself is converged (r10 verdict).
    "graph_wcc_sizes",
    # round 10: the corpus-adaptive LSH index
    "sim_range_search_adaptive",
    "sim_pair_margin_adaptive",
    "ml_knn_purity_adaptive",
    "sample_hard_negatives_adaptive",
    "sim_reciprocal_nn_adaptive",
    "sim_ann_recall_adaptive",
    "q73_mode_per_group",
    "q74_percent_rank_cume_dist",
    "graph_modularity_brands",
    "text_zipf_constancy",
    "orders_pareto_frontier",
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
    # round 11: the corpus-adaptive IVF index + widening batch
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
    # round 12: nonparametric stats batch + the sharded IVF
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
    # round-13 additions: trend/randomness tests, robust shape,
    # dispersion, index numbers, embedding-geometry audit, GROUP BY ALL
    "orders_mann_kendall_trend",
    "orders_runs_test_median",
    "events_bowley_skewness",
    "events_poisson_dispersion",
    "orders_paasche_fisher_index",
    "embeddings_covariance_audit",
    "q77_group_by_all",
    "dq_fd_violation_profile",
    "text_rake_keyphrases",
    # round-13 batch 3: the classical-test tier completion
    "events_kruskal_wallis",
    "events_friedman_dow",
    "events_cochran_armitage_hour",
    "dq_grubbs_extreme_day",
    "events_levene_brown_forsythe",
    "orders_hodges_lehmann",
    "events_ljung_box",
    "orders_durbin_watson",
    # round-13 batch 4: the effect-size / scale-test tier
    "events_mood_median_test",
    "events_cliffs_delta",
    "orders_page_trend_test",
    "events_brunner_munzel",
    "orders_sen_slope_ci",
]

# The driver keeps the last 2000 bytes of stdout; leave headroom for
# the trailing newline and any straggler log line.
_MAX_FINAL_LINE = 1900


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")
    queries = all_queries()

    # warm-up: JVM/codegen/session init outside the measured window.
    # One aggregate query alone leaves the shared HOF-fold / window /
    # checkpoint machinery cold — the first HEADLINE query of each
    # expression class then pays multi-second C2 JIT that reads as a
    # phantom round-over-round regression (measured: ml_linear_probe_auc
    # 7.5 s first run vs 1.2 s second, same plan). Warm each class once
    # at the TINY sf so the timed loop measures plans, not JIT.
    queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm at the sibling tiny SF of whatever data root is in use; fall
    # back to sf_dir itself if no sf0.001 sits next to it (ADVICE r6:
    # the hardcoded path crashed bench in any relocated environment)
    _tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(_tiny):
        _tiny = sf_dir
    for _warm in (
        "sim_topk_cosine",          # HOF zip_with/aggregate fold
        "q7_top3_orders_per_customer",  # window functions
        "graph_pagerank",           # localCheckpoint + iterative joins
        "sim_pairs_label_block",    # vec_dot JVM pair-cosine kernel:
        # jar build/ADD JAR and UDF registration, once per session
    ):
        queries[_warm](spark, _tiny).write.format("noop").mode(
            "overwrite"
        ).save()
    # lake staging (two commits, write-side) happens once per sf_dir;
    # stage it here so the measured lake_* timings are the READ path
    from project_final_parquet_spark.operators.lake_queries import (
        cdf_lake,
        merge_lake,
        orders_lake,
        zorder_lake,
    )

    orders_lake(spark, sf_dir)
    merge_lake(spark, sf_dir)
    zorder_lake(spark, sf_dir)
    cdf_lake(spark, sf_dir)

    # page-cache state at measurement start (VERDICT r10: three same-day
    # solo runs drifted 1.31→1.62 s/q purely with buff/cache drain —
    # e.g. graph_wcc_sizes 6.8→14.5 s; recording the state makes that
    # drift class diagnosable from the JSON alone).
    cache_state: dict[str, int] = {}
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                key = ln.split(":")[0]
                if key in ("Cached", "MemAvailable", "MemFree", "Buffers"):
                    cache_state[key.lower() + "_kb"] = int(ln.split()[1])
    except OSError:
        pass

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # isolate queries from each other's leftover state: iterative
        # queries localCheckpoint per round, and those blocks are only
        # unpersisted when Python GC drops the DataFrame refs and the
        # JVM ContextCleaner runs — without this, blocks pile up across
        # the run and the late heavy queries pay GC/memory pressure for
        # the early ones (measured: graph_pagerank 14.5s mid-suite vs
        # 6.4s isolated, same code; the r5 DRIVER bench hit the same
        # mode much harder on a loaded container — ml_kmeans 151.7 s vs
        # 6.1 s isolated, BENCH_r05). gc+clearCache alone leaves the
        # ContextCleaner's timing in charge, so ALSO unpersist every
        # leftover persistent/checkpointed RDD deterministically and
        # ask the JVM for a full GC before each timed query.
        import gc

        gc.collect()
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            spark._jvm.System.gc()
        except Exception:
            pass  # private API; isolation degrades gracefully
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # families + their shared-name deltas ride the FINAL contract
        # line (VERDICT r12 item 8: they must parse from the recorded
        # BENCH tail; extra keys are contract-safe, and the degrade
        # loop below makes room by dropping rotated query detail).
        "families": None,  # filled after the subtotal pass below
    }

    # per-family subtotals (VERDICT r11 item 7): the headline total now
    # mixes 250+ queries of very different weights, so round-over-round
    # drift needs an attributable breakdown without the shared-name
    # join. Family = first name segment (qNN → "sql").
    families: dict[str, float] = {}
    for _name, _sec in timings.items():
        _key = _name.split("_", 1)[0]
        if _key[:1] == "q" and _key[1:].isdigit():
            _key = "sql"
        families[_key] = round(families.get(_key, 0.0) + _sec, 3)
    families = dict(sorted(families.items()))
    # 1-decimal on the FINAL line (full precision stays on the earlier
    # line + last_run.json): ~100B saved = ~10 more query details kept
    out["families"] = {k: round(v, 1) for k, v in families.items()}
    # own EARLIER line too: informative in the captured tail when space
    # allows, never at the expense of the parseable final line
    print(json.dumps({"families": families}, separators=(",", ":")))

    deltas: dict = {"cache_state": cache_state, "families": families}
    prev = _latest_prev_bench()
    if prev is not None:
        prev_q = prev.get("queries", {})
        deltas["delta_vs_prev"] = {
            name: round(sec - prev_q[name], 3)
            for name, sec in timings.items()
            if name in prev_q
        }
        # per-family delta over SHARED names only (VERDICT r12 item 8):
        # the attributable drift map, small enough for the final line
        fam_delta: dict[str, float] = {}
        for name, sec in timings.items():
            if name not in prev_q:
                continue
            _k = name.split("_", 1)[0]
            if _k[:1] == "q" and _k[1:].isdigit():
                _k = "sql"
            fam_delta[_k] = round(
                fam_delta.get(_k, 0.0) + (sec - prev_q[name]), 3
            )
        deltas["families_delta_vs_prev"] = dict(sorted(fam_delta.items()))
        out["families_delta_vs_prev"] = {
            k: round(v, 1)
            for k, v in deltas["families_delta_vs_prev"].items()
        }
        # total delta over the INTERSECTION of query sets, so adding new
        # headline queries doesn't read as a regression
        shared = [n for n in timings if n in prev_q]
        if shared:
            deltas["delta_vs_prev_total"] = round(
                sum(timings[n] for n in shared)
                - sum(prev_q[n] for n in shared),
                3,
            )
        # deltas go on their own EARLIER line: informative in the
        # captured tail when space allows, never at the expense of the
        # parseable final line
        print(json.dumps(deltas, separators=(",", ":")))

    # full record (summary + deltas) for round-over-round archaeology
    bench_dir = Path(__file__).resolve().parent / ".benchmarks"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "last_run.json").write_text(
        json.dumps({**out, **deltas}, indent=1)
    )

    # full per-query map on its own EARLIER line: survives in the
    # captured tail when space allows, never at the expense of the
    # parseable final line (the complete record is always in
    # .benchmarks/last_run.json and the round notes)
    print(json.dumps({"queries_full": timings}, separators=(",", ":")))

    # compact separators: ~2 bytes/entry of headroom at zero cost
    line = json.dumps(out, separators=(",", ":"))
    # degrade rounding before ever risking a truncated line; if even
    # 1-decimal doesn't fit, drop the FASTEST queries' detail first —
    # the driver contract needs {metric, value, unit, queries, sf}
    # parseable, and the heavy queries are the ones round-over-round
    # tracking cares about; "omitted" records how many were cut
    for digits in (2, 1):
        if len(line) <= _MAX_FINAL_LINE:
            break
        out["queries"] = {n: round(s, digits) for n, s in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    # Rotate which queries lose final-line detail. HEADLINE (197 after
    # round 9) has outgrown what one 1900-byte line holds (~66-70
    # entries), so even a 3-round union sits at the knife edge
    # (3 x 66 = 198 — measured overflowing by 2 the round HEADLINE hit
    # 197); the rotation is now FOUR-deep: drop names covered by the
    # newest parsed record first, then the one before, then the one
    # before that, and PROTECT names absent from all three. Steady
    # state: every name lands in the parsed history at least once per
    # ~4 rounds (capacity ~4 x 66 = 264 names), and the warn line below
    # stays empty while capacity holds.
    #
    # Within a priority class the drop ORDER is a deterministic hash of
    # (round, name) — NOT the current run's timings (optimization r14;
    # VERDICT r13 item 1 under "What's wrong"): the driver benches the
    # SAME tree twice per round (32-core and low-core) to measure
    # scaling, and a timing tie-break made those two runs publish
    # near-disjoint detail sets, so the driver's scaling.per_query came
    # back empty. Two same-round runs now emit the same drop order (the
    # retained sets differ by at most the line-width margin), while the
    # hash still varies round over round so multi-round coverage keeps
    # rotating.
    prevs = _prev_benches(3)
    prev_detail = set(prevs[0].get("queries", {})) if prevs else set()
    prev2_detail = (
        set(prevs[1].get("queries", {})) if len(prevs) > 1 else set()
    )
    prev3_detail = (
        set(prevs[2].get("queries", {})) if len(prevs) > 2 else set()
    )
    rnd = _current_round()
    omitted = 0
    while len(line) > _MAX_FINAL_LINE and out["queries"]:
        drop = min(
            out["queries"],
            key=lambda n: _drop_priority(
                n, rnd, prev_detail, prev2_detail, prev3_detail
            ),
        )
        del out["queries"][drop]
        omitted += 1
        out["omitted"] = omitted
        line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= _MAX_FINAL_LINE, (
        f"final bench line {len(line)}B > {_MAX_FINAL_LINE}B — would be "
        "truncated by the driver's tail capture; trim HEADLINE"
    )
    # self-check (r7 VERDICT item 4, retuned for the 4-deep rotation):
    # a HEADLINE name absent from the last THREE parsed records is in
    # the protected class and must be in this line; if it still is
    # not, it's about to miss a fourth consecutive record — the
    # rotation is out of capacity, so warn loudly on an earlier line.
    gone_four = sorted(
        n
        for n in timings
        if n not in out["queries"]
        and n not in prev_detail
        and n not in prev2_detail
        and n not in prev3_detail
    )
    if gone_four:
        print(
            json.dumps(
                {"warn_missing_four_parsed_records": gone_four},
                separators=(",", ":"),
            )
        )
    print(line)


def _drop_priority(
    name: str,
    rnd: int,
    prev_detail: set,
    prev2_detail: set,
    prev3_detail: set,
) -> tuple:
    """Sort key for dropping per-query detail from the final line:
    class first (names already covered by the newest parsed record go
    first, protected names last), then a deterministic md5 of
    (round, name) so any two runs of the same round — the driver's
    32-core and low-core scaling pair — drop in the SAME order. Run
    timings must never enter this key (see the rotation comment in
    main)."""
    import hashlib

    cls = (
        0
        if name in prev_detail
        else (1 if name in prev2_detail else (2 if name in prev3_detail else 3))
    )
    h = hashlib.md5(f"{rnd}:{name}".encode()).hexdigest()
    return (cls, h, name)


def _current_round() -> int:
    """The round this run belongs to: newest committed BENCH_r{N} + 1.
    Both same-round bench invocations (c32 and c8) see the same
    committed records, so they agree on this number."""
    here = Path(__file__).resolve().parent
    newest = 0
    for p in here.glob("BENCH_r*.json"):
        rnd = _bench_file_round(p)
        if rnd is not None:
            newest = max(newest, rnd)
    return newest + 1


def _bench_file_round(p: Path) -> int | None:
    """Round number from a BENCH_r{N}[.suffix].json filename. A plain
    digit-scrape misparses the driver's low-core sibling record
    (BENCH_r13_c8 → "138"), which both inflated the round ordering and
    let the c8 detail set masquerade as its own rotation generation."""
    import re

    m = re.match(r"BENCH_r(\d+)", p.stem)
    return int(m.group(1)) if m else None


def _latest_prev_bench() -> dict | None:
    """Newest parseable BENCH_r{N}.json next to this script, if any."""
    recs = _prev_benches(1)
    return recs[0] if recs else None


def _prev_benches(n: int) -> list[dict]:
    """The ``n`` newest parseable BENCH_r{N}.json records, newest
    first (each reduced to a dict with a ``queries`` map). One record
    per ROUND: when a round has both the main and a low-core sibling
    record (BENCH_r13.json + BENCH_r13_c8.json), the main record is the
    round's representative — the two are the same tree, and counting
    them as two rotation generations would halve coverage depth."""
    here = Path(__file__).resolve().parent
    cands: list[tuple[int, int, Path]] = []
    for p in here.glob("BENCH_r*.json"):
        rnd = _bench_file_round(p)
        if rnd is not None:
            is_main = 1 if p.stem == f"BENCH_r{rnd:02d}" else 0
            cands.append((rnd, is_main, p))
    out: list[dict] = []
    seen_rounds: set[int] = set()
    for rnd, _, p in sorted(cands, reverse=True):
        if rnd in seen_rounds:
            continue
        rec = _parse_bench_file(p)
        if rec is not None:
            out.append(rec)
            seen_rounds.add(rnd)
        if len(out) == n:
            break
    return out


def _parse_bench_file(path: Path) -> dict | None:
    try:
        rec = json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return None
    if isinstance(rec, dict) and "queries" in rec:
        return rec
    # driver wrapper: prefer the driver-parsed block when present
    if isinstance(rec, dict) and isinstance(rec.get("parsed"), dict):
        if "queries" in rec["parsed"]:
            return rec["parsed"]
    # else our JSON line is the last parseable line of "tail"
    if isinstance(rec, dict) and isinstance(rec.get("tail"), str):
        for line in reversed(rec["tail"].splitlines()):
            line = line.strip()
            if line.startswith("{"):
                try:
                    inner = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if isinstance(inner, dict) and "queries" in inner:
                    return inner
        # salvage a head-truncated tail (BENCH_r04: the 2000-byte
        # capture cut the line's start, but the flat `"queries": {...}`
        # object survives intact mid-stream)
        import re

        m = re.search(r'eries": (\{[^{}]*\})', rec["tail"])
        if m:
            try:
                q = json.loads(m.group(1))
            except json.JSONDecodeError:
                return None
            if isinstance(q, dict) and q:
                return {"queries": q}
    return None


if __name__ == "__main__":
    main()
