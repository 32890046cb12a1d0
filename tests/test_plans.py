"""Plan-shape assertions: the optimizations SCALE.md claims must be
visible in the physical plans (pushdown, pruning, broadcast, top-k),
via the plans.audit utilities."""

from __future__ import annotations

import os

import duckdb
import pytest

from project_final_parquet_spark.plans import plan_facts
from project_final_parquet_spark.registry import all_oracles, all_queries

BIG_SF = "/root/testdata/sf0.01"


def facts_of(spark, name: str):
    return plan_facts(all_queries()[name](spark, BIG_SF))


def test_filter_pushdown_reaches_scan(spark):
    f = facts_of(spark, "q2_filter_project")
    joined = ";".join(f.pushed_filters)
    assert "GreaterThanOrEqual(l_quantity,45.0)" in joined
    assert "EqualTo(l_returnflag,R)" in joined


def test_column_pruning_reaches_scan(spark):
    f = facts_of(spark, "q2_filter_project")
    assert len(f.read_schemas) == 1
    schema = f.read_schemas[0]
    assert schema.startswith("struct<l_orderkey:bigint,l_linenumber:int,")
    assert "l_shipdate" not in schema


def test_q1_prunes_and_pushes(spark):
    f = facts_of(spark, "q1_pricing_summary")
    assert any("LessThanOrEqual(l_shipdate" in x for x in f.pushed_filters)
    assert all("l_orderkey" not in s for s in f.read_schemas)


def test_star_join_broadcasts_dims(spark):
    f = facts_of(spark, "q3_star_join_revenue")
    assert f.n_broadcast_joins >= 3  # customer, nation, region
    assert f.n_nested_loop_joins == 0


def test_topk_plans_as_take_ordered(spark):
    assert facts_of(spark, "q4_top_revenue_orders").has_take_ordered


def test_range_join_is_equi_plus_filter(spark):
    f = facts_of(spark, "q22_range_join")
    assert f.n_broadcast_joins >= 1
    assert f.n_nested_loop_joins == 0  # range pred must not demote the join


def test_partial_aggregation_before_shuffle(spark):
    f = facts_of(spark, "q1_pricing_summary")
    assert f.n_hash_aggregates >= 2  # partial + final
    assert f.n_exchanges >= 1


def test_partitioned_read_prunes(spark, sf_dir):
    from pyspark.sql import functions as F

    from project_final_parquet_spark.operators.sources import (
        partitioned_orders_path,
    )
    from project_final_parquet_spark.plans import plan_facts as pf

    path = partitioned_orders_path(spark, "/root/testdata/sf0.01")
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    f = pf(df)
    assert any("o_orderstatus" in x for x in f.partition_filters)


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set must join as a broadcast (semi) join —
    a shuffle of the full exploded-gram corpus here would be the 100 TB
    bottleneck."""
    f = facts_of(spark, "text_decontaminate")
    assert f.n_broadcast_joins >= 1
    assert f.n_nested_loop_joins == 0


def test_uniform_sample_is_take_ordered(spark):
    """Hash-ranked k-row sampling must plan as TakeOrderedAndProject,
    not a global sort."""
    f = facts_of(spark, "sample_uniform_topk")
    assert f.has_take_ordered


def test_stratified_sample_is_scan_side_filter(spark):
    """Hash sampling is a predicate, not a repartition: no joins, no
    aggregates — the only exchange allowed is the final presentation
    sort."""
    f = facts_of(spark, "sample_stratified_hash")
    assert f.n_joins == 0
    assert f.n_hash_aggregates == 0
    assert f.n_exchanges <= 1


def test_quantized_topk_broadcasts_query(spark):
    """int8-quantized scoring: the 1-row query vector rides a broadcast
    cross join (BroadcastNestedLoopJoin Cross with a 1-row build side IS
    the map-side plan here — not a demotion), top-k short-circuits via
    TakeOrderedAndProject, and the corpus is never shuffled."""
    f = facts_of(spark, "sim_scalar_quant")
    assert f.has_take_ordered
    assert f.n_exchanges == 0  # no shuffle of the big side
    assert f.n_sortmerge_joins == 0


def test_repetition_filter_partial_aggs(spark):
    """Both counting aggregations must partial-aggregate map-side
    before their doc_id shuffles."""
    f = facts_of(spark, "text_repetition_filter")
    assert f.n_hash_aggregates >= 4  # 2 aggs x (partial + final)
    assert f.n_nested_loop_joins == 0


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering: with a selective dim-side filter,
    Spark injects a bloom_filter_agg on the creation side and a
    might-contain probe on the fact side — at 100 TB this prunes fact
    rows BEFORE the join shuffle. Size thresholds are lowered to make
    the optimization fire at test scale (at real scale the defaults —
    10 GB application side — gate it to where it pays)."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.plans import physical_plan
    from project_final_parquet_spark.tables import load

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load(spark, BIG_SF, "lineitem")
        o = load(spark, BIG_SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        p = physical_plan(j)
        assert "bloom_filter_agg" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- late round-2 operators -------------------------------------------------


def test_bm25_broadcasts_stats(spark):
    """df + global stats must broadcast; the only SMJ-eligible shuffle
    joins are on the big (doc) side."""
    f = facts_of(spark, "text_bm25_rank")
    assert f.n_broadcast_joins >= 2  # df_t and the 1-row glob stats
    assert f.has_take_ordered


def test_stream_static_enrich_broadcasts_dim(spark):
    f = facts_of(spark, "stream_static_enrich")
    assert f.n_broadcast_joins >= 1  # user→nation dim
    assert f.n_nested_loop_joins == 0


def test_pq_adc_no_vector_shuffle(spark):
    """PQ: codebook and query are 1-row/8-row broadcast sides; the big
    embeddings table must not shuffle at all before TakeOrdered (the
    two crossJoins plan as BroadcastNestedLoopJoin over 1-row frames —
    the correct plan for scalar broadcast, see registry notes)."""
    f = facts_of(spark, "sim_pq_adc")
    assert f.has_take_ordered
    assert f.n_sortmerge_joins == 0
    assert f.n_shuffled_hash_joins == 0


def test_inverted_index_single_token_shuffle(spark):
    """No joins anywhere; the explode+agg pipeline shuffles on token
    (twice: countDistinct expansion) plus the output sort — collect_set
    aggs plan as ObjectHashAggregate, so assert via exchanges/joins."""
    f = facts_of(spark, "text_inverted_index")
    assert f.n_exchanges <= 3
    assert (
        f.n_broadcast_joins == f.n_sortmerge_joins
        == f.n_shuffled_hash_joins == f.n_nested_loop_joins == 0
    )


def test_zorder_stats_single_shuffle(spark):
    """Morton coding is map-side; only the bucket agg may shuffle."""
    f = facts_of(spark, "layout_zorder_stats")
    assert f.n_exchanges <= 2  # bucket agg + output ordering
    assert f.n_broadcast_joins == 0 and f.n_sortmerge_joins == 0


def test_histogram_broadcasts_minmax(spark):
    f = facts_of(spark, "events_value_histogram")
    assert f.n_sortmerge_joins == 0  # stats row joins via broadcast NLJ
    assert f.n_hash_aggregates >= 2


def test_q65_no_nested_loop_both_aggs_partial(spark):
    """The decorrelated 30%-share compare stays an equi-join on
    partkey; both aggregation branches keep partial+final stages."""
    f = facts_of(spark, "q65_excess_share_suppliers")
    assert f.n_nested_loop_joins == 0
    assert f.n_hash_aggregates >= 4


def test_q66_exists_pair_stays_equi(spark):
    """EXISTS / NOT EXISTS decorrelate to semi/anti equi-joins on
    l_orderkey; the suppkey<> residual must not demote them to
    nested-loop."""
    f = facts_of(spark, "q66_waiting_suppliers")
    assert f.n_nested_loop_joins == 0
    assert f.n_joins >= 4  # orders + semi + anti + supplier dim


def test_q67_scalar_is_only_nlj(spark):
    """The 1-row scalar-avg broadcast is the single permitted
    BroadcastNestedLoopJoin; the NOT EXISTS must be a real anti
    equi-join, not a second NLJ."""
    f = facts_of(spark, "q67_dormant_rich_accounts")
    assert f.n_nested_loop_joins <= 1
    assert f.n_joins >= 2


def test_sessionize_single_data_shuffle(spark):
    """lag + running sum + both roll-ups all share the user_id
    partitioning: one hash exchange, plus the final presentation
    sort."""
    f = facts_of(spark, "events_sessionize")
    assert f.n_exchanges <= 2
    assert f.n_joins == 0


def test_rolling_distinct_day_grain_only(spark):
    """The distinct-user merge happens on day-grain rows (bounded
    cardinality): no joins, and the single-partition window sits
    above the day aggregation, never over raw events."""
    f = facts_of(spark, "events_rolling_distinct")
    assert f.n_joins == 0
    assert f.n_exchanges <= 3


# --- round-4 operators ------------------------------------------------------


def test_temperature_mix_broadcasts_rates(spark):
    """The 5-row rate table must come back to the corpus as a broadcast
    join; the only NLJ is the 1-row weight-total cross join."""
    f = facts_of(spark, "sample_temperature_mix")
    assert f.n_broadcast_joins >= 1
    assert f.n_sortmerge_joins == 0
    assert f.n_nested_loop_joins <= 1


def test_funnel_windowed_stays_equi(spark):
    """Both stage joins are user_id equi-joins; the window bound is a
    residual predicate, never a nested-loop demotion."""
    f = facts_of(spark, "events_funnel_windowed")
    assert f.n_nested_loop_joins == 0
    assert f.n_hash_aggregates >= 6  # 3 stage aggs x (partial + final)


def test_merge_on_read_single_key_shuffle(spark):
    """base ∪ log unions shuffle-free; latest-wins is one key-partitioned
    window; the segment dim joins broadcast."""
    f = facts_of(spark, "cdc_merge_on_read")
    assert f.n_broadcast_joins >= 1
    assert f.n_nested_loop_joins == 0


def test_tfidf_prunes_tf_branch_at_scan(spark):
    """The doc subset filter must reach the parquet scan of the tf
    branch — df stays corpus-wide, tf must not."""
    f = facts_of(spark, "text_tfidf_topterms")
    assert any("LessThan(doc_id,30)" in x for x in f.pushed_filters)
    assert f.n_nested_loop_joins <= 1  # the 1-row N scalar only


def test_dim_stats_single_pass(spark):
    """posexplode + 64-key agg: no joins; exchanges are the 64-partial
    merge and the presentation sort."""
    f = facts_of(spark, "embeddings_dim_stats")
    assert f.n_joins == 0
    assert f.n_exchanges <= 2
    assert f.n_hash_aggregates >= 2  # partial + final


def test_user_path_topk_shape(spark):
    """One user_id window shuffle, tiny path agg, top-k short-circuit."""
    f = facts_of(spark, "events_user_path_topk")
    assert f.n_joins == 0
    assert f.has_take_ordered


def test_freshness_never_shuffles_rows(spark):
    """Both sides are map-side-combined aggregates; the watermark is a
    broadcast 1-row frame."""
    f = facts_of(spark, "dq_freshness_by_type")
    assert f.n_sortmerge_joins == 0
    assert f.n_shuffled_hash_joins == 0
    assert f.n_hash_aggregates >= 4


def test_cooccurrence_vocab_broadcasts(spark):
    f = facts_of(spark, "text_cooccurrence_lift")
    assert f.n_broadcast_joins >= 1
    assert f.has_take_ordered


def test_real_decode_no_shuffle(spark):
    """Two mapInPandas stages are pipeline-parallel: zero joins, and the
    only exchange permitted is the presentation sort."""
    f = facts_of(spark, "mm_real_decode_stats")
    assert f.n_joins == 0
    assert f.n_exchanges <= 1


def test_custom_state_two_exchanges(spark):
    """The vectorized fold keeps exactly the user repartition plus the
    presentation sort — no per-group plan nodes."""
    f = facts_of(spark, "stream_custom_state")
    assert f.n_joins == 0
    assert f.n_exchanges <= 2


def test_knn_graph_never_shuffles_corpus(spark):
    """Sources broadcast; the corpus is scored map-side — the only
    exchanges are the per-src top-k window and presentation sort."""
    f = facts_of(spark, "sim_knn_graph")
    assert f.n_sortmerge_joins == 0
    assert f.n_shuffled_hash_joins == 0
    assert f.n_exchanges <= 2


def test_compaction_plan_is_metadata_sized(spark):
    """The window cumsum runs over the day-file manifest (post-agg),
    never the raw events: no joins, exchanges bounded."""
    f = facts_of(spark, "layout_compaction_plan")
    assert f.n_joins == 0
    assert f.n_exchanges <= 4  # day agg + singleton window + bin agg + sort


def test_quality_gate_single_scan(spark):
    """Four signals in one pass: no joins, one partial+final agg."""
    f = facts_of(spark, "text_quality_gate")
    assert f.n_joins == 0
    assert f.n_hash_aggregates >= 2
    assert f.n_exchanges <= 2


def test_eigenvector_gram_is_the_only_data_scale_work(spark):
    """The Gram self-join + 4096-key agg touch the corpus; every
    iteration join is over 64-row frames (broadcast, never SMJ over
    data rows)."""
    f = facts_of(spark, "embeddings_top_eigenvector")
    assert f.n_hash_aggregates >= 2  # gram partial+final at minimum
    assert f.n_nested_loop_joins <= 3  # the 1-row nrm/num/den scalars


def test_chunk_dedup_single_hash_shuffle(spark):
    """Chunking is map-side; the only data shuffle is the chunk-hash
    aggregate (countDistinct expands it), then top-k short-circuits."""
    f = facts_of(spark, "text_chunk_dedup")
    assert f.n_joins == 0
    assert f.has_take_ordered


def test_backlog_day_grain_cumsum(spark):
    """Both aggregations reduce to day-grain before the full-outer
    merge; the cumsum window runs on calendar-bounded rows."""
    f = facts_of(spark, "orders_backlog_timeseries")
    assert f.n_nested_loop_joins == 0
    assert f.n_hash_aggregates >= 4  # opened + closed, partial+final


def test_ivf_pq_no_vector_shuffle(spark):
    """The composed IVF-PQ stack inherits both components' guarantees:
    centroids/codebook/query broadcast, cell membership via broadcast
    join, ADC map-side, top-k short-circuit — the corpus vectors are
    never shuffled."""
    f = facts_of(spark, "sim_ivf_pq")
    assert f.has_take_ordered
    assert f.n_sortmerge_joins == 0
    assert f.n_shuffled_hash_joins == 0


def test_markov_stationary_iterates_on_tiny_state(spark):
    """The data-scale work (lead window + pair count) is checkpointed;
    the returned plan is the final 5-row normalization."""
    f = facts_of(spark, "events_markov_stationary")
    assert f.n_exchanges <= 3
    assert f.n_sortmerge_joins == 0


# --- round-5 operators ------------------------------------------------------


def test_rolling_distinct_hll_day_grain_only(spark):
    """The sketch twin keeps the exact form's shape: one shuffle to day
    grain (partial hll_sketch_agg map-side), window over day rows only;
    no joins anywhere — the estimate and the exact count ride the same
    aggregation."""
    f = facts_of(spark, "events_rolling_distinct_hll")
    assert f.n_joins == 0
    assert f.n_exchanges <= 3


def test_avro_connector_aggregates_with_partial_agg(spark):
    """The Avro scan feeds a normal partial+final hash aggregate — the
    connector slots into Catalyst like any source (no degenerate
    single-partition plan above it)."""
    f = facts_of(spark, "src_avro_datasource")
    assert f.n_hash_aggregates >= 2
    assert f.n_joins == 0


def test_approx_aggs_distinct_never_expands_percentiles(spark):
    """q42's exact distinct count runs as its own two-stage aggregate
    (distinct -> count) joined back by broadcast: a countDistinct fused
    into the sketch aggregate compiles to an Expand that doubles the
    rows feeding the exact-percentile buffers (measured 3.5x at sf0.1)."""
    from project_final_parquet_spark.plans.audit import physical_plan

    p = physical_plan(all_queries()["q42_approx_aggs"](spark, BIG_SF))
    assert "Expand" not in p
    f = facts_of(spark, "q42_approx_aggs")
    assert f.n_broadcast_joins == 1


def test_pair_cosine_norms_hoisted_below_join(spark):
    """sim_pairs_label_block computes each side's norm once per ROW
    (projected as na/nb before the join), never per PAIR — the plan must
    carry the hoisted norm columns into the join."""
    import re

    from project_final_parquet_spark.plans.audit import physical_plan

    p = physical_plan(all_queries()["sim_pairs_label_block"](spark, BIG_SF))
    assert re.search(r"\bna#\d+", p), "hoisted left-side norm column missing"
    assert re.search(r"\bnb#\d+", p), "hoisted right-side norm column missing"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_pair_cosine_sorts_below_the_join(spark, sf, final_plan):
    """sim_pairs_label_block range-partitions its probe side before the
    broadcast join, so its (vec_a, vec_b) order needs no exchange above
    the join: the one range exchange sits below BroadcastHashJoin, and
    no sampling job runs the scored join a second time."""
    sf_dir = os.path.join(os.path.dirname(BIG_SF), sf)
    df = all_queries()["sim_pairs_label_block"](spark, sf_dir)
    got = [tuple(r) for r in df.collect()]
    plan = final_plan(df)
    assert plan.count("rangepartitioning") == 1, plan
    assert plan.index("BroadcastHashJoin") < plan.index("rangepartitioning"), plan

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    assert got == con.sql(all_oracles()["sim_pairs_label_block"]).fetchall()


def test_dynamic_partition_pruning(spark):
    """A join from the partitioned orders fact to a selective parquet
    dim on the partition column injects a runtime pruning subquery:
    PartitionFilters carries dynamicpruningexpression, so at 100 TB the
    fact directories that no dim row references are never even listed.
    Gotcha encoded here: the dim-side predicate must be a COMPARISON
    (kind = 'terminal'); a bare boolean attribute filter fails Spark's
    isLikelySelective test and silently disables DPP."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.operators.sources import (
        partitioned_orders_path,
        status_dim_path,
    )
    from project_final_parquet_spark.plans.audit import physical_plan

    fact = spark.read.parquet(partitioned_orders_path(spark, BIG_SF))
    dim = spark.read.parquet(status_dim_path(spark, BIG_SF)).filter(
        F.col("kind") == "terminal"
    )
    j = (
        fact.join(dim, fact.o_orderstatus == dim.status)
        .groupBy("o_orderpriority")
        .count()
    )
    p = physical_plan(j)
    assert "dynamicpruning" in p.lower()
    # and the pruned rows are the right ones
    assert j.count() > 0


def test_triangle_count_reuses_edge_exchange(spark):
    """The edge list feeds degree, wedge, and three join legs; AQE must
    serve the repeated pair-aggregation exchanges from reuse instead of
    recomputing them five times — visible only in the FINAL adaptive
    plan, so execute first, then audit. The only nested-loop joins
    allowed are the final singleton cross-joins."""
    from project_final_parquet_spark.plans import physical_plan

    df = all_queries()["graph_triangle_count"](spark, BIG_SF)
    df.collect()
    p = physical_plan(df)
    assert "ReusedExchange" in p or "ReusedQueryStage" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_exact_substring_no_pairwise_compare(spark):
    """Span dedup must stay linear: windows from one Generate
    (explode), gram DF and the mark join on the gram key — never a
    doc-pair nested loop and never a Python UDF."""
    f = facts_of(spark, "dedup_exact_substring")
    assert f.n_nested_loop_joins == 0
    from project_final_parquet_spark.plans import physical_plan

    p = physical_plan(all_queries()["dedup_exact_substring"](spark, BIG_SF))
    assert "Generate" in p  # map-side window explode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_link_prediction_checkpointed_graph_and_topk(spark):
    """After the single edge-list materialization, the scoring plan
    must read the checkpointed RDD (no lineitem re-scan), broadcast
    the tiny joins, and plan the top-20 as TakeOrderedAndProject."""
    from project_final_parquet_spark.plans import physical_plan

    df = all_queries()["graph_jaccard_link_prediction"](spark, BIG_SF)
    f = plan_facts(df)
    assert f.has_take_ordered
    assert f.n_nested_loop_joins == 0
    p = physical_plan(df)
    # downstream of the checkpoint nothing re-reads parquet
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p


def _final_plan_tree(df) -> str:
    """Executed adaptive plan, tree section only (the formatted details
    section repeats every node name, which would double counts)."""
    from project_final_parquet_spark.plans import physical_plan

    df.collect()
    p = physical_plan(df)
    assert "isFinalPlan=true" in p
    return p.split("+- == Initial Plan ==")[0]


def test_anomaly_mad_scans_events_once(spark):
    """The daily-total exchange feeds four consumers (both medians,
    the absdev join, the flag join); AQE must serve them from reuse so
    raw events are scanned exactly once — the 'no second pass over raw
    events' claim in the docstring, made checkable."""
    df = all_queries()["events_anomaly_mad"](spark, BIG_SF)
    tree = _final_plan_tree(df)
    n_scans = tree.count("Scan parquet")
    assert n_scans == 1, f"events scanned {n_scans}x"
    assert tree.count("ReusedExchange") + tree.count("ReusedQueryStage") >= 3
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_k_anonymity_single_scan_broadcast_risk(spark):
    """One customer scan feeding the cell aggregate; the global risk
    totals aggregate the REUSED cell exchange and broadcast back —
    never a second pass over customer."""
    df = all_queries()["dq_k_anonymity"](spark, BIG_SF)
    tree = _final_plan_tree(df)
    assert tree.count("Scan parquet") == 1
    assert tree.count("ReusedExchange") + tree.count("ReusedQueryStage") >= 1
    assert "BroadcastNestedLoopJoin" in tree  # the singleton risk row


def test_vad_is_single_python_stage_no_shuffle_before_sort(spark):
    """The VAD chain (generate → parse → frame math) must be ONE
    Arrow-batched Python stage over a pruned single-column scan; the
    only exchange is the final global sort."""
    from project_final_parquet_spark.plans import physical_plan

    df = all_queries()["mm_audio_vad_segments"](spark, BIG_SF)
    p = physical_plan(df)
    f = plan_facts(df)
    assert "MapInPandas" in p
    assert f.n_exchanges == 1  # the orderBy range exchange only
    assert f.n_sortmerge_joins == 0 and f.n_broadcast_joins == 0
    assert "struct<doc_id:bigint>" in ";".join(f.read_schemas)


def test_pagerank_round_plan_is_shuffle_stable(spark):
    """Pin the PageRank per-round plan shape round-over-round: the
    round-2 plan (built over round-1's CHECKPOINTED rank frame) must
    have exactly the same exchange/join structure as round 1 — a
    Catalyst change that stopped the checkpoint from truncating lineage
    would show up here as nested or doubled exchanges (graph.py's
    docstring claim, made checkable)."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.ckpt import checkpoint, release
    from project_final_parquet_spark.operators.graph import (
        _SCALE,
        _SUPP_OFFSET,
    )
    from project_final_parquet_spark.tables import load

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("v"),
        )
        .distinct()
    )
    edges = checkpoint(
        pair.union(pair.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    def round_plan(ranks):
        contrib = edges.join(ranks, "u").join(deg, "u").select(
            F.col("v").alias("dst"),
            F.floor(
                F.col("rank")
                / F.col("deg").cast("double")
                * F.lit(float(_SCALE))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cq"),
        )
        sums = contrib.groupBy("dst").agg(F.sum("cq").alias("s"))
        return deg.join(sums, deg["u"] == sums["dst"], "left").select(
            "u",
            (
                F.lit(0.15)
                + F.lit(0.85)
                * (
                    F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    / F.lit(float(_SCALE))
                )
            ).alias("rank"),
        )

    r0 = deg.select("u", F.lit(1.0).alias("rank"))
    p1 = round_plan(r0)
    f1 = plan_facts(p1)
    r1 = checkpoint(p1)
    p2 = round_plan(r1)
    f2 = plan_facts(p2)
    release(edges, r1)
    # same structure, pinned absolute shape: 5 exchanges, 3 SMJ, no
    # nested-loop join, no corpus re-scan (checkpointed edge RDD only)
    assert (f2.n_exchanges, f2.n_sortmerge_joins) == (
        f1.n_exchanges,
        f1.n_sortmerge_joins,
    )
    assert f2.n_exchanges == 5 and f2.n_sortmerge_joins == 3
    assert f2.n_nested_loop_joins == 0
    from project_final_parquet_spark.plans import physical_plan as _pp
    assert "Scan parquet" not in _pp(p2)


# --- round-11 additions -----------------------------------------------------


def test_ks_source_drift_pushes_source_filter(spark):
    """The two-source IN filter must reach the parquet scan (the
    corpus is read once, pruned to the compared sources), and the
    argmax is TakeOrdered(1), never a global sort."""
    f = facts_of(spark, "dq_ks_source_drift")
    assert any("source" in x and "In(" in x for x in f.pushed_filters) or any(
        "In(source" in x for x in f.pushed_filters
    )
    assert f.has_take_ordered
    assert all("text" not in s for s in f.read_schemas)  # pruned


def test_ndcg_broadcasts_query_frame(spark):
    """The 20-query eval frame must broadcast against the corpus; no
    sort-merge join anywhere in the scoring path."""
    f = facts_of(spark, "ml_ndcg_at_k")
    assert f.n_nested_loop_joins >= 1  # broadcast cross join (eval frame)
    assert f.n_sortmerge_joins == 0


def test_hits_joins_are_hash_not_nested(spark):
    """Both HITS iterations are hash joins against vertex-bounded
    score frames, and the top-20 is TakeOrdered."""
    f = facts_of(spark, "graph_hits_authorities")
    assert f.n_nested_loop_joins == 0
    assert f.has_take_ordered
    assert f.n_joins >= 3  # orders⋈lineitem + two iteration joins + a1


def test_bootstrap_ci_single_corpus_pass(spark):
    """The B-replicate expansion must aggregate map-side: exactly one
    exchange pair for the replicate rollup feeding the 20-row frame —
    no shuffle of the raw ×B expansion."""
    f = facts_of(spark, "events_value_bootstrap_ci")
    assert f.n_hash_aggregates >= 2  # partial + final on the B keys
    # the raw events scan reads only the two needed columns
    assert all(
        "props" not in s and "event_type" not in s for s in f.read_schemas
    )


def test_dup_ngram_prunes_to_text_columns(spark):
    """The 5-gram pass reads only (doc_id, text); lang/source/n_chars
    never leave the scan."""
    f = facts_of(spark, "text_dup_ngram_coverage")
    assert all("lang" not in s and "source" not in s for s in f.read_schemas)


def test_minhash_adaptive_band_join_is_hash(spark):
    """The band-key self-join must be a hash join (equi keys), not a
    nested loop, and verification joins stay hash too."""
    f = facts_of(spark, "dedup_minhash_adaptive_bands")
    assert f.n_nested_loop_joins == 0
    assert f.n_joins >= 3  # band self-join + two shingle-set joins


def test_winsorized_mean_prunes_and_aggregates(spark):
    """Only (event_id, value) reach the scan; bounds broadcast."""
    f = facts_of(spark, "events_winsorized_mean")
    assert all("event_type" not in s and "props" not in s for s in f.read_schemas)
    assert f.n_sortmerge_joins == 0
