"""Batch-13 behavioral tests: dedup eval harness, SCD2 intervals,
exact percentiles, rolling window (sf0.001)."""

from __future__ import annotations

from collections import defaultdict

from project_final_parquet_spark.operators.dedup import dedup_eval_recall
from project_final_parquet_spark.operators.events_analytics import (
    events_percentiles_exact,
    events_rolling_1h,
)
from project_final_parquet_spark.operators.pipeline import scd2_build


def test_dedup_eval_metric_consistency(spark, sf_dir):
    (r,) = dedup_eval_recall(spark, sf_dir).collect()
    assert r.n_cand_true <= r.n_cand
    assert r.n_cand_true <= r.n_true or r.n_true == 0
    if r.n_true > 0:
        assert 0 <= r.recall_x1000 <= 1000
    if r.n_cand > 0:
        assert 0 <= r.cand_precision_x1000 <= 1000


def test_scd2_intervals_partition_time(spark, sf_dir):
    """Per user: versions tile time — each valid_to equals the next
    valid_from, intervals never overlap, exactly one open (current)
    version."""
    rows = scd2_build(spark, sf_dir).collect()
    assert rows
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for user, vs in by_user.items():
        vs.sort(key=lambda r: (r.valid_from_us, r.version_event_id))
        opens = [r for r in vs if r.is_current]
        assert len(opens) == 1 and vs[-1].is_current
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.valid_to_us == nxt.valid_from_us
            assert prev.valid_from_us <= prev.valid_to_us


def test_percentiles_ordered(spark, sf_dir):
    rows = events_percentiles_exact(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n > 0
        assert r.p50 <= r.p95 <= r.p99


def test_rolling_window_counts(spark, sf_dir):
    rows = events_rolling_1h(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_1h >= 1  # frame always includes the current row
        assert r.user_id < 5


def test_cdc_tombstone_partitions_keys(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline import (
        cdc_tombstone_merge,
    )

    (r,) = cdc_tombstone_merge(spark, sf_dir).collect()
    assert r.n_keys == r.n_live + r.n_deleted
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_keys == n_users


def test_asof_nearest_prefers_backward_on_ties(spark, sf_dir):
    """Nearest-click delta magnitudes must be <= both directional
    alternatives, and backward (negative) wins exact ties."""
    from project_final_parquet_spark.operators.events_analytics import (
        events_asof_nearest,
    )

    rows = events_asof_nearest(spark, sf_dir).collect()
    assert rows
    # at least some purchases have a click on both sides at sf0.001
    signs = {r.nearest_click_delta_us > 0 for r in rows
             if r.nearest_click_delta_us is not None}
    assert signs  # non-degenerate


def test_containment_bounds(spark, sf_dir):
    from project_final_parquet_spark.operators.dedup import dedup_containment

    rows = dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r.containment_ab <= 1.0
        assert 0.0 <= r.containment_ba <= 1.0
        assert max(r.containment_ab, r.containment_ba) >= 0.5


def test_cluster_purity_bounds(spark, sf_dir):
    from project_final_parquet_spark.operators.ml_kmeans import (
        ml_cluster_purity,
    )

    rows = ml_cluster_purity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.majority_count <= r.n_points
        assert 0 < r.purity_x1000 <= 1000
        # majority share is at least 1/k of the cluster
        assert r.purity_x1000 * r.n_points >= 1000 * r.majority_count - r.n_points * 1000 // r.n_points


def test_twap_between_min_max(spark, sf_dir):
    from pyspark.sql import functions as F
    from project_final_parquet_spark.operators.events_analytics import (
        events_time_weighted_avg,
    )

    rows = {r.user_id: r.twap for r in
            events_time_weighted_avg(spark, sf_dir).collect()}
    bounds = {
        r.user_id: (r.mn, r.mx)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for uid, twap in rows.items():
        mn, mx = bounds[uid]
        assert mn - 1e-6 <= twap <= mx + 1e-6


def test_winsorized_clips_bounded_fraction(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_winsorized_stats,
    )

    for r in events_winsorized_stats(spark, sf_dir).collect():
        # at most ~10% of rows clipped (5% each tail) + rank rounding
        assert r.n_clipped <= r.n * 0.12 + 2


def test_ivm_merge_equals_full_recompute(spark, sf_dir):
    from pyspark.sql import functions as F
    from project_final_parquet_spark.operators.pipeline import ivm_merge_agg

    merged = {tuple(r) for r in ivm_merge_agg(spark, sf_dir).collect()}
    full = {
        tuple(r)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert merged == full


def test_ols_slope_positive_price_vs_qty(spark, sf_dir):
    from project_final_parquet_spark.operators.relational import (
        q64_groupwise_ols,
    )

    from pyspark.sql import functions as F

    rows = q64_groupwise_ols(spark, sf_dir).collect()
    assert rows
    means = {
        r.l_returnflag: (r.mq, r.mp)
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.avg("l_quantity").alias("mq"),
            F.avg("l_extendedprice").alias("mp"),
        )
        .collect()
    }
    for r in rows:
        assert r.n_rows > 2
        # the OLS line passes through the group's mean point
        mq, mp = means[r.l_returnflag]
        assert abs(r.intercept + r.slope * mq - mp) < 1e-6 * abs(mp)


def test_quantile_normalize_uniform_range(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_quantile_normalize,
    )

    rows = events_quantile_normalize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.qnorm < 1.0


def test_longest_streak_sane(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_longest_streak,
    )

    rows = events_longest_streak(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.longest_streak_days >= 1


def test_e2e_pipeline_manifest_consistent(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline import (
        pipeline_e2e_pretrain,
    )

    rows = pipeline_e2e_pretrain(spark, sf_dir).collect()
    assert rows
    splits = {r.split for r in rows}
    assert "train" in splits
    total = sum(r.n_docs for r in rows)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # dedup + quality filter can only shrink the corpus
    assert 0 < total <= n_docs
    # train dominates the ~90/5/5 split
    train = sum(r.n_docs for r in rows if r.split == "train")
    assert train >= total * 0.7


def test_abtest_rates_consistent(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_abtest_lift,
    )

    (r,) = events_abtest_lift(spark, sf_dir).collect()
    assert r.n_a + r.n_b > 0
    assert 0 <= r.conv_a <= r.n_a and 0 <= r.conv_b <= r.n_b
    assert abs(r.rate_a - r.conv_a / r.n_a) < 1e-12
