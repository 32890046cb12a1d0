"""Batch-14 behavioral tests: source divergence, vocab coverage,
histogram, key rotation (sf0.001)."""

from __future__ import annotations

from project_final_parquet_spark.operators.encrypted import enc_key_rotation
from project_final_parquet_spark.operators.events_analytics import (
    events_value_histogram,
)
from project_final_parquet_spark.operators.text_stats import (
    text_source_divergence,
    text_vocab_coverage,
)


def test_source_divergence_nonnegative(spark, sf_dir):
    rows = text_source_divergence(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.chi_square >= 0.0
        assert r.n_tokens > 0


def test_vocab_coverage_monotone(spark, sf_dir):
    rows = text_vocab_coverage(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 20
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    assert all(0.0 < s <= 1.0 for s in shares)
    counts = [r.c for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_histogram_partitions_rows(spark, sf_dir):
    rows = events_value_histogram(spark, sf_dir).collect()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n for r in rows) == n_events
    for r in rows:
        assert 0 <= r.bin <= 19
        assert r.bin_lo < r.bin_hi


def test_key_rotation_roundtrip(spark, sf_dir):
    rows = enc_key_rotation(spark, sf_dir).collect()
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()


def test_bigram_counts_positive_and_wellformed(spark, sf_dir):
    from project_final_parquet_spark.operators.text_stats import (
        text_bigram_stats,
    )

    rows = text_bigram_stats(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 15
    for r in rows:
        assert r.n >= 1
        assert len(r.bigram.split(" ")) == 2


def test_rfm_segments_complete(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_user_rfm,
    )

    rows = events_user_rfm(spark, sf_dir).collect()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert len(rows) == n_users
    for r in rows:
        parts = [int(x) for x in r.segment.split("-")]
        assert len(parts) == 3 and all(1 <= p <= 5 for p in parts)
        assert r.recency_days >= 0


def test_active_users_stickiness_bounds(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_active_users,
    )

    rows = events_active_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.dau <= r.mau
        assert 0.0 < r.stickiness <= 1.0


def test_seasonality_covers_all_events(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_seasonality_profile,
    )

    rows = events_seasonality_profile(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n_events for r in rows) == n
    for r in rows:
        assert 0 <= r.hour_of_day <= 23 and 0 <= r.day_of_week <= 6


def test_matryoshka_scores_bounded(spark, sf_dir):
    from project_final_parquet_spark.operators.quantization import (
        sim_matryoshka_prefix,
    )

    rows = sim_matryoshka_prefix(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert -1.0 - 1e-9 <= r.prefix_cosine <= 1.0 + 1e-9
        assert -1.0 - 1e-9 <= r.full_cosine <= 1.0 + 1e-9


def test_autocomplete_topk_per_prefix(spark, sf_dir):
    from collections import defaultdict
    from project_final_parquet_spark.operators.text_index import (
        text_prefix_autocomplete,
    )

    rows = text_prefix_autocomplete(spark, sf_dir).collect()
    by_prefix = defaultdict(list)
    for r in rows:
        assert r.token.startswith(r.prefix[: len(r.token)]) or r.token.startswith(r.prefix)
        by_prefix[r.prefix].append(r.n)
    for counts in by_prefix.values():
        assert len(counts) <= 3
        assert counts == sorted(counts, reverse=True)


def test_pareto_monotone_to_one(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_pareto_concentration,
    )

    rows = events_pareto_concentration(spark, sf_dir).collect()
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    assert abs(shares[-1] - 1.0) < 1e-12
    # users are ranked most-active-first, so every decile's cumulative
    # share is at least proportional to its cumulative USER fraction —
    # which with few users can be below k/10 (ceil bucketing), so
    # compare against the running event count directly
    events = [r.cum_events for r in rows]
    assert events == sorted(events)
