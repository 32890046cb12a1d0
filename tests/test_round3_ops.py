"""Property tests for the round-3 operators: packing conservation,
curriculum contiguity, point-in-time non-leakage, EWMA bounds,
bootstrap calibration, and federated-format agreement."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.events_analytics import events_ewma
from project_final_parquet_spark.operators.llm_text import (
    _N_BOOT,
    bootstrap_token_stats,
    text_boilerplate_ngrams,
    text_bpe_merge_pairs,
)
from project_final_parquet_spark.operators.pipeline2 import (
    _PACK_L,
    curriculum_order,
    pack_sequences,
    scd2_point_in_time_join,
)
from project_final_parquet_spark.operators.profiling import (
    embeddings_norm_audit,
)
from project_final_parquet_spark.operators.relational import (
    q68_revenue_mom_change,
    q69_variant_shred,
)
from project_final_parquet_spark.operators.sources import src_federated_union
from project_final_parquet_spark.tables import load


def test_pack_sequences_conserves_tokens_and_is_contiguous(spark, sf_dir):
    rows = pack_sequences(spark, sf_dir).collect()
    total_tok = load(spark, sf_dir, "documents").select(
        F.sum(F.size(F.split("text", " ")))
    ).first()[0]
    # every token of every doc is started exactly once
    assert sum(r.tokens_started for r in rows) == total_tok
    # sequence ids are contiguous from 0 within each shard: a doc that
    # OVERFLOWS a sequence still starts in it, so no seq can be skipped
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.seq_in_shard)
    for seqs in by_shard.values():
        seqs.sort()
        assert seqs[0] == 0
        # gaps only if one doc is longer than a whole sequence (none
        # in this corpus: docs are far shorter than _PACK_L tokens)
        assert seqs == list(range(len(seqs)))
    assert all(r.n_docs >= 1 for r in rows)


def test_curriculum_order_is_dense_and_bucket_monotone(spark, sf_dir):
    rows = curriculum_order(spark, sf_dir).collect()
    idxs = [r.curriculum_idx for r in rows]
    assert idxs == list(range(len(idxs)))  # dense global prefix
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(buckets)  # easy buckets never after hard
    assert len({r.doc_id for r in rows}) == len(rows)


def test_scd2_pit_join_never_leaks_future_versions(spark, sf_dir):
    out = scd2_point_in_time_join(spark, sf_dir)
    rows = out.collect()
    # reconstruct the dimension and verify each match's interval
    ev = load(spark, sf_dir, "events").filter(
        (F.col("user_id") < 10) & (F.col("event_type") == "purchase")
    )
    versions = {
        r.event_id: r.ts_us for r in ev.select("event_id", "ts_us").collect()
    }
    for r in rows:
        assert versions[r.version_event_id] <= r.probe_ts_us
    # at most one version per probe (intervals partition time)
    probe_ids = [r.probe_event_id for r in rows]
    assert len(probe_ids) == len(set(probe_ids))


def test_events_ewma_stays_within_tap_bounds(spark, sf_dir):
    rows = events_ewma(spark, sf_dir).collect()
    # EWMA is a convex combination of the last <=8 values, so it must
    # lie within [min, max] of the user's running last-8 window
    from collections import defaultdict, deque

    hist: dict[int, deque] = defaultdict(lambda: deque(maxlen=8))
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    vals = {
        (r.user_id, r.event_id): r.value
        for r in ev.select("user_id", "event_id", "value").collect()
    }
    for r in rows:  # rows arrive ordered (user, ts, event)
        h = hist[r.user_id]
        h.append(vals[(r.user_id, r.event_id)])
        assert min(h) - 1e-9 <= r.ewma8 <= max(h) + 1e-9


def test_bootstrap_replicates_are_calibrated(spark, sf_dir):
    rows = bootstrap_token_stats(spark, sf_dir).collect()
    assert len(rows) == _N_BOOT
    n_docs = load(spark, sf_dir, "documents").count()
    # Poisson(1) resampling: E[n_eff] = n_docs, sd = sqrt(n_docs);
    # all replicates within 5 sd is a ~1e-5-flake bound
    for r in rows:
        assert abs(r.n_eff - n_docs) <= 5 * n_docs**0.5
        assert r.mean_tok_x1000 == (1000 * r.tok_sum) // r.n_eff


def test_norm_audit_bounds_consistent(spark, sf_dir):
    for r in embeddings_norm_audit(spark, sf_dir).collect():
        assert r.min_ssq <= r.avg_ssq <= r.max_ssq
        assert 0 <= r.n_degenerate <= r.n_vecs


def test_federated_formats_agree_exactly(spark, sf_dir):
    rows = src_federated_union(spark, sf_dir).collect()
    by_fmt: dict[str, list] = {}
    for r in rows:
        by_fmt.setdefault(r.fmt, []).append(
            (r.o_orderstatus, r.n, r.sum_price)
        )
    assert set(by_fmt) == {"csv", "json", "parquet"}
    vals = [sorted(v) for v in by_fmt.values()]
    # CSV and JSON round-trips reproduce the parquet values exactly
    assert vals[0] == vals[1] == vals[2]


def test_variant_shred_covers_all_events(spark, sf_dir):
    rows = q69_variant_shred(spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows) == n_events
    assert all(r.n_missing_path == r.n for r in rows)  # path never present


def test_mom_change_matches_revenue_ratio(spark, sf_dir):
    rows = q68_revenue_mom_change(spark, sf_dir).collect()
    prev: dict[str, tuple] = {}
    for r in rows:  # ordered (priority, month)
        p = prev.get(r.o_orderpriority)
        if p is not None and p != 0.0:
            assert abs(r.mom_change - (r.revenue - p) / p) < 1e-12
        prev[r.o_orderpriority] = r.revenue


def test_text_miners_return_sane_counts(spark, sf_dir):
    bp = text_boilerplate_ngrams(spark, sf_dir).collect()
    assert all(r.n_docs >= 2 for r in bp)
    assert all(len(r.gram.split(" ")) == 5 for r in bp)
    pairs = text_bpe_merge_pairs(spark, sf_dir).collect()
    assert 0 < len(pairs) <= 20
    assert all(len(r.pair) == 2 for r in pairs)
    ns = [r.n for r in pairs]
    assert ns == sorted(ns, reverse=True)


def test_weighted_reservoir_prefers_heavy_docs(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline2 import (
        _WR_K,
        sample_weighted_reservoir,
    )
    from project_final_parquet_spark.tables import load

    rows = sample_weighted_reservoir(spark, sf_dir).collect()
    assert len(rows) == min(
        _WR_K, load(spark, sf_dir, "documents").count()
    )
    pris = [r.priority for r in rows]
    assert pris == sorted(pris, reverse=True)
    # weighted: winners' mean weight must exceed the corpus mean
    corpus_mean = (
        load(spark, sf_dir, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]
        .m
    )
    assert sum(r.weight for r in rows) / len(rows) > corpus_mean


def test_snapshot_diff_classes_are_exhaustive(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline2 import (
        _order_snapshots,
        snapshot_diff,
    )

    old, new = _order_snapshots(spark, sf_dir)
    by_type = {r.change_type: r for r in snapshot_diff(spark, sf_dir).collect()}
    assert set(by_type) == {"added", "removed", "changed", "unchanged"}
    n_old, n_new = old.count(), new.count()
    # every old row is removed/changed/unchanged; every new row is
    # added/changed/unchanged — both identities must hold exactly
    assert (
        by_type["removed"].n_rows
        + by_type["changed"].n_rows
        + by_type["unchanged"].n_rows
        == n_old
    )
    assert (
        by_type["added"].n_rows
        + by_type["changed"].n_rows
        + by_type["unchanged"].n_rows
        == n_new
    )
    assert by_type["added"].min_key >= 10_000_000
    # every 7th surviving key got +1.00: net drift equals changed count
    assert abs(
        by_type["changed"].sum_price_delta - by_type["changed"].n_rows
    ) < 1e-6


def test_bucketed_join_query_is_exchange_free_until_agg(spark, sf_dir):
    from project_final_parquet_spark.operators.sources import (
        _bucketed_tables,
        src_bucketed_join,
    )
    from project_final_parquet_spark.plans import physical_plan as _plan

    names = _bucketed_tables(spark, sf_dir)
    o = spark.table(names["orders"])
    c = spark.table(names["customer"]).hint("merge")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    p = _plan(joined)
    assert "SortMergeJoin" in p
    assert "Exchange" not in p  # both scans satisfy the join partitioning
    # the full gated query shuffles exactly twice: the mktsegment agg
    # and the final presentation sort — never for the join
    import re

    full = _plan(src_bucketed_join(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", full)) == 2


def test_semantic_dedup_drop_invariants(spark, sf_dir):
    from project_final_parquet_spark.operators.dedup import (
        _K,
        _TAU,
        dedup_semantic,
    )

    rows = dedup_semantic(spark, sf_dir).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids))  # each vector dropped at most once
    for r in rows:
        assert r.dup_of < r.vec_id  # canonical is always more senior
        assert r.cosine >= _TAU
        assert 0 <= r.cluster < _K


def test_trained_pq_valid_codes_and_ordering(spark, sf_dir):
    from project_final_parquet_spark.operators.quantization import (
        _K,
        _M,
        sim_pq_trained,
    )

    rows = sim_pq_trained(spark, sf_dir).collect()
    assert len(rows) == 10
    adcs = [r.adc for r in rows]
    assert adcs == sorted(adcs) and all(a >= 0.0 for a in adcs)
    for r in rows:
        parts = [int(c) for c in r.pq_code.split("-")]
        assert len(parts) == _M
        assert all(0 <= c < _K for c in parts)
