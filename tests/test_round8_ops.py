"""Round-8 operator tests: the corpus-scale bucketed mining variants
(similarity8.py) — pure-Python replays with exact equality (the same
left-fold float order as the Spark expressions, so cosines must be
BIT-identical) plus plan pins for the scale claims (equi-join on the
bucket key, never a nested-loop/cartesian candidate step).
"""

from __future__ import annotations

import math

import pandas as pd

from project_final_parquet_spark.operators.ann import _PLANES, _PROBE_MASKS
from project_final_parquet_spark.plans import plan_facts
from project_final_parquet_spark.registry import all_queries

BIG_SF = "/root/testdata/sf0.01"


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _fold_norm(a):
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _buckets(sf):
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    rows = []
    for r in emb.itertuples():
        b = 0
        for p, plane in enumerate(_PLANES):
            if _fold_dot(r.embedding, plane) > 0:
                b += 1 << p
        rows.append(
            (int(r.vec_id), int(r.label), list(r.embedding), b,
             _fold_norm(r.embedding))
        )
    return rows


def _candidates(rows, vid, bucket):
    probe_buckets = {bucket ^ m for m in _PROBE_MASKS}
    return [
        c for c in rows if c[3] in probe_buckets and c[0] != vid
    ]


def test_hard_negatives_bucketed_matches_replay(spark):
    rows = _buckets(BIG_SF)
    expect = {}
    for vid, label, vec, bucket, nrm in rows:
        best = None
        for c in _candidates(rows, vid, bucket):
            if c[1] == label:
                continue
            cos = _fold_dot(vec, c[2]) / (nrm * c[4])
            key = (-cos, c[0])
            if best is None or key < best[0]:
                best = (key, c[0], c[1], cos)
        if best is not None:
            expect[vid] = (label, best[1], best[2], best[3])
    got = {
        r.anchor: (r.anchor_label, r.negative, r.negative_label, r.cosine)
        for r in all_queries()["sample_hard_negatives_bucketed"](
            spark, BIG_SF
        ).collect()
    }
    assert got == expect


def test_reciprocal_nn_bucketed_matches_replay(spark):
    rows = _buckets(BIG_SF)
    nn = {}
    for vid, _label, vec, bucket, nrm in rows:
        best = None
        for c in _candidates(rows, vid, bucket):
            cos = _fold_dot(vec, c[2]) / (nrm * c[4])
            key = (-cos, c[0])
            if best is None or key < best[0]:
                best = (key, c[0], cos)
        if best is not None:
            nn[vid] = (best[1], best[2])
    expect = {
        (a, d[0], d[1])
        for a, d in nn.items()
        if d[0] in nn and nn[d[0]][0] == a and a < d[0]
    }
    got = {
        (r.a, r.b, r.cosine)
        for r in all_queries()["sim_reciprocal_nn_bucketed"](
            spark, BIG_SF
        ).collect()
    }
    assert got == expect
    # reciprocity sanity on the replay itself: every reported pair is
    # mutual by construction, and pairs are oriented a < b
    assert all(a < b for a, b, _ in got)


def test_bucketed_mining_plans_never_go_quadratic(spark):
    """The candidate step must be an EQUI-join on the bucket key —
    a nested-loop/cartesian plan here is the corpus² shape these
    variants exist to avoid."""
    for name in (
        "sample_hard_negatives_bucketed",
        "sim_reciprocal_nn_bucketed",
    ):
        df = all_queries()[name](spark, BIG_SF)
        facts = plan_facts(df)
        assert facts.n_nested_loop_joins == 0, name
        assert facts.n_joins >= 1, name


def test_triangle_family_shares_the_enumeration():
    """r7 VERDICT items 5+6: graph_triangle_count,
    graph_local_clustering, and graph_bridge_edges must all consume the
    shared degree-ordered ``triangle_corners`` derivation instead of
    re-deriving their own 2-path joins (AST-level reuse assert)."""
    import ast
    import inspect

    from project_final_parquet_spark.operators import graph

    for qname in (
        "graph_triangle_count",
        "graph_local_clustering",
        "graph_bridge_edges",
    ):
        tree = ast.parse(inspect.getsource(getattr(graph, qname)))
        calls = {
            n.func.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        assert "triangle_corners" in calls, qname


def test_triangle_corners_matches_replay_and_is_unique(spark):
    """The degree-ordered enumeration finds every triangle of the
    co-purchase graph exactly once (vertex-set replay in pure
    Python)."""
    from collections import defaultdict

    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
        triangle_corners,
    )

    edges = {
        (r.a, r.b) for r in copurchase_edges(spark, BIG_SF).collect()
    }
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect = set()
    for a, b in edges:
        for c in adj[a] & adj[b]:
            expect.add(tuple(sorted((a, b, c))))
    got = [
        tuple(sorted((r.x, r.y, r.z)))
        for r in triangle_corners(spark, BIG_SF).collect()
    ]
    assert len(got) == len(set(got)), "a triangle enumerated twice"
    assert set(got) == expect


def test_bucketed_mining_scans_are_pruned(spark):
    """Reciprocal-NN never reads label; both read only the embedding
    table's needed columns."""
    df = all_queries()["sim_reciprocal_nn_bucketed"](spark, BIG_SF)
    facts = plan_facts(df)
    assert facts.read_schemas and all(
        "label" not in s for s in facts.read_schemas
    )


# --- pipeline11 batch --------------------------------------------------------


def test_repeat_purchase_curve_matches_replay(spark):
    o = pd.read_parquet(f"{BIG_SF}/orders.parquet")
    o["day"] = (
        (o["o_orderdate"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    ) // 86_400_000_000
    expect = {}
    for _ck, grp in o.groupby("o_custkey"):
        seq = grp.sort_values(["day", "o_orderkey"]).reset_index()
        for i in range(1, min(len(seq), 10)):
            gap = int(seq.day[i] - seq.day[i - 1])
            idx = i + 1
            n, tot = expect.get(idx, (0, 0))
            expect[idx] = (n + 1, tot + gap)
    got = {
        r.purchase_idx: (r.n_customers, r.total_gap_days, r.mean_gap_days)
        for r in all_queries()["orders_repeat_purchase_curve"](
            spark, BIG_SF
        ).collect()
    }
    assert set(got) == set(expect)
    for idx, (n, tot) in expect.items():
        gn, gtot, gmean = got[idx]
        assert (gn, gtot) == (n, tot)
        assert gmean == tot / n


def test_audience_overlap_matches_replay(spark):
    ev = pd.read_parquet(f"{BIG_SF}/events.parquet")
    users = {
        t: set(g["user_id"]) for t, g in ev.groupby("event_type")
    }
    types = sorted(users)
    expect = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            inter = len(users[ta] & users[tb])
            if inter:
                uni = len(users[ta] | users[tb])
                expect[(ta, tb)] = (inter, uni, inter / uni)
    got = {
        (r.type_a, r.type_b): (r.n_both, r.n_either, r.jaccard)
        for r in all_queries()["events_audience_overlap"](
            spark, BIG_SF
        ).collect()
    }
    assert got == expect


def test_retrieval_mrr_first_hit_is_consistent(spark):
    """Every reported first_hit_rank must be >= 1, rr == 1/rank
    exactly, and the top-ranked same-label neighbor must actually have
    the query's label under the exact cosine ordering (spot-replay of
    the rank-1 queries)."""
    rows = all_queries()["ml_retrieval_mrr"](spark, BIG_SF).collect()
    assert len(rows) == 20
    for r in rows:
        if r.first_hit_rank is not None:
            assert r.first_hit_rank >= 1
            assert r.rr == 1.0 / r.first_hit_rank


def test_calibration_bins_partition_the_population(spark):
    rows = all_queries()["ml_calibration_bins"](spark, BIG_SF).collect()
    assert [r.bin for r in rows] == list(range(1, 11))
    emb = pd.read_parquet(f"{BIG_SF}/embeddings.parquet")
    assert sum(r.n for r in rows) == len(emb)
    assert sum(r.n_pos for r in rows) == int((emb.label == 0).sum())
    # equal-population deciles: sizes differ by at most 1
    sizes = [r.n for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for r in rows:
        assert r.pos_rate == r.n_pos / r.n


def test_ra_linkpred_excludes_edges_and_uses_take_ordered(spark):
    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
    )

    df = all_queries()["graph_resource_allocation_linkpred"](spark, BIG_SF)
    assert plan_facts(df).has_take_ordered
    edges = {(r.a, r.b) for r in copurchase_edges(spark, BIG_SF).collect()}
    rows = df.collect()
    assert rows and all((r.a, r.b) not in edges for r in rows)
    assert all(r.n_common >= 1 and r.ra_score > 0 for r in rows)


def test_ttr_curve_scan_reads_only_needed_columns(spark):
    df = all_queries()["text_ttr_length_curve"](spark, BIG_SF)
    facts = plan_facts(df)
    assert facts.read_schemas and all(
        "lang" not in s and "source" not in s for s in facts.read_schemas
    )
    rows = df.collect()
    assert rows and all(0 < r.mean_ttr <= 1.0 for r in rows)


# --- pipeline11 batch 3 -------------------------------------------------------


def test_topk_accuracy_consistent_with_mrr(spark):
    """hit@k must be the cumulative count of first_hit_rank <= k from
    the SAME hits relation MRR reports (shared-CTE contract)."""
    qs = all_queries()
    ranks = [
        r.first_hit_rank
        for r in qs["ml_retrieval_mrr"](spark, BIG_SF).collect()
        if r.first_hit_rank is not None
    ]
    rows = {r.k: r for r in qs["ml_topk_accuracy"](spark, BIG_SF).collect()}
    assert set(rows) == {1, 5, 10}
    for k, r in rows.items():
        expect_hits = sum(1 for x in ranks if x <= k)
        assert r.n_hits == expect_hits
        assert r.n_queries == 20
        assert r.hit_rate == expect_hits / 20
    assert rows[1].n_hits <= rows[5].n_hits <= rows[10].n_hits


def test_2hop_reach_matches_replay(spark):
    from collections import defaultdict

    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
    )

    edges = {(r.a, r.b) for r in copurchase_edges(spark, BIG_SF).collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect = {}
    for v in adj:
        ring = set(adj[v])
        for m in adj[v]:
            ring |= adj[m]
        ring.discard(v)
        expect[v] = (len(adj[v]), len(ring))
    rows = all_queries()["graph_2hop_reach"](spark, BIG_SF).collect()
    top = sorted(
        ((n, v) for v, (_d, n) in expect.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    assert [(r.n_reach, r.node_id) for r in rows] == top
    for r in rows:
        d, n = expect[r.node_id]
        assert (r.degree, r.n_reach, r.n_second_ring) == (d, n, n - d)


def test_group_holdout_has_zero_leakage_and_full_coverage(spark):
    rows = all_queries()["sample_group_holdout_split"](
        spark, BIG_SF
    ).collect()
    ev = pd.read_parquet(f"{BIG_SF}/events.parquet")
    assert sum(r.n_events for r in rows) == len(ev)
    assert sum(r.n_users for r in rows) == ev["user_id"].nunique()
    assert all(r.n_leaky_users == 0 for r in rows)


def test_priority_mix_shares_sum_to_one(spark):
    rows = all_queries()["orders_priority_mix_shift"](
        spark, BIG_SF
    ).collect()
    from collections import defaultdict

    by_month = defaultdict(float)
    for r in rows:
        by_month[r.ym] += r.share
    assert all(abs(s - 1.0) < 1e-9 for s in by_month.values())
    # drift column: first month per priority is NULL, later months are
    # exact share differences
    seen = {}
    for r in rows:  # rows ordered by (ym, priority)
        if r.priority in seen:
            assert abs(r.share_delta - (r.share - seen[r.priority])) < 1e-15
        else:
            assert r.share_delta is None
        seen[r.priority] = r.share


# --- pipeline11 batch 4 -------------------------------------------------------


def test_uniqueness_audit_detects_clean_keys(spark):
    rows = {
        r.key: r
        for r in all_queries()["dq_uniqueness_audit"](spark, BIG_SF).collect()
    }
    assert len(rows) == 5
    for name in (
        "orders.o_orderkey",
        "customer.c_custkey",
        "events.event_id",
        "documents.doc_id",
    ):
        assert rows[name].n_dup_rows == 0, name
        assert rows[name].n_rows == rows[name].n_distinct
    # the composite proxy key is deliberately collision-prone
    proxy = rows["lineitem.(l_orderkey,l_linenumber-proxy)"]
    assert proxy.n_dup_rows == proxy.n_rows - proxy.n_distinct


def test_dau_wau_matches_replay(spark):
    ev = pd.read_parquet(f"{BIG_SF}/events.parquet")
    ev["day"] = (
        (ev["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    ) // 86_400_000_000
    du = ev[["day", "user_id"]].drop_duplicates()
    dau = du.groupby("day")["user_id"].nunique()
    expect = {}
    for d, n in dau.items():
        wau = du[(du.day >= d - 6) & (du.day <= d)]["user_id"].nunique()
        expect[int(d)] = (int(n), int(wau), n / wau)
    got = {
        r.day: (r.dau, r.wau, r.stickiness)
        for r in all_queries()["events_dau_wau_stickiness"](
            spark, BIG_SF
        ).collect()
    }
    assert got == expect
    assert all(0 < v[2] <= 1.0 for v in got.values())


def test_conversion_sensitivity_is_monotone_in_window(spark):
    rows = all_queries()["events_conversion_window_sensitivity"](
        spark, BIG_SF
    ).collect()
    assert [r.w_hours for r in rows] == [1, 6, 24]
    assert rows[0].n_viewers == rows[1].n_viewers == rows[2].n_viewers
    assert (
        rows[0].n_converted <= rows[1].n_converted <= rows[2].n_converted
    )
    for r in rows:
        assert r.conversion_rate == r.n_converted / r.n_viewers


# --- pipeline11 batch 5 -------------------------------------------------------


def test_funnel_by_segment_covers_all_viewers(spark):
    rows = all_queries()["events_funnel_by_segment"](spark, BIG_SF).collect()
    ev = pd.read_parquet(f"{BIG_SF}/events.parquet")
    viewers = set(ev[ev.event_type == "view"]["user_id"])
    cust = pd.read_parquet(f"{BIG_SF}/customer.parquet")
    known = viewers & set(cust["c_custkey"])
    assert sum(r.n_viewers for r in rows) == len(known)
    for r in rows:
        assert 0 <= r.n_purchasers <= r.n_viewers
        assert r.conversion_rate == r.n_purchasers / r.n_viewers


def test_cross_source_overlap_accounts_every_document(spark):
    rows = all_queries()["dedup_cross_source_overlap"](
        spark, BIG_SF
    ).collect()
    docs = pd.read_parquet(f"{BIG_SF}/documents.parquet")
    assert sum(r.n_docs for r in rows) == len(docs)
    assert sum(r.n_contents for r in rows) == docs["text"].nunique()
    for r in rows:
        assert r.n_redundant_docs == r.n_docs - r.n_contents


def test_degree_powerlaw_partitions_vertices(spark):
    from collections import defaultdict

    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
    )

    deg = defaultdict(int)
    for r in copurchase_edges(spark, BIG_SF).collect():
        deg[r.a] += 1
        deg[r.b] += 1
    rows = all_queries()["graph_degree_powerlaw"](spark, BIG_SF).collect()
    assert sum(r.n_vertices for r in rows) == len(deg)
    assert sum(r.endpoint_mass for r in rows) == sum(deg.values())
    for r in rows:
        # bucket b holds degrees in [2^(b-1), 2^b)
        assert 2 ** (r.degree_bucket - 1) <= r.min_degree
        assert r.max_degree < 2**r.degree_bucket


def test_error_rate_sla_flag_is_exact(spark):
    rows = all_queries()["events_error_rate_sla"](spark, BIG_SF).collect()
    assert 0 < len(rows) <= 24
    for r in rows:
        assert r.sla_breach == (4 * r.n_errors > r.n_events)
        assert r.error_rate == r.n_errors / r.n_events


# --- pipeline11 batch 6 -------------------------------------------------------


def test_seasonality_yoy_matches_replay(spark):
    o = pd.read_parquet(f"{BIG_SF}/orders.parquet")
    o["ym"] = o.o_orderdate.dt.year * 100 + o.o_orderdate.dt.month
    monthly = o.groupby("ym").size().sort_index()
    rows = all_queries()["orders_seasonality_yoy"](spark, BIG_SF).collect()
    assert [r.ym for r in rows] == list(monthly.index)
    assert [r.n_orders for r in rows] == list(monthly.values)
    # lag-12 alignment: first 12 rows NULL, later rows reference the
    # revenue 12 positions back
    revs = [r.revenue for r in rows]
    for i, r in enumerate(rows):
        if i < 12:
            assert r.revenue_prev_year is None and r.yoy_growth is None
        else:
            assert r.revenue_prev_year == revs[i - 12]
            assert r.yoy_growth == (r.revenue - revs[i - 12]) / revs[i - 12]


def test_weekday_weekend_split_partitions_events(spark):
    rows = all_queries()["events_weekday_weekend_lift"](
        spark, BIG_SF
    ).collect()
    ev = pd.read_parquet(f"{BIG_SF}/events.parquet")
    by_type = ev.groupby("event_type").size()
    got = {r.event_type: r for r in rows}
    assert set(got) == set(by_type.index)
    for t, n in by_type.items():
        assert got[t].weekday_events + got[t].weekend_events == n
        assert got[t].weekday_avg_value is not None
        assert got[t].weekend_avg_value is not None


def test_sentence_profile_matches_replay(spark):
    docs = pd.read_parquet(f"{BIG_SF}/documents.parquet")
    agg = {}
    for r in docs.itertuples():
        sents = [s for s in r.text.split(". ") if s != ""]
        if not sents:
            continue
        d = agg.setdefault(r.source, [set(), 0, 0])
        d[0].add(r.doc_id)
        d[1] += len(sents)
        d[2] += sum(s.count(" ") + 1 for s in sents)
    rows = all_queries()["text_sentence_length_profile"](
        spark, BIG_SF
    ).collect()
    assert {r.source for r in rows} == set(agg)
    for r in rows:
        docs_n, n_sent, n_tok = (
            len(agg[r.source][0]),
            agg[r.source][1],
            agg[r.source][2],
        )
        assert (r.n_docs, r.n_sentences, r.n_tokens) == (
            docs_n,
            n_sent,
            n_tok,
        )
        assert r.mean_sentence_tokens == n_tok / n_sent
        assert r.sentences_per_doc == n_sent / docs_n
