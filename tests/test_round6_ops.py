"""Replay, invariant, and plan tests for the round-6 operators
(dq_referential_integrity, events_churn_hazard, graph_kcore)."""

from __future__ import annotations

from collections import Counter, defaultdict

from project_final_parquet_spark.operators.pipeline5 import (
    CHURN_WINDOW_DAYS,
    _FK_EDGES,
    _KCORE_K,
    _KCORE_ROUNDS,
    dq_referential_integrity,
    events_churn_hazard,
    graph_kcore,
)
from project_final_parquet_spark.plans import physical_plan, plan_facts
from project_final_parquet_spark.registry import all_queries

BIG_SF = "/root/testdata/sf0.01"


# --- dq_referential_integrity ------------------------------------------------


def test_referential_integrity_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    rows = {r.fk: r for r in dq_referential_integrity(spark, sf_dir).collect()}
    assert set(rows) == {fk for fk, *_ in _FK_EDGES}
    for fk, child, ck, parent, pk in _FK_EDGES:
        c = pd.read_parquet(f"{sf_dir}/{child}.parquet")[ck]
        p = set(pd.read_parquet(f"{sf_dir}/{parent}.parquet")[pk])
        cnt = Counter(c)
        orphan_keys = [k for k in cnt if k not in p]
        r = rows[fk]
        assert r.n_child_rows == len(c)
        assert r.n_child_keys == len(cnt)
        assert r.n_orphan_rows == sum(cnt[k] for k in orphan_keys)
        assert r.n_parent_keys == len(p)
        assert r.n_unreferenced_parents == len(p - set(cnt))


def test_referential_integrity_corpus_signal(spark, sf_dir):
    """On the clean corpus every FK audit must PROVE zero orphans, and
    the unreferenced-parent signal must be real (orders with no
    lineitems exist by construction)."""
    rows = {r.fk: r for r in dq_referential_integrity(spark, sf_dir).collect()}
    assert all(r.n_orphan_rows == 0 for r in rows.values())
    assert rows["lineitem.l_orderkey->orders"].n_unreferenced_parents > 0


def test_referential_integrity_plan_shape(spark):
    """Seven independent branches: key-grain aggregates below the full
    outer joins (the exchanges carry distinct keys, not rows) and no
    nested-loop joins anywhere."""
    df = all_queries()["dq_referential_integrity"](spark, BIG_SF)
    f = plan_facts(df)
    assert f.n_nested_loop_joins == 0
    p = physical_plan(df)
    tree = p.split("\n\n(1)")[0]
    # one scan per side of each edge, nothing more (14 = 7 edges × 2)
    assert tree.count("Scan parquet") <= 14


# --- events_churn_hazard -----------------------------------------------------


def test_churn_hazard_matches_python_replay(spark, sf_dir):
    import pandas as pd

    rows = events_churn_hazard(spark, sf_dir).collect()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[["o_custkey", "o_orderdate"]]
    day = o["o_orderdate"].to_numpy().astype("datetime64[us]").astype(
        "int64"
    ) // 86_400_000_000
    per = o.assign(day=day).groupby("o_custkey")["day"].agg(["min", "max"])
    end = per["max"].max()
    d_cnt: Counter = Counter()
    c_cnt: Counter = Counter()
    for _, (f, l) in per.iterrows():
        dur = (l - f) // 7
        if l < end - (CHURN_WINDOW_DAYS - 1):
            d_cnt[dur] += 1
        else:
            c_cnt[dur] += 1
    durs = sorted(set(d_cnt) | set(c_cnt), reverse=True)
    at_risk, expect = 0, {}
    for t in durs:
        at_risk += d_cnt[t] + c_cnt[t]
        if d_cnt[t] > 0:
            expect[t] = (
                at_risk,
                d_cnt[t],
                c_cnt[t],
                (1_000_000 * d_cnt[t]) // at_risk,
            )
    got = {
        r.duration_weeks: (r.n_at_risk, r.n_churned, r.n_censored, r.hazard_ppm)
        for r in rows
    }
    assert got == expect
    assert len(got) > 10  # the corpus gives the life table real support


def test_churn_hazard_life_table_invariants(spark, sf_dir):
    rows = events_churn_hazard(spark, sf_dir).collect()
    # at-risk counts strictly decrease as lifetime grows; hazards bounded
    ordered = sorted(rows, key=lambda r: r.duration_weeks)
    for a, b in zip(ordered, ordered[1:]):
        assert a.n_at_risk > b.n_at_risk
    for r in rows:
        assert 0 < r.hazard_ppm <= 1_000_000
        assert r.n_churned + r.n_censored <= r.n_at_risk


def test_churn_hazard_plan_shape(spark):
    """One customer-grain shuffle over the orders scan; the life-table
    frames are bounded, the observation end is a broadcast single row
    (BroadcastNestedLoopJoin on a 1-row side is the intended shape),
    and no Python stage anywhere."""
    df = all_queries()["events_churn_hazard"](spark, BIG_SF)
    p = physical_plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    tree = p.split("\n\n(1)")[0]
    assert tree.count("Scan parquet") <= 2  # u + the end-day aggregate


# --- graph_kcore -------------------------------------------------------------


def _python_kcore(spark, sf_dir):
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.l_partkey)
    paircnt: Counter = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                paircnt[(ps[i], ps[j])] += 1
    edges = {p for p, c in paircnt.items() if c >= 2}
    expect = []
    for rnd in range(_KCORE_ROUNDS + 1):
        nodes = {v for e in edges for v in e}
        expect.append((rnd, len(nodes), len(edges)))
        deg: Counter = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v, d in deg.items() if d >= _KCORE_K}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
    return expect


def test_kcore_matches_python_replay(spark, sf_dir):
    got = [
        (r.round, r.n_nodes, r.n_edges)
        for r in graph_kcore(spark, sf_dir).collect()
    ]
    assert got == _python_kcore(spark, sf_dir)
    # peeling is monotone (at sf0.001 the graph is so dense that the
    # whole graph IS the 3-core — a correct, if quiet, result)
    for a, b in zip(got, got[1:]):
        assert a[1] >= b[1] and a[2] >= b[2]


def test_kcore_peel_bites_and_cascades(spark):
    """At sf0.01 the co-purchase graph has median degree 3, so the k=3
    peel must remove nodes in round 1 AND keep removing in round 2
    (the cascade — removing low-degree nodes exposes new ones), the
    behavior that distinguishes k-core from a one-shot degree filter."""
    got = [
        (r.round, r.n_nodes, r.n_edges)
        for r in graph_kcore(spark, BIG_SF).collect()
    ]
    assert got == _python_kcore(spark, BIG_SF)
    assert got[1][1] < got[0][1]  # round 1 bites
    assert got[2][1] < got[1][1]  # the cascade is real


def test_kcore_plan_reads_checkpoints_not_parquet(spark):
    """The shrinkage-curve frame aggregates the per-round checkpointed
    edge lists — the edge derivation and peel already ran at
    construction; nothing downstream re-scans lineitem."""
    df = all_queries()["graph_kcore"](spark, BIG_SF)
    p = physical_plan(df)
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
