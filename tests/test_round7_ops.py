"""Round-7 operator tests: pure-Python/pandas replays with exact
equality for the integer artifacts and DSUM-aware float checks, plus
plan pins for the scale claims (single-pass shapes, pruned scans,
bounded windows) — the established per-round test pattern.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from project_final_parquet_spark.plans import physical_plan, plan_facts
from project_final_parquet_spark.registry import all_queries

BIG_SF = "/root/testdata/sf0.01"

_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US
_GAP_US = 30 * 60 * 1_000_000


def _events(sf):
    df = pd.read_parquet(f"{sf}/events.parquet")
    # resolution-agnostic epoch microseconds (parquet ships us; pandas
    # may surface us or ns depending on version)
    df["ts_us"] = (df["ts"] - pd.Timestamp(0)) // pd.Timedelta(
        microseconds=1
    )
    return df


# --- events_retention_cohorts -------------------------------------------------


def test_retention_cohorts_matches_replay(spark, sf_dir):
    ev = _events(sf_dir)
    ev["week"] = ev["ts_us"] // _WEEK_US
    uw = ev[["user_id", "week"]].drop_duplicates()
    cohort = uw.groupby("user_id")["week"].min()
    sizes = Counter(cohort.values)
    act = Counter(
        (cohort[u], w - cohort[u]) for u, w in uw.itertuples(index=False)
    )
    expect = sorted(
        (c, o, n, sizes[c], (1_000_000 * n) // sizes[c])
        for (c, o), n in act.items()
    )
    rows = all_queries()["events_retention_cohorts"](spark, sf_dir).collect()
    got = [
        (
            r.cohort_week,
            r.week_offset,
            r.n_active,
            r.n_cohort,
            r.retention_ppm,
        )
        for r in rows
    ]
    assert got == expect
    # offset 0 is the cohort itself: retention must be exactly 1e6
    assert all(
        ppm == 1_000_000 for _, off, _, _, ppm in got if off == 0
    )


# --- events_sessionize_gap ----------------------------------------------------


def test_sessionize_gap_matches_replay(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts_us", "event_id"])
    sessions = []
    for _, g in ev.groupby("user_id", sort=False):
        ts = g["ts_us"].to_numpy()
        start = 0
        for i in range(1, len(ts)):
            if ts[i] - ts[i - 1] > _GAP_US:
                sessions.append((i - start, int(ts[i - 1] - ts[start])))
                start = i
        sessions.append((len(ts) - start, int(ts[-1] - ts[start])))
    buckets = defaultdict(lambda: [0, 0, 0, 0])  # n_sess, n_ev, span_sum, max
    for n_ev, span in sessions:
        b = "1" if n_ev == 1 else "2" if n_ev == 2 else "3-5" if n_ev <= 5 else "6+"
        acc = buckets[b]
        acc[0] += 1
        acc[1] += n_ev
        acc[2] += span
        acc[3] = max(acc[3], span)
    expect = sorted(
        (b, a[0], a[1], a[2] // a[0], a[3]) for b, a in buckets.items()
    )
    rows = all_queries()["events_sessionize_gap"](spark, sf_dir).collect()
    got = [
        (r.size_bucket, r.n_sessions, r.n_events, r.avg_span_us, r.max_span_us)
        for r in rows
    ]
    assert got == expect
    # conservation: every event lands in exactly one session
    assert sum(n for _, _, n, _, _ in got) == len(ev)


def test_sessionize_gap_no_global_sort(spark):
    """Both windows partition by user — the plan must contain no
    rangepartitioning (global sort) exchange; all exchanges are keyed."""
    df = all_queries()["events_sessionize_gap"](spark, BIG_SF)
    p = physical_plan(df)
    # the only ordering allowed is the final ORDER BY over the 4-row
    # histogram (TakeOrdered or a tiny range exchange after the agg)
    body = p.split("AdaptiveSparkPlan")[-1]
    assert body.count("rangepartitioning") <= 1


# --- events_rfm_segments / profile_pareto_revenue ------------------------------


def test_rfm_segments_invariants(spark, sf_dir):
    rows = all_queries()["events_rfm_segments"](spark, sf_dir).collect()
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    n_cust = orders["o_custkey"].nunique()
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_q <= 4 and 1 <= r.f_q <= 4 and 1 <= r.m_q <= 4
    # quartiles are population-balanced: each r_q stratum holds
    # n/4 +- 1 customers
    per_r = defaultdict(int)
    for r in rows:
        per_r[r.r_q] += r.n_customers
    assert max(per_r.values()) - min(per_r.values()) <= 1


def test_pareto_revenue_matches_replay(spark, sf_dir):
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    rows = all_queries()["profile_pareto_revenue"](spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_customers for r in rows) == orders["o_custkey"].nunique()
    # deciles are ordered by spend: revenue non-increasing, cum_share
    # monotone to 1.0, shares sum to ~1
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert rows[-1].cum_share == max(r.cum_share for r in rows)
    assert math.isclose(sum(r.revenue_share for r in rows), 1.0, rel_tol=1e-9)
    assert math.isclose(rows[-1].cum_share, 1.0, rel_tol=1e-9)


# --- sample_stratified_exact ----------------------------------------------------


def test_stratified_exact_matches_replay(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    docs["h"] = [
        hashlib.md5(str(i).encode()).hexdigest() for i in docs["doc_id"]
    ]
    expect = []
    for lang, g in docs.groupby("lang"):
        quota = (len(g) + 9) // 10
        sel = g.sort_values(["h", "doc_id"]).head(quota)
        expect.append((lang, len(g), quota, quota, int(sel["doc_id"].sum())))
    rows = all_queries()["sample_stratified_exact"](spark, sf_dir).collect()
    got = [
        (r.lang, r.n_total, r.quota, r.n_taken, r.id_checksum) for r in rows
    ]
    assert got == sorted(expect)
    for r in rows:  # the exactness invariant Bernoulli sampling lacks
        assert r.n_taken == r.quota


# --- dq_schema_drift ------------------------------------------------------------


def test_schema_drift_matches_replay(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline4 import (
        INC_HASH,
        INC_MOD,
        INC_THRESH,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    b = ((docs["doc_id"] % INC_MOD) * INC_HASH) % INC_MOD < INC_THRESH
    h, bt = docs[~b], docs[b]
    exp = {
        ("rows", "count"): (len(h), len(bt)),
        ("text", "null_or_empty"): (
            int((h["text"].isna() | (h["text"] == "")).sum()),
            int((bt["text"].isna() | (bt["text"] == "")).sum()),
        ),
        ("text", "avg_len_x1000"): (
            1000 * int(h["text"].str.len().sum()) // len(h),
            1000 * int(bt["text"].str.len().sum()) // len(bt),
        ),
        ("lang", "distinct"): (h["lang"].nunique(), bt["lang"].nunique()),
        ("source", "distinct"): (
            h["source"].nunique(),
            bt["source"].nunique(),
        ),
        ("n_chars", "min"): (int(h["n_chars"].min()), int(bt["n_chars"].min())),
        ("n_chars", "max"): (int(h["n_chars"].max()), int(bt["n_chars"].max())),
    }
    rows = all_queries()["dq_schema_drift"](spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        eh, eb = exp[(r.column_name, r.metric)]
        assert (r.hist_value, r.batch_value) == (eh, eb), (
            r.column_name,
            r.metric,
        )
        assert r.delta == eb - eh


def test_schema_drift_single_scan(spark):
    df = all_queries()["dq_schema_drift"](spark, BIG_SF)
    tree = physical_plan(df).split("\n\n(1)")[0]
    assert tree.count("Scan parquet") == 1


# --- graph_bridge_edges ---------------------------------------------------------


def test_bridge_edges_matches_replay(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    pairs = Counter()
    for _, g in li.groupby("l_orderkey"):
        ps = sorted(set(g["l_partkey"]))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs[(ps[i], ps[j])] += 1
    edges = {e for e, c in pairs.items() if c >= 2}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    bridges = {(a, b) for a, b in edges if not (adj[a] & adj[b])}
    deg = {v: len(ws) for v, ws in adj.items()}
    ranked = sorted(
        ((a, b, deg[a], deg[b]) for a, b in bridges),
        key=lambda t: (-(t[2] + t[3]), t[0], t[1]),
    )[:20]
    rows = all_queries()["graph_bridge_edges"](spark, sf_dir).collect()
    got = [(r.a, r.b, r.deg_a, r.deg_b) for r in rows]
    assert got == ranked
    assert all(r.n_bridges == len(bridges) for r in rows)
    assert all(r.n_edges == len(edges) for r in rows)


# --- sim_ivf_balance_audit / sim_ann_recall_curve --------------------------------


def test_ivf_balance_matches_replay(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    sizes = emb.groupby("label").size()
    total, k = len(emb), len(sizes)
    rows = all_queries()["sim_ivf_balance_audit"](spark, sf_dir).collect()
    assert len(rows) == k
    for r in rows:
        n = int(sizes[r.cell])
        assert r.n_vectors == n
        assert r.share_ppm == (1_000_000 * n) // total
        assert r.vs_mean_x1000 == (1000 * n * k) // total
    assert sum(r.n_vectors for r in rows) == total


def test_recall_curve_matches_replay(spark, sf_dir):
    from project_final_parquet_spark.operators.ann import _N_PLANES, _PLANES

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(i): np.asarray(v, dtype=np.float32)
        for i, v in zip(emb["vec_id"], emb["embedding"])
    }

    def fold_dot(a, b):
        acc = 0.0
        for j in range(len(a)):
            acc = acc + float(a[j]) * float(b[j])
        return acc

    def bucket(v):
        out = 0
        for p in range(_N_PLANES):
            if fold_dot(v, _PLANES[p]) > 0:
                out += 1 << p
        return out

    qv = vecs[0]
    nq = math.sqrt(fold_dot(qv, qv))
    qb = bucket(qv)
    scored = []
    for i, v in vecs.items():
        if i == 0:
            continue
        cos = fold_dot(v, qv) / (math.sqrt(fold_dot(v, v)) * nq)
        scored.append((i, bucket(v), cos))
    truth = {
        i
        for i, _, _ in sorted(scored, key=lambda t: (-t[2], t[0]))[:10]
    }
    expect = []
    for r in (0, 1, 2, 3):
        cand = [i for i, b, _ in scored if bin(b ^ qb).count("1") <= r]
        hits = len(set(cand) & truth)
        expect.append((r, len(cand), hits, (1_000_000 * hits) // 10))
    rows = all_queries()["sim_ann_recall_curve"](spark, sf_dir).collect()
    got = [(r.radius, r.n_candidates, r.n_hits, r.recall_ppm) for r in rows]
    assert got == expect
    # the curve is monotone: more radius, more candidates, >= recall
    for a, b in zip(got, got[1:]):
        assert b[1] >= a[1] and b[2] >= a[2]


# --- text_hapax_ratio -----------------------------------------------------------


def test_hapax_ratio_matches_replay(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    rows = all_queries()["text_hapax_ratio"](spark, sf_dir).collect()
    by_lang = defaultdict(Counter)
    for lang, text in zip(docs["lang"], docs["text"]):
        by_lang[lang].update(text.split(" "))
    assert len(rows) == len(by_lang)
    for r in rows:
        tf = by_lang[r.lang]
        n_tokens = sum(tf.values())
        n_types = len(tf)
        n_hapax = sum(1 for c in tf.values() if c == 1)
        assert (r.n_tokens, r.n_types, r.n_hapax) == (
            n_tokens,
            n_types,
            n_hapax,
        )
        assert r.ttr_ppm == (1_000_000 * n_types) // n_tokens
        assert math.isclose(
            r.hapax_share, n_hapax / n_types, rel_tol=1e-12
        )


# --- pipeline_e2e_eval_harness ---------------------------------------------------


def test_eval_harness_consistent_with_standalones(spark, sf_dir):
    """The harness's AUC and AP must equal the standalone gated queries
    EXACTLY (same rank, same identities) — mutual consistency is the
    flagship's claim."""
    qs = all_queries()
    h = {
        r.metric: r.value
        for r in qs["pipeline_e2e_eval_harness"](spark, sf_dir).collect()
    }
    auc = qs["ml_linear_probe_auc"](spark, sf_dir).collect()[0]["auc"]
    ap = qs["ml_average_precision"](spark, sf_dir).collect()[0][
        "average_precision"
    ]
    assert h["auc"] == auc
    assert h["average_precision"] == ap
    assert 0.0 <= h["ks_statistic"] <= 1.0
    assert 0.0 < h["best_f1"] <= 1.0
    assert 0.0 <= h["r_precision"] <= 1.0


def test_eval_harness_matches_numpy_replay(spark, sf_dir):
    from project_final_parquet_spark.operators.vector_stats import (
        probe_scores,
    )

    sc = probe_scores(spark, sf_dir).toPandas()
    sc = sc.sort_values(
        ["score", "vec_id"], ascending=[False, True]
    ).reset_index(drop=True)
    lab = (sc["label"] == 0).to_numpy()
    n = len(lab)
    p = int(lab.sum())
    nn = n - p
    cp = np.cumsum(lab)
    rn = np.arange(1, n + 1)
    ks = np.max(np.abs(cp * nn - (rn - cp) * p)) / (p * nn)
    best_f1 = float(np.max(2.0 * cp / (rn + p)))
    r_prec = cp[p - 1] / p
    h = {
        r.metric: r.value
        for r in all_queries()["pipeline_e2e_eval_harness"](
            spark, sf_dir
        ).collect()
    }
    assert math.isclose(h["ks_statistic"], ks, rel_tol=1e-12)
    assert math.isclose(h["best_f1"], best_f1, rel_tol=1e-12)
    assert math.isclose(h["r_precision"], r_prec, rel_tol=1e-12)
    assert h["base_rate"] == p / n


def test_eval_harness_two_scans_one_sort(spark):
    """The scale claim, pinned: embeddings scanned exactly twice
    (centroid branch + scoring branch — the probe_scores contract) and
    ONE global sort shared by the rank and the running window."""
    df = all_queries()["pipeline_e2e_eval_harness"](spark, BIG_SF)
    tree = physical_plan(df).split("\n\n(1)")[0]
    assert tree.count("Scan parquet") == 2
    p = physical_plan(df)
    assert p.count("rangepartitioning") <= 2  # score sort + 6-row output


# --- sim_pq_recall_audit --------------------------------------------------------


def test_pq_recall_audit_matches_replay(spark, sf_dir):
    from project_final_parquet_spark.operators.quantization import _K, _M, _SUB

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(i): np.asarray(v, dtype=np.float32)
        for i, v in zip(emb["vec_id"], emb["embedding"])
    }
    order = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), i) for i in vecs
    )[:_K]
    books = [np.asarray(vecs[i], dtype=np.float64) for _, i in order]
    qv = np.asarray(vecs[0], dtype=np.float64)

    def seq_sq(a, b, off):
        acc = 0.0
        for j in range(_SUB):
            d = float(a[off + j]) - float(b[off + j])
            acc = acc + d * d
        return acc

    scored = []
    for i, v in vecs.items():
        if i == 0:
            continue
        v64 = np.asarray(v, dtype=np.float64)
        exact = 0.0
        adc = None
        for t in range(_M):
            off = t * _SUB
            term = seq_sq(v64, qv, off)
            exact = term if t == 0 else exact + term
            dists = [seq_sq(v64, cb, off) for cb in books]
            c = dists.index(min(dists))
            a_t = seq_sq(qv, books[c], off)
            adc = a_t if adc is None else adc + a_t
        scored.append((i, exact, adc))
    expect = []
    for k in (5, 10, 20):
        truth = {
            i for i, _, _ in sorted(scored, key=lambda t: (t[1], t[0]))[:k]
        }
        approx = {
            i for i, _, _ in sorted(scored, key=lambda t: (t[2], t[0]))[:k]
        }
        hits = len(truth & approx)
        expect.append((k, hits, (1_000_000 * hits) // k))
    rows = all_queries()["sim_pq_recall_audit"](spark, sf_dir).collect()
    got = [(r.k, r.n_hits, r.recall_ppm) for r in rows]
    assert got == expect


# --- lake_manifest_audit --------------------------------------------------------


def test_lake_manifest_audit_is_metadata_only(spark, sf_dir):
    """The audit's plan must not scan a single lake data file — its
    only input is the driver-built manifest frame."""
    from project_final_parquet_spark.operators.lake_queries import (
        orders_lake,
    )

    orders_lake(spark, sf_dir)  # ensure staged
    df = all_queries()["lake_manifest_audit"](spark, sf_dir)
    p = physical_plan(df)
    assert "Scan parquet" not in p
    rows = df.collect()
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    assert rows[-1].n_rows == len(orders)
    assert rows[0].n_rows + rows[-1].rows_added == len(orders)
