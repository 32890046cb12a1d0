"""Round-13 batch 4 (the effect-size / scale-test tier): numpy/pandas
replays at sf0.001, degenerate-corpus NULL-contract tests, and the
Cliff's-delta ↔ Mann–Whitney U cross-consistency identity."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd

from pyspark.sql import types as T

from project_final_parquet_spark.operators.pipeline17 import (
    MWU_A,
    MWU_B,
    events_mann_whitney_u,
)
from project_final_parquet_spark.operators.pipeline20 import (
    events_brunner_munzel,
    events_cliffs_delta,
    events_mood_median_test,
    orders_page_trend_test,
    orders_sen_slope_ci,
)

SF = "/root/testdata/sf0.001"

_DAY_US = 86_400_000_000


def _events_pdf():
    pdf = pd.read_parquet(f"{SF}/events.parquet")
    pdf["ts_us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    return pdf


def _daily_rev():
    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    day = (
        pdf["o_orderdate"].astype("datetime64[us]").astype("int64")
        // _DAY_US
    )
    return (
        pdf.assign(d=day).groupby("d")["o_totalprice"].sum().sort_index()
    )


def _seqsum(vals) -> float:
    acc = 0.0
    for v in vals:
        acc += v
    return acc


# --- Mood's median test ------------------------------------------------------


def test_mood_median_replay(spark):
    pdf = _events_pdf().sort_values(["value", "event_id"])
    n = len(pdf)
    m = pdf["value"].to_numpy()[(n + 1) // 2 - 1]
    groups = sorted(pdf["event_type"].unique())
    aa = int((pdf["value"] > m).sum())
    chi2 = 0.0
    for g in groups:  # fold order
        sub = pdf[pdf["event_type"] == g]
        ng, a = len(sub), int((sub["value"] > m).sum())
        ea = (aa / n) * ng
        eb = ((n - aa) / n) * ng
        chi2 += (a - ea) * (a - ea) / ea + (
            (ng - a) - eb
        ) * ((ng - a) - eb) / eb
    r = events_mood_median_test(spark, SF).collect()[0]
    assert r["n"] == n and r["k_groups"] == len(groups)
    assert r["grand_median"] == m and r["n_above"] == aa
    assert abs(r["chi2_mood"] - chi2) < 1e-9 * max(1.0, chi2)


# --- Cliff's delta -----------------------------------------------------------


def test_cliffs_delta_replay_and_mwu_identity(spark):
    pdf = _events_pdf()
    xa = np.sort(
        pdf[pdf["event_type"] == MWU_A]["value"].to_numpy()
    )
    xb = np.sort(
        pdf[pdf["event_type"] == MWU_B]["value"].to_numpy()
    )
    # counts via searchsorted (no pair materialization in the replay
    # either)
    gt = int(np.searchsorted(xb, xa, side="left").sum())  # x > y
    lt = int((len(xb) - np.searchsorted(xb, xa, side="right")).sum())
    r = events_cliffs_delta(spark, SF).collect()[0]
    assert (r["n1"], r["n2"]) == (len(xa), len(xb))
    assert r["n_gt"] == gt and r["n_lt"] == lt
    delta = (gt - lt) / (len(xa) * len(xb))
    assert abs(r["cliffs_delta"] - delta) < 1e-12
    # identity: delta = 2*U_A/(n1*n2) - 1, with U_A from the MWU query
    # (events_mann_whitney_u's u_stat is the A-group U, from r2a)
    mwu = events_mann_whitney_u(spark, SF).collect()[0]
    assert (
        abs(
            r["cliffs_delta"]
            - (2 * mwu["u_stat"] / (len(xa) * len(xb)) - 1)
        )
        < 1e-9
    )


# --- Brunner–Munzel ----------------------------------------------------------


def test_brunner_munzel_replay(spark):
    pdf = _events_pdf()
    va = pdf[pdf["event_type"] == MWU_A]["value"].to_numpy()
    vb = pdf[pdf["event_type"] == MWU_B]["value"].to_numpy()
    n1, n2 = len(va), len(vb)
    pooled = np.concatenate([va, vb])
    pr = pd.Series(pooled).rank(method="average").to_numpy()
    ra, rb = pr[:n1], pr[n1:]
    wa = pd.Series(va).rank(method="average").to_numpy()
    wb = pd.Series(vb).rank(method="average").to_numpy()
    rba, rbb = ra.mean(), rb.mean()
    # fold order is the VALUE domain: aggregate dev^2 by value asc
    da = pd.DataFrame({"v": va, "t": (ra - wa - rba + (n1 + 1) / 2) ** 2})
    db = pd.DataFrame({"v": vb, "t": (rb - wb - rbb + (n2 + 1) / 2) ** 2})
    ssa = _seqsum(da.groupby("v")["t"].sum().sort_index().to_numpy())
    ssb = _seqsum(db.groupby("v")["t"].sum().sort_index().to_numpy())
    s2a, s2b = ssa / (n1 - 1), ssb / (n2 - 1)
    nn = n1 + n2
    sig = s2a / ((nn - n1) ** 2 * n1) + s2b / ((nn - n2) ** 2 * n2)
    w = (rbb - rba) / math.sqrt(nn * sig)
    p_hat = (rbb - (n2 + 1) / 2) / n1
    r = events_brunner_munzel(spark, SF).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert abs(r["p_hat"] - p_hat) < 1e-12
    assert abs(r["w_bm"] - w) < 1e-7 * max(1.0, abs(w))
    assert 0.0 <= r["p_hat"] <= 1.0


# --- Page's trend test -------------------------------------------------------


def test_page_trend_replay(spark):
    daily = _daily_rev()
    df = daily.reset_index()
    df["w"] = df["d"] // 7
    df["dow"] = df["d"] % 7
    complete = df.groupby("w").size()
    weeks = complete[complete == 7].index
    blk = df[df["w"].isin(weeks)].copy()
    blk["r"] = blk.groupby("w")["o_totalprice"].rank(method="average")
    b = len(weeks)
    r = orders_page_trend_test(spark, SF).collect()[0]
    assert r["n_blocks"] == b
    if b:
        page_l = float((blk["r"] * (blk["dow"] + 1)).sum())
        assert r["page_l"] == page_l
        z = (page_l - 112.0 * b) / math.sqrt(b * 112896.0 / 864.0)
        assert abs(r["z_page"] - z) < 1e-12
    else:
        assert r["z_page"] is None


# --- Sen slope CI ------------------------------------------------------------


def test_sen_slope_ci_replay(spark):
    daily = _daily_rev()
    ds = daily.index.to_numpy(np.int64)
    y = daily.to_numpy(np.float64)
    n = len(y)
    np_ = n * (n - 1) // 2
    ties: dict = {}
    for v in y:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    c = 1.96 * math.sqrt(var_s)
    m1 = max(1, math.ceil((np_ - c) / 2))
    m2 = min(np_, math.floor((np_ + c) / 2) + 1)
    slopes = sorted(
        ((y[j] - y[i]) / float(ds[j] - ds[i]), ds[i], ds[j])
        for i in range(n)
        for j in range(i + 1, n)
    )
    r = orders_sen_slope_ci(spark, SF).collect()[0]
    assert r["n_days"] == n and r["n_pairs"] == np_
    assert abs(r["var_s"] - var_s) < 1e-6
    assert (r["lo_rank"], r["hi_rank"]) == (m1, m2)
    assert r["slope_lo"] == slopes[m1 - 1][0]
    assert r["slope_hi"] == slopes[m2 - 1][0]
    assert r["slope_lo"] <= r["slope_hi"]


# --- degenerate corpora ------------------------------------------------------


_EV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_degenerate_effect_sizes(spark, tmp_path_factory):
    """Constant values: Mood's chi2 is NULL (A = 0 zeroes the above
    margin), Cliff's delta = 0 exactly (defined), Brunner-Munzel p_hat
    = 1/2 with NULL W (all-tied pool). One group only: BM/Cliff NULL
    via n1*n2 = 0."""
    p = str(tmp_path_factory.mktemp("p20deg1"))
    rows = [
        (
            i,
            dt.datetime(2024, 1, 4, 6) + dt.timedelta(hours=i),
            i,
            [MWU_A, MWU_B][i % 2],
            3.0,
        )
        for i in range(10)
    ]
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p}/events.parquet")
    md = events_mood_median_test(spark, p).collect()[0]
    assert md["n_above"] == 0 and md["chi2_mood"] is None
    cd = events_cliffs_delta(spark, p).collect()[0]
    assert cd["cliffs_delta"] == 0.0
    bm = events_brunner_munzel(spark, p).collect()[0]
    assert bm["p_hat"] == 0.5 and bm["w_bm"] is None

    p2 = str(tmp_path_factory.mktemp("p20deg2"))
    rows2 = [
        (
            i,
            dt.datetime(2024, 1, 4, 6) + dt.timedelta(hours=i),
            i,
            MWU_A,
            float(i),
        )
        for i in range(6)
    ]
    spark.createDataFrame(rows2, _EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p2}/events.parquet")
    cd2 = events_cliffs_delta(spark, p2).collect()[0]
    assert cd2["n2"] == 0 and cd2["cliffs_delta"] is None
    bm2 = events_brunner_munzel(spark, p2).collect()[0]
    assert bm2["p_hat"] is None and bm2["w_bm"] is None


def test_degenerate_page_and_sen_ci(spark, tmp_path_factory):
    """Constant daily revenue over 2 aligned weeks: Page's within-week
    ranks are all-tied mid-ranks, L = E0[L] exactly, z = 0 (defined);
    the Sen CI on a constant series is the zero-width [0, 0]."""
    p = str(tmp_path_factory.mktemp("p20deg3"))
    rows = [
        (i, dt.datetime(2024, 1, 4) + dt.timedelta(days=i), 100.0)
        for i in range(14)
    ]
    spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderdate", T.TimestampNTZType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{p}/orders.parquet")
    pg = orders_page_trend_test(spark, p).collect()[0]
    assert pg["n_blocks"] == 2 and pg["page_l"] == 2 * 112.0
    assert pg["z_page"] == 0.0
    ci = orders_sen_slope_ci(spark, p).collect()[0]
    assert ci["var_s"] == 0.0
    assert ci["slope_lo"] == 0.0 and ci["slope_hi"] == 0.0
    assert ci["lo_rank"] <= ci["hi_rank"]
