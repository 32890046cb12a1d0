"""Property-based checks for the round-12 rank/order-statistics tier:
on ARBITRARY small event tables — heavy ties forced by a 4-value
domain, adversarial user/type mixes, degenerate single-bin histograms —
the Spark plans must agree with brute-force Python:

- Mann–Whitney U (integer 2×rank tie convention vs average-rank replay)
- Kendall τ-b (contingency cell-pair algebra vs honest O(n²) counting)
- binned winsorized mean (two-phase bin selection vs a full sort)
- Tukey fences (two-phase quartile selection vs a per-type sort)

This is where tie handling lives or dies: the driver corpus has
near-unique doubles, so only generated ties exercise the t³−t terms
and the shared-bin rank offsets.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from project_final_parquet_spark.operators.pipeline17 import (
    MWU_A,
    MWU_B,
    _TAU_VBIN,
    dq_tukey_outlier_fences,
    events_kendall_tau_hour,
    events_mann_whitney_u,
    events_winsorized_mean_binned,
)

# 4-value domain => massive ties; a couple of larger magnitudes so the
# winsorized/Tukey bins are not all identical
_val = st.sampled_from([0.5, 1.0, 1.5, 2.0, 7.25, 151.0])
_type = st.sampled_from([MWU_A, MWU_B, "view"])
_hour = st.integers(min_value=0, max_value=23)

# NO degenerate-case filters (r12 verdict): empty MWU groups, all-tied
# pools, and single-bin margins are LEGAL inputs — the operators must
# return NULL statistics there, never abort, and the brute-force replay
# asserts exactly that.
_rows = st.lists(
    st.tuples(_hour, st.integers(min_value=1, max_value=5), _type, _val),
    min_size=8,
    max_size=40,
)

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _avg_ranks(vals):
    sv = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and vals[sv[j + 1]] == vals[sv[i]]:
            j += 1
        for k in range(i, j + 1):
            ranks[sv[k]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_rank_statistics_agree_with_bruteforce(spark, rows, tmp_path_factory):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [
        (
            i,
            base + dt.timedelta(days=i % 28, hours=h),
            int(u),
            t,
            float(v),
        )
        for i, (h, u, t, v) in enumerate(rows)
    ]
    d = tmp_path_factory.mktemp("prop")
    spark.createDataFrame(data, _SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/events.parquet")
    sf = str(d)

    vals = [v for *_, v in data]
    n = len(vals)

    # --- Mann–Whitney ---------------------------------------------------
    a = [v for *_, t, v in data if t == MWU_A]
    b = [v for *_, t, v in data if t == MWU_B]
    pool = a + b
    r = events_mann_whitney_u(spark, sf).collect()[0]
    if not pool:
        # empty pool: the 1-row agg is all-NULL (both engines)
        assert r["n1"] is None and r["n2"] is None
        assert r["u2_stat"] is None and r["z_score"] is None
    else:
        ranks = _avg_ranks(pool)
        n1, n2 = len(a), len(b)
        big_n = n1 + n2
        u = sum(ranks[:n1]) - n1 * (n1 + 1) / 2.0
        ties = {}
        for v in pool:
            ties[v] = ties.get(v, 0) + 1
        tie3 = sum(t**3 - t for t in ties.values())
        var_u = (
            n1 * n2 * ((big_n + 1) - tie3 / (big_n * (big_n - 1))) / 12.0
            if big_n > 1
            else 0.0
        )
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["u2_stat"] == round(2 * u)
        assert abs(r["u_stat"] - u) < 1e-9
        if var_u > 0:
            z = (u - n1 * n2 / 2.0) / math.sqrt(var_u)
            assert abs(r["z_score"] - z) < 1e-9
        else:
            # all-tied pool / empty group: z undefined => NULL, not abort
            assert r["z_score"] is None

    # --- Kendall τ-b ------------------------------------------------------
    xs = [
        (ts.hour, math.floor(v / _TAU_VBIN))
        for _, ts, _, _, v in data
    ]
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[i][0] > xs[j][0]) - (xs[i][0] < xs[j][0])
            dy = (xs[i][1] > xs[j][1]) - (xs[i][1] < xs[j][1])
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    tx: dict = {}
    ty: dict = {}
    for x, y in xs:
        tx[x] = tx.get(x, 0) + 1
        ty[y] = ty.get(y, 0) + 1
    n1t = sum(c * (c - 1) // 2 for c in tx.values())
    n2t = sum(c * (c - 1) // 2 for c in ty.values())
    rk = events_kendall_tau_hour(spark, sf).collect()[0]
    assert rk["n"] == n
    assert (rk["concordant"], rk["discordant"]) == (conc, disc)
    denom = float(n0 - n1t) * float(n0 - n2t)
    if denom > 0:
        assert abs(rk["tau_b"] - (conc - disc) / math.sqrt(denom)) < 1e-12
    else:
        # constant margin (all one hour or all one value bin):
        # tau-b undefined => NULL, not an ANSI divide-by-zero abort
        assert rk["tau_b"] is None

    # --- binned winsorized mean -------------------------------------------
    c = n // 100  # tiny n => c = 0, the degenerate-clip edge case
    bins = sorted({math.floor(v) for v in vals})
    cnt = {bb: sum(1 for v in vals if math.floor(v) == bb) for bb in bins}
    cum = 0
    lo_bin = hi_bin = None
    for bb in bins:
        cum += cnt[bb]
        if lo_bin is None and cum >= c + 1:
            lo_bin = bb
        if hi_bin is None and cum >= n - c:
            hi_bin = bb
    wvals = [
        float(lo_bin)
        if math.floor(v) < lo_bin
        else (float(hi_bin + 1) if math.floor(v) > hi_bin else v)
        for v in vals
    ]
    rw = events_winsorized_mean_binned(spark, sf).collect()[0]
    assert rw["n_events"] == n and rw["clip_target_each_side"] == c
    assert (rw["lo_edge"], rw["hi_edge"]) == (
        float(lo_bin),
        float(hi_bin + 1),
    )
    assert abs(rw["winsorized_mean_binned"] - sum(wvals) / n) < 1e-9

    # --- Tukey fences -------------------------------------------------------
    rows_t = {
        row["event_type"]: row
        for row in dq_tukey_outlier_fences(spark, sf).collect()
    }
    by_type: dict = {}
    for *_, t, v in data:
        by_type.setdefault(t, []).append(v)
    assert set(rows_t) == set(by_type)
    for t, vs in by_type.items():
        vs = sorted(vs)
        m = len(vs)
        q1 = vs[(m + 3) // 4 - 1]
        q3 = vs[(3 * m + 3) // 4 - 1]
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        rt = rows_t[t]
        assert rt["n"] == m
        assert (rt["q1"], rt["q3"]) == (q1, q3)
        assert rt["n_out_lo"] == sum(1 for v in vs if v < lo)
        assert rt["n_out_hi"] == sum(1 for v in vs if v > hi)
