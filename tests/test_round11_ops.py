"""Round-11 additions: the corpus-adaptive IVF index (similarity11).

Test strategy per SURVEY.md §5: exact replays (numpy) against the Spark
plans, property pins for the sizing formula the oracle gate can't see
(it mirrors the construction), and plan-shape assertions for the scale
contracts.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.operators.ann import (
    NPROBE,
    _CELL_CAP,
    _CENT_SCALE,
    _DIST_SCALE,
    _PLANES24,
    adaptive_cell_bits,
    sim_ivf_adaptive,
    sim_ivf_adaptive_occupancy,
    sim_ivf_adaptive_recall,
)

SF = "/root/testdata/sf0.001"


# --- cell-count formula -----------------------------------------------------


def test_adaptive_cell_bits_formula_matches_duckdb():
    """The Spark side derives the cell-bit count in Python, the oracle
    in SQL — the two integer formulas must agree at EVERY corpus size.
    Swept densely plus every power-of-two boundary up to ~270M."""
    import duckdb

    ns = list(range(1, 5000)) + [
        2**p + d for p in range(12, 28) for d in (-1, 0, 1)
    ]
    rows = duckdb.sql(
        f"SELECT n, LEAST({_CELL_CAP}, GREATEST(2, "
        "LENGTH(BIN(n - 1)) // 2)) FROM (SELECT unnest($ns) AS n)",
        params={"ns": ns},
    ).fetchall()
    bad = [(n, m) for n, m in rows if m != adaptive_cell_bits(n)]
    assert bad == [], bad[:5]


def test_adaptive_cell_bits_balance_contract():
    """2^m is the power of two ≈ √n: C²/n stays within [1/4, 4] for
    every corpus size between the floor and the cap — the IVF balance
    point where probe cost (C) and scan cost (n/C) grow together."""
    for n in [20, 100, 500, 2000, 2048, 2049, 10**5, 10**6, 2**24]:
        m = adaptive_cell_bits(n)
        c = 1 << m
        if m not in (2, _CELL_CAP):  # inside the clamp range
            assert 0.25 <= (c * c) / n <= 4.0, (n, m)
        assert m <= _CELL_CAP
    assert adaptive_cell_bits(2**24 + 1) == _CELL_CAP  # shard territory
    assert adaptive_cell_bits(1) == 2  # floor


# --- staged corpus + numpy replay -------------------------------------------


@pytest.fixture(scope="module")
def ivf_corpus(spark, tmp_path_factory):
    """3000 deterministic vectors (bit_length(2999)=12 ⇒ m=6, 64 cells)
    staged as an embeddings table — a cell count the driver corpora
    (500/2000 rows ⇒ m=4/5) never reach."""
    rng = np.random.RandomState(11)
    n, dim = 3000, 64
    vecs = rng.randn(n, dim).astype(np.float32)
    rows = [
        (int(i), int(i % 10), [float(x) for x in vecs[i]])
        for i in range(n)
    ]
    d = tmp_path_factory.mktemp("ivf") / "corpus"
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    ).repartition(4).write.parquet(f"{d}/embeddings.parquet")
    return str(d), vecs


def _np_cells(vecs: np.ndarray, m: int) -> np.ndarray:
    planes = np.array(_PLANES24[:m], dtype=np.float64)  # m x dim
    bits = (vecs.astype(np.float64) @ planes.T) > 0  # n x m
    return (bits * (1 << np.arange(m))).sum(axis=1).astype(np.int64)


def _np_best_cells(vecs: np.ndarray, cells: np.ndarray, q: np.ndarray):
    """Replay the scaled-integer centroid + distance pipeline exactly:
    centroid = (Σ floor(val·1e9))/1e9/count per (cell, dim);
    d2 = Σ floor((c-q_j)²·1e12); top-NPROBE under (d2, cell) order."""
    v = vecs.astype(np.float64)
    out = {}
    for cell in np.unique(cells):
        sub = v[cells == cell]
        cent = np.floor(sub * _CENT_SCALE).sum(axis=0) / _CENT_SCALE / len(sub)
        d2 = int(np.floor((cent - q) ** 2 * _DIST_SCALE).sum())
        out[int(cell)] = d2
    return sorted(out, key=lambda c: (out[c], c))[:NPROBE]


def test_ivf_adaptive_topk_replay(spark, ivf_corpus):
    """End-to-end numpy replay on the 3000-vector corpus: same cells,
    same scaled-int centroids, same probed cells, same exact-cosine
    top-10 (ties broken by vec_id)."""
    d, vecs = ivf_corpus
    m = adaptive_cell_bits(len(vecs))
    assert m == 6
    got = sim_ivf_adaptive(spark, d).collect()
    assert len(got) == 10 and all(r["cell_bits"] == m for r in got)

    v = vecs.astype(np.float64)
    cells = _np_cells(vecs, m)
    best = _np_best_cells(vecs, cells, v[0])
    in_probe = np.isin(cells, best)
    cos = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    cand = [
        (i, float(cos[i])) for i in np.nonzero(in_probe)[0] if i != 0
    ]
    cand.sort(key=lambda t: (-t[1], t[0]))
    want_ids = [i for i, _ in cand[:10]]
    assert [r["vec_id"] for r in got] == want_ids
    for r, (_, c) in zip(got, cand[:10]):
        assert abs(r["cosine"] - c) < 1e-9


def test_ivf_adaptive_occupancy_accounts_for_corpus(spark, ivf_corpus):
    """The occupancy histogram must partition the corpus exactly: cell
    and vector totals equal the numpy replay's."""
    d, vecs = ivf_corpus
    m = adaptive_cell_bits(len(vecs))
    rows = sim_ivf_adaptive_occupancy(spark, d).collect()
    assert all(r["cell_bits"] == m for r in rows)
    cells = _np_cells(vecs, m)
    _, counts = np.unique(cells, return_counts=True)
    assert sum(r["n_vectors"] for r in rows) == len(vecs)
    assert sum(r["n_cells"] for r in rows) == len(counts)
    assert max(r["max_occ"] for r in rows) == counts.max()


def test_ivf_adaptive_recall_replay(spark, ivf_corpus):
    """Per-anchor recall audit vs the numpy replay: candidate counts
    are the probed cells' populations (minus self), hits are the exact
    top-10 members inside them, recall_ppm is the exact integer ppm."""
    d, vecs = ivf_corpus
    m = adaptive_cell_bits(len(vecs))
    got = {r["anchor"]: r for r in sim_ivf_adaptive_recall(spark, d).collect()}
    assert len(got) == 8
    v = vecs.astype(np.float64)
    cells = _np_cells(vecs, m)
    norms = np.linalg.norm(v, axis=1)
    for a in range(8):
        best = _np_best_cells(vecs, cells, v[a])
        in_probe = np.isin(cells, best)
        cos = (v @ v[a]) / (norms * norms[a])
        order = sorted(
            (i for i in range(len(vecs)) if i != a),
            key=lambda i: (-cos[i], i),
        )
        top10 = set(order[:10])
        n_cand = int(in_probe.sum()) - (1 if in_probe[a] else 0)
        n_hits = sum(1 for i in top10 if in_probe[i])
        r = got[a]
        assert r["cell_bits"] == m
        assert r["n_candidates"] == n_cand
        assert r["n_hits"] == n_hits
        assert r["recall_ppm"] == 1000000 * n_hits // 10


# --- plan shape -------------------------------------------------------------


def test_ivf_adaptive_plan_shape(spark):
    """The serving plan must be the IVF shape: broadcast joins for the
    probed-cell and query frames (never a shuffle join against the tiny
    sides) and TakeOrderedAndProject for the top-10 (never a global
    sort of the scored cells)."""
    plan = sim_ivf_adaptive(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# --- pipeline15 widening batch ----------------------------------------------


def _docs_pdf(sf=SF):
    import pandas as pd

    return pd.read_parquet(f"{sf}/documents.parquet")


def test_ndcg_at_k_replay(spark):
    """numpy replay of NDCG@10 at sf0.001: exact cosine ranking,
    binary same-label gain, the embedded integer discounts."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline15 import (
        _DISC,
        _IDCG_CUM,
        _N_QUERIES,
        ml_ndcg_at_k,
    )

    got = {r["query_id"]: r for r in ml_ndcg_at_k(spark, SF).collect()}
    pdf = pd.read_parquet(f"{SF}/embeddings.parquet")
    v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    labels = pdf["label"].to_numpy()
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(v, axis=1)
    corpus = ids >= _N_QUERIES
    assert len(got) == _N_QUERIES
    for qi in range(_N_QUERIES):
        q = v[ids == qi][0]
        qn = np.linalg.norm(q)
        cos = (v @ q) / (norms * qn)
        order = sorted(
            np.nonzero(corpus)[0], key=lambda i: (-cos[i], ids[i])
        )
        rel = [labels[i] == labels[ids == qi][0] for i in order]
        n_rel = int(sum(rel))
        dcg = sum(_DISC[r] for r in range(10) if r < len(rel) and rel[r])
        idcg = _IDCG_CUM[min(n_rel, 10) - 1] if n_rel else 0
        r = got[qi]
        assert r["n_rel"] == n_rel
        assert r["dcg_x1e9"] == dcg
        assert r["idcg_x1e9"] == idcg
        want = dcg / idcg if n_rel else 0.0
        assert abs(r["ndcg"] - want) < 1e-12


def test_mcc_consistent_with_confusion_thresholds(spark):
    """MCC's confusion cells must be byte-identical to the established
    ml_confusion_thresholds cells at the shared operating points, and
    the MCC value must equal the textbook formula on those cells."""
    import math as m

    from project_final_parquet_spark.operators.ml_eval import (
        ml_confusion_thresholds,
    )
    from project_final_parquet_spark.operators.pipeline15 import (
        ml_mcc_at_thresholds,
    )

    mcc = {r["pct"]: r for r in ml_mcc_at_thresholds(spark, SF).collect()}
    conf = {r["pct"]: r for r in ml_confusion_thresholds(spark, SF).collect()}
    assert set(mcc) == set(conf) == {10, 25, 50}
    for pct, r in mcc.items():
        c = conf[pct]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
            c["tp"], c["fp"], c["fn"], c["tn"]
        )
        tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
        denom = m.sqrt(
            ((float(tp + fp) * (tp + fn)) * (tn + fp)) * (tn + fn)
        )
        want = (float(tp) * tn - float(fp) * fn) / denom if denom else 0.0
        assert abs(r["mcc"] - want) < 1e-12
        assert -1.0 <= r["mcc"] <= 1.0


def test_dup_ngram_coverage_replay(spark):
    """Pure-Python replay of the duplicated-5-gram coverage at
    sf0.001."""
    from collections import Counter, defaultdict

    from project_final_parquet_spark.operators.pipeline15 import (
        text_dup_ngram_coverage,
    )

    pdf = _docs_pdf()
    gram_docs = defaultdict(set)
    per_doc = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        t = text.split(" ")
        grams = [" ".join(t[i:i + 5]) for i in range(len(t) - 4)]
        if grams:
            per_doc[doc_id] = grams
            for g in set(grams):
                gram_docs[g].add(doc_id)
    got = {r["doc_id"]: r for r in text_dup_ngram_coverage(spark, SF).collect()}
    assert set(got) == set(per_doc)
    for doc_id, grams in per_doc.items():
        n_dup = sum(1 for g in grams if len(gram_docs[g]) >= 2)
        r = got[doc_id]
        assert r["n_grams"] == len(grams)
        assert r["n_dup"] == n_dup
        assert r["dup_ppm"] == 1000000 * n_dup // len(grams)


def test_priority_pps_replay_and_plan(spark):
    """Exact Python replay of the DLT priority sample (same md5 keys,
    same IEEE arithmetic), plus the scale-shape pin: the top-(k+1)
    selection must compile to TakeOrderedAndProject, not a global
    sort."""
    import hashlib

    import pandas as pd

    from project_final_parquet_spark.operators.pipeline15 import (
        _HEX15,
        _PPS_K,
        _PPS_SEED,
        sample_priority_pps,
    )

    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    rows = []
    for ok, w in zip(pdf["o_orderkey"], pdf["o_totalprice"]):
        h = int(
            hashlib.md5(f"{ok}:{_PPS_SEED}".encode()).hexdigest()[:15], 16
        )
        rows.append((int(ok), float(w), (float(w) * _HEX15) / float(h + 1)))
    rows.sort(key=lambda t: (-t[2], t[0]))
    tau = rows[_PPS_K][2] if len(rows) > _PPS_K else None
    want = {
        ok: (w, p, w if tau is None else (w if w > tau else tau))
        for ok, w, p in rows[:_PPS_K]
    }
    df = sample_priority_pps(spark, SF)
    got = {r["o_orderkey"]: r for r in df.collect()}
    assert set(got) == set(want)
    for ok, (w, p, ew) in want.items():
        r = got[ok]
        assert r["weight"] == w
        assert r["priority"] == p  # bit-exact IEEE agreement
        assert r["est_weight"] == ew
    # every sampled row's estimator weight is >= its raw weight, and
    # the estimator total dominates the sampled-weight total (the DLT
    # threshold construction)
    assert all(r["est_weight"] >= r["weight"] for r in got.values())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_hits_authorities_replay(spark):
    """pandas replay of the 2-iteration integer HITS on the
    customer-part bipartite graph at sf0.001."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline15 import (
        _HITS_TOP,
        graph_hits_authorities,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")[
        ["o_orderkey", "o_custkey"]
    ]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ]
    e = (
        orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
            ["o_custkey", "l_partkey"]
        ]
        .drop_duplicates()
        .rename(columns={"o_custkey": "cust", "l_partkey": "part"})
    )
    a1 = e.groupby("part").size().rename("a")
    h1 = e.join(a1, on="part").groupby("cust")["a"].sum().rename("h")
    a2 = e.join(h1, on="cust").groupby("part")["h"].sum().rename("auth2")
    tbl = pd.concat([a1, a2], axis=1).reset_index()
    tbl = tbl.sort_values(["auth2", "part"], ascending=[False, True])
    want = [
        (int(r.part), int(r.a), int(r.auth2))
        for r in tbl.head(_HITS_TOP).itertuples()
    ]
    got = [
        (r["partkey"], r["auth1"], r["auth2"])
        for r in graph_hits_authorities(spark, SF).collect()
    ]
    assert got == want


# --- pipeline16: statistical-rigor batch ------------------------------------


def test_ks_source_drift_replay(spark):
    """Exact KS replay in Python at sf0.001 (cross-multiplied ECDF
    gap, smallest argmax)."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline16 import (
        _KS_A,
        _KS_B,
        dq_ks_source_drift,
    )

    pdf = _docs_pdf()
    a = sorted(pdf[pdf.source == _KS_A]["n_chars"])
    b = sorted(pdf[pdf.source == _KS_B]["n_chars"])
    n1, n2 = len(a), len(b)
    best = (-1, None)
    for v in sorted(set(a) | set(b)):
        c1 = sum(1 for x in a if x <= v)
        c2 = sum(1 for x in b if x <= v)
        d = abs(c1 * n2 - c2 * n1)
        if d > best[0]:
            best = (d, v)
    r = dq_ks_source_drift(spark, SF).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["d_num"] == best[0]
    assert r["at_value"] == best[1]
    assert abs(r["ks_stat"] - best[0] / (n1 * n2)) < 1e-15
    assert 0.0 <= r["ks_stat"] <= 1.0


def test_bootstrap_ci_replay(spark):
    """Exact replay of the deterministic Poisson bootstrap at
    sf0.001: same md5-derived weights, same replicate means, same
    order statistics."""
    import hashlib

    import pandas as pd

    from project_final_parquet_spark.operators.pipeline16 import (
        _BOOT_B,
        _BOOT_SEED,
        _POIS_T,
        events_value_bootstrap_ci,
    )

    pdf = pd.read_parquet(f"{SF}/events.parquet")[["event_id", "value"]]
    means = []
    for b in range(_BOOT_B):
        sw = swx = 0.0
        nd = 0
        for eid, val in zip(pdf["event_id"], pdf["value"]):
            h = int(
                hashlib.md5(
                    f"{eid}:{_BOOT_SEED}:{b}".encode()
                ).hexdigest()[:15],
                16,
            )
            w = sum(1 for t in _POIS_T if h >= t)
            nd += w
            swx += w * val  # replay uses exact decimal-ish float sum
        means.append((nd, swx))
    # decimal-sum convention: python float sum differs from the exact
    # decimal sum in the last ulp, so compare loosely on the means but
    # EXACTLY on the integer draw counts via the replicate frame
    from decimal import Decimal

    exact_means = []
    for b in range(_BOOT_B):
        tot = Decimal(0)
        nd = 0
        for eid, val in zip(pdf["event_id"], pdf["value"]):
            h = int(
                hashlib.md5(
                    f"{eid}:{_BOOT_SEED}:{b}".encode()
                ).hexdigest()[:15],
                16,
            )
            w = sum(1 for t in _POIS_T if h >= t)
            nd += w
            tot += Decimal(w * val).quantize(Decimal("0.0000000001"))
        exact_means.append(float(tot) / nd)
    reps = sorted(exact_means)
    r = events_value_bootstrap_ci(spark, SF).collect()[0]
    assert r["n_events"] == len(pdf)
    assert r["n_replicates"] == _BOOT_B
    assert abs(r["ci_lo"] - reps[1]) < 1e-9
    assert abs(r["ci_hi"] - reps[_BOOT_B - 2]) < 1e-9
    assert r["ci_lo"] <= r["ci_hi"]
    # the point estimate sits inside (or at worst at) the ~90% CI for
    # a well-behaved mean on this corpus
    assert r["ci_lo"] - 1e-9 <= r["mean_value"] <= r["ci_hi"] + 1e-9


def test_winsorized_mean_replay(spark):
    """Exact order-statistic replay at sf0.001: clip points, clipped
    count, and both means."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline16 import (
        events_winsorized_mean,
    )

    pdf = pd.read_parquet(f"{SF}/events.parquet")[["event_id", "value"]]
    rows = sorted(zip(pdf["value"], pdf["event_id"]))
    n = len(rows)
    c = n // 100
    lo = rows[c][0]
    hi = rows[n - c - 1][0]
    vals = [v for v, _ in rows]
    wins = [min(max(v, lo), hi) for v in vals]
    r = events_winsorized_mean(spark, SF).collect()[0]
    assert r["n_events"] == n
    assert r["n_clipped_each_side"] == c
    assert r["lo_clip"] == lo and r["hi_clip"] == hi
    assert abs(r["raw_mean"] - sum(vals) / n) < 1e-9
    assert abs(r["winsorized_mean"] - sum(wins) / n) < 1e-9
    # winsorizing can only pull the mean toward the clip interval
    assert lo <= r["winsorized_mean"] <= hi


def test_neyman_allocation_replay(spark):
    """Replay Neyman ∝ N_h·S_h with Hamilton rounding at sf0.001:
    allocations sum EXACTLY to the budget and match the per-stratum
    replay."""
    import math as m

    import pandas as pd

    from project_final_parquet_spark.operators.pipeline16 import (
        _NEYMAN_K,
        sample_neyman_allocation,
    )

    pdf = pd.read_parquet(f"{SF}/events.parquet")[["event_type", "value"]]
    wts = {}
    for et, grp in pdf.groupby("event_type"):
        v = grp["value"].to_numpy()
        m1, m2 = v.mean(), (v * v).mean()
        wts[et] = (len(v), len(v) * m.sqrt(m2 - m1 * m1))
    tw = sum(w for _, w in wts.values())
    quota = {et: _NEYMAN_K * w / tw for et, (_, w) in wts.items()}
    base = {et: int(q) for et, q in quota.items()}
    short = _NEYMAN_K - sum(base.values())
    order = sorted(quota, key=lambda et: (-(quota[et] - base[et]), et))
    alloc = dict(base)
    for et in order[:short]:
        alloc[et] += 1
    got = {r["event_type"]: r for r in sample_neyman_allocation(spark, SF).collect()}
    assert sum(r["alloc"] for r in got.values()) == _NEYMAN_K
    for et, r in got.items():
        assert r["n_h"] == wts[et][0]
        # float-vs-decimal reduction differs in the last ulp; the
        # integer allocation must still agree
        assert r["alloc"] == alloc[et], et


# --- dedup4: corpus-adaptive MinHash banding --------------------------------


def test_adaptive_rows_per_band_formula_matches_duckdb():
    """The Python ladder and the oracle CASE must agree at every
    corpus size (dense sweep + the 2^12 / 2^20 boundaries)."""
    import duckdb

    from project_final_parquet_spark.operators.dedup import (
        adaptive_rows_per_band,
    )

    ns = list(range(1, 6000)) + [
        2**p + d for p in (12, 20, 24) for d in (-1, 0, 1, 2)
    ]
    rows = duckdb.sql(
        "SELECT n, CASE WHEN LENGTH(BIN(n - 1)) <= 12 THEN 2"
        " WHEN LENGTH(BIN(n - 1)) <= 20 THEN 4 ELSE 8 END"
        " FROM (SELECT unnest($ns) AS n)",
        params={"ns": ns},
    ).fetchall()
    bad = [(n, r) for n, r in rows if r != adaptive_rows_per_band(n)]
    assert bad == [], bad[:5]


def test_minhash_adaptive_equals_fixed_at_small_corpus(spark):
    """At the driver SFs (≤ 4096 docs) r floors at the fixed
    pipeline's 2, so the verified pair set must be IDENTICAL to
    dedup_near_minhash_lsh."""
    from project_final_parquet_spark.operators.dedup import (
        dedup_minhash_adaptive_bands,
        dedup_near_minhash_lsh,
    )

    adapt = dedup_minhash_adaptive_bands(spark, SF).collect()
    fixed = dedup_near_minhash_lsh(spark, SF).collect()
    assert adapt and all(
        r["rows_per_band"] == 2 and r["n_bands"] == 4 for r in adapt
    )
    assert [tuple(r)[2:] for r in adapt] == [tuple(r) for r in fixed]


@pytest.fixture(scope="module")
def big_docs(spark, tmp_path_factory):
    """5000 deterministic docs (> 4096 ⇒ r=4, 2 bands) with planted
    near-dup pairs: doc i and i+2500 share 11 of 12 tokens for
    i < 200 (Jaccard of 3-shingles ≈ 0.64 ≥ τ)."""
    import random

    rng = random.Random(17)
    vocab = [f"w{j}" for j in range(400)]
    texts = {}
    for i in range(2500):
        texts[i] = [rng.choice(vocab) for _ in range(12)]
    for i in range(2500, 5000):
        j = i - 2500
        if j < 200:
            t = list(texts[j])
            t[11] = "zz" + t[11]
            texts[i] = t
        else:
            texts[i] = [rng.choice(vocab) for _ in range(12)]
    rows = [(i, " ".join(t)) for i, t in texts.items()]
    d = tmp_path_factory.mktemp("mh") / "corpus"
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        4
    ).write.parquet(f"{d}/documents.parquet")
    return str(d), texts


def test_minhash_adaptive_grows_and_matches_python_replay(spark, big_docs):
    """On the 5000-doc corpus the ladder must step to r=4 (2 bands)
    and the verified pair set must equal an exact Python replay of the
    SAME signature/banding/verification pipeline."""
    import hashlib

    from project_final_parquet_spark.operators.dedup import (
        _JACCARD_T,
        _MH_A,
        _MH_B,
        _MH_P,
        _MINHASH_K,
        adaptive_rows_per_band,
        dedup_minhash_adaptive_bands,
    )

    d, texts = big_docs
    r = adaptive_rows_per_band(len(texts))
    assert r == 4
    got = dedup_minhash_adaptive_bands(spark, d).collect()
    assert got and all(
        row["rows_per_band"] == 4 and row["n_bands"] == 2 for row in got
    )

    sh = {
        i: sorted(
            {
                " ".join(t[j : j + 3])
                for j in range(len(t) - 2)
            }
        )
        for i, t in texts.items()
    }
    def sig(i):
        bh = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for s in sh[i]
        ]
        return [
            min(((h % _MH_P) * _MH_A[s] + _MH_B[s]) % _MH_P for h in bh)
            for s in range(_MINHASH_K)
        ]
    sigs = {i: sig(i) for i in texts}
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, sg in sigs.items():
        for band in range(_MINHASH_K // r):
            key = (band, tuple(sg[band * r : band * r + r]))
            buckets[key].append(i)
    cand = set()
    for _, members in buckets.items():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add((members[x], members[y]))
    want = []
    for a, b in sorted(cand):
        inter = len(set(sh[a]) & set(sh[b]))
        union = len(set(sh[a]) | set(sh[b]))
        j = inter / union
        if j >= float(_JACCARD_T):
            want.append((a, b, j))
    assert [(row["doc_a"], row["doc_b"]) for row in got] == [
        (a, b) for a, b, _ in want
    ]
    for row, (_, _, j) in zip(got, want):
        assert abs(row["jaccard"] - j) < 1e-12
    # the planted dups must be found
    found = {(row["doc_a"], row["doc_b"]) for row in got}
    planted_hits = sum(1 for i in range(200) if (i, i + 2500) in found)
    assert planted_hits >= 120  # banding recall floor (observed 140/200
    # at r=4, b=2 — the exact pair set is already pinned above)


def test_delong_ci_replay_and_auc_consistency(spark):
    """numpy replay of the DeLong SE (placement variances from the
    same total order) + the pin that the auc column is byte-identical
    to ml_linear_probe_auc's."""
    import math as m

    from project_final_parquet_spark.operators.pipeline16 import (
        ml_auc_delong_ci,
    )
    from project_final_parquet_spark.operators.vector_stats import (
        ml_linear_probe_auc,
        probe_scores,
    )

    r = ml_auc_delong_ci(spark, SF).collect()[0]
    base = ml_linear_probe_auc(spark, SF).collect()[0]
    assert r["n_pos"] == base["n_pos"] and r["n_neg"] == base["n_neg"]
    assert r["auc"] == base["auc"]  # identical rank-sum identity

    rows = sorted(
        (row["score"], row["vec_id"], row["label"])
        for row in probe_scores(spark, SF).collect()
    )
    a_vals, b_vals = [], []
    cp = 0
    for i, (_, _, label) in enumerate(rows, start=1):
        if label == 0:
            cp += 1
            a_vals.append(i - cp)  # negatives strictly below
        else:
            b_vals.append(cp)  # positives strictly below
    mth, nn = len(a_vals), len(b_vals)
    auc = sum(a_vals) / (mth * nn)
    v10 = [a / nn for a in a_vals]
    v01v = [b / nn if False else b for b in b_vals]
    s10 = sum((v - auc) ** 2 for v in v10) / (mth - 1)
    # V01 = 1 - b/m; var equals var of b/m (centering cancels)
    bm = [b / mth for b in b_vals]
    mb = sum(bm) / nn
    s01 = sum((v - mb) ** 2 for v in bm) / (nn - 1)
    se = m.sqrt(s10 / mth + s01 / nn)
    assert abs(r["auc"] - auc) < 1e-12
    assert abs(r["se_delong"] - se) < 1e-9
    assert abs(r["ci_lo"] - (auc - 1.959963984540054 * se)) < 1e-9
    assert abs(r["ci_hi"] - (auc + 1.959963984540054 * se)) < 1e-9
    assert 0 < r["se_delong"] < 0.2
    assert r["ci_lo"] < r["auc"] < r["ci_hi"]


def test_spearman_replay_vs_scipy_free(spark):
    """Exact tie-aware Spearman replay at sf0.001: Pearson on
    tie-averaged ranks, computed independently in pure Python."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline16 import (
        orders_spearman_price_items,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")[
        ["o_orderkey", "o_totalprice"]
    ]
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[["l_orderkey"]]
    counts = li.groupby("l_orderkey").size()
    x, y = [], []
    for ok, p in zip(orders["o_orderkey"], orders["o_totalprice"]):
        x.append(float(p))
        y.append(int(counts.get(ok, 0)))

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j + 1) / 2
            for k2 in range(i, j + 1):
                ranks[order[k2]] = r
            i = j + 1
        return ranks

    rx, ry = avg_ranks(x), avg_ranks(y)
    n = len(rx)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    import math as m

    den = m.sqrt(sum((a - mx) ** 2 for a in rx)) * m.sqrt(
        sum((b - my) ** 2 for b in ry)
    )
    want = num / den
    r = orders_spearman_price_items(spark, SF).collect()[0]
    assert r["n"] == n
    assert abs(r["spearman_rho"] - want) < 1e-9
    # synthetic o_totalprice is independent of line items, so the
    # honest readout is ~0 association; the replay above is the pin
    assert -1.0 <= r["spearman_rho"] <= 1.0


def test_priority_pps_scale_invariance(spark, tmp_path):
    """DLT property: multiplying every weight by a constant scales
    every priority by the same constant, so the SELECTED SET is
    invariant (est_weight scales linearly). Staged by rewriting the
    orders table with 1000x prices."""
    import pandas as pd

    from project_final_parquet_spark.operators.pipeline15 import (
        sample_priority_pps,
    )

    base = {r["o_orderkey"]: r for r in sample_priority_pps(spark, SF).collect()}
    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    pdf["o_totalprice"] = pdf["o_totalprice"] * 1000.0
    d = tmp_path / "scaled"
    d.mkdir()
    pdf.to_parquet(f"{d}/orders.parquet")
    scaled = {
        r["o_orderkey"]: r
        for r in sample_priority_pps(spark, str(d)).collect()
    }
    assert set(scaled) == set(base)  # identical sample membership
    for ok, r in scaled.items():
        assert abs(r["weight"] - base[ok]["weight"] * 1000.0) < 1e-6
        assert (
            abs(r["est_weight"] - base[ok]["est_weight"] * 1000.0)
            / r["est_weight"]
            < 1e-12
        )
