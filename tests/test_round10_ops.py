"""Round-10 additions: the corpus-adaptive LSH index, the distributed
footer scan, and the q71 prefix-distinct regression from ADVICE r9.

Test strategy per SURVEY.md §5: exact replays (numpy/pandas or pure
Python) against the Spark plans, property pins for the invariants the
oracle gate can't see (it mirrors the construction), and plan-shape
assertions for the scale contracts.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.operators.ann import (
    _MAX_PLANES,
    _N_PLANES,
    _PLANES24,
    _TARGET_OCC,
    adaptive_planes,
    ml_knn_purity_adaptive,
    sim_pair_margin_adaptive,
    sim_range_search_adaptive,
)

SF = "/root/testdata/sf0.001"


# --- plane-count formula ----------------------------------------------------


def test_adaptive_planes_formula_matches_duckdb():
    """The Spark side derives the plane count in Python, the oracle in
    SQL — the two integer formulas must agree at EVERY corpus size or
    the gate would compare different indexes. Swept densely through
    every plane boundary up to ~1M vectors."""
    import duckdb

    ns = list(range(1, 5000)) + [2**p * _TARGET_OCC + d
                                 for p in range(6, 28) for d in (-1, 0, 1)]
    rows = duckdb.sql(
        f"SELECT n, LEAST({_MAX_PLANES}, GREATEST(6, LENGTH(BIN((n - 1)"
        f" // {_TARGET_OCC})))) FROM (SELECT unnest($ns) AS n)",
        params={"ns": ns},
    ).fetchall()
    bad = [(n, k) for n, k in rows if k != adaptive_planes(n)]
    assert bad == [], bad[:5]


def test_adaptive_planes_occupancy_contract():
    """planes(n) is the SMALLEST count with expected occupancy ≤ 32
    (floored at 6): n/2^k ≤ 32 < n/2^(k-1) whenever k > 6."""
    for n in [1, 100, 2048, 2049, 5000, 10**5, 10**6, 2**24 * 32]:
        k = adaptive_planes(n)
        assert n <= (1 << k) * _TARGET_OCC
        if k > 6:
            assert n > (1 << (k - 1)) * _TARGET_OCC
        assert k <= _MAX_PLANES  # oracle literal width covers it
    # past the cap the count clamps (shard-the-corpus territory)
    assert adaptive_planes(2**24 * 32 + 1) == _MAX_PLANES


def test_adaptive_planes_extend_fixed_index():
    """Planes 0..5 of the adaptive index ARE the fixed index — same
    md5-derived seed, so small corpora are bit-identical."""
    from project_final_parquet_spark.operators.ann import _PLANES

    assert _PLANES == _PLANES24[:_N_PLANES]


# --- small-corpus equivalence ----------------------------------------------


def test_range_search_adaptive_equals_fixed_at_small_corpus(spark):
    """At the driver SFs (n ≤ 2048) the adaptive index floors at the
    fixed index's 6 planes, so the two range searches must return the
    IDENTICAL pair set."""
    from project_final_parquet_spark.operators.ann import sim_range_search_lsh

    adapt = sim_range_search_adaptive(spark, SF)
    fixed = sim_range_search_lsh(spark, SF)
    a = [tuple(r) for r in adapt.collect()]
    f = [tuple(r) for r in fixed.collect()]
    assert all(r[0] == 6 for r in a)  # n_planes column
    assert [r[1:] for r in a] == f


# --- growth + brute-force replay on a staged corpus -------------------------


@pytest.fixture(scope="module")
def big_corpus(spark, tmp_path_factory):
    """3000 deterministic vectors (> 2048 ⇒ 7 planes) staged as an
    embeddings table — crosses the first plane boundary the driver
    corpora never reach."""
    rng = np.random.RandomState(7)
    n, dim = 3000, 64
    vecs = rng.randn(n, dim).astype(np.float32)
    rows = [
        (int(i), int(i % 10), [float(x) for x in vecs[i]])
        for i in range(n)
    ]
    d = tmp_path_factory.mktemp("adaptive") / "corpus"
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    ).repartition(4).write.parquet(f"{d}/embeddings.parquet")
    return str(d), vecs


def _np_buckets(vecs: np.ndarray, k: int) -> np.ndarray:
    planes = np.array(_PLANES24[:k], dtype=np.float64)  # k x dim
    bits = (vecs.astype(np.float64) @ planes.T) > 0  # n x k
    return (bits * (1 << np.arange(k))).sum(axis=1).astype(np.int64)


def test_range_search_adaptive_grows_and_matches_bruteforce(
    spark, big_corpus
):
    """On the 3000-vector corpus the index must grow to 7 planes and
    the result must equal an independent numpy replay: bucket by the
    same 7 plane literals, enumerate same-bucket pairs, keep exact
    cosine ≥ 0.35."""
    d, vecs = big_corpus
    k = adaptive_planes(len(vecs))
    assert k == 7
    got = sim_range_search_adaptive(spark, d).collect()
    assert got and all(r["n_planes"] == 7 for r in got)

    buckets = _np_buckets(vecs, k)
    v64 = vecs.astype(np.float64)
    nrm = np.sqrt((v64 * v64).sum(axis=1))
    expect = []
    order = np.argsort(buckets, kind="stable")
    import itertools

    for _, grp in itertools.groupby(order, key=lambda i: buckets[i]):
        ids = sorted(grp)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                i, j = ids[x], ids[y]
                cos = float(v64[i] @ v64[j] / (nrm[i] * nrm[j]))
                if cos >= 0.35:
                    expect.append((i, j))
    got_pairs = sorted((r["vec_a"], r["vec_b"]) for r in got)
    assert got_pairs == sorted(expect)
    # spot-check the cosines to fold precision (engines fold in list
    # order; numpy dot reorders — tolerance, not equality)
    by_pair = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in got}
    for i, j in got_pairs[:50]:
        cos = float(v64[i] @ v64[j] / (nrm[i] * nrm[j]))
        assert abs(by_pair[(i, j)] - cos) < 1e-9


def test_knn_purity_adaptive_matches_bruteforce(spark, big_corpus):
    """Per-class 1-NN purity on the 7-plane corpus vs a numpy replay of
    the radius-1 probe semantics (own bucket + single-bit flips)."""
    d, vecs = big_corpus
    k = adaptive_planes(len(vecs))
    buckets = _np_buckets(vecs, k)
    v64 = vecs.astype(np.float64)
    nrm = np.sqrt((v64 * v64).sum(axis=1))
    labels = np.arange(len(vecs)) % 10

    from collections import defaultdict

    by_bucket = defaultdict(list)
    for i, b in enumerate(buckets):
        by_bucket[int(b)].append(i)
    same = defaultdict(int)
    total = defaultdict(int)
    for i in range(len(vecs)):
        cands = []
        for m in [0] + [1 << p for p in range(k)]:
            cands.extend(by_bucket.get(int(buckets[i]) ^ m, ()))
        cands = [c for c in cands if c != i]
        if not cands:
            continue
        cos = v64[cands] @ v64[i] / (nrm[cands] * nrm[i])
        # top-1 by (cosine DESC, id ASC) — the plan's tiebreak
        best = min(zip(-cos, cands))[1]
        total[int(labels[i])] += 1
        same[int(labels[i])] += int(labels[best] == labels[i])

    got = {
        r["label"]: (r["n_anchors"], r["n_same"])
        for r in ml_knn_purity_adaptive(spark, d).collect()
    }
    expect = {lbl: (total[lbl], same[lbl]) for lbl in total}
    assert got == expect


def test_pair_margin_adaptive_reports_plane_count(spark, big_corpus):
    """The margin audit's gated row pins the adaptive plane count and
    stays internally consistent (n_negative_margin ≤ n_anchors,
    frac == ratio)."""
    d, _ = big_corpus
    row = sim_pair_margin_adaptive(spark, d).collect()[0]
    assert row["n_planes"] == 7
    assert 0 < row["n_anchors"] <= 3000
    assert 0 <= row["n_negative_margin"] <= row["n_anchors"]
    assert (
        abs(
            row["frac_negative"]
            - row["n_negative_margin"] / row["n_anchors"]
        )
        < 1e-12
    )


# --- q71 ADVICE regression ---------------------------------------------------


def test_q71_prefix_distinct_is_exact(spark):
    """ADVICE r9: the marker window must walk the SAME o_orderkey
    sequence as the running sum. Replay: at every output row the
    value must equal the TRUE number of distinct priorities among the
    customer's orders with o_orderkey ≤ this one (the oracle mirrors
    the construction, so only an independent replay can catch this)."""
    from project_final_parquet_spark.operators.relational import (
        q71_window_distinct_count,
    )

    out = q71_window_distinct_count(spark, SF).collect()
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_custkey") % 10 == 0)
        .select("o_custkey", "o_orderkey", "o_orderpriority")
        .collect()
    )
    prio = {
        (r["o_custkey"], r["o_orderkey"]): r["o_orderpriority"]
        for r in orders
    }
    from collections import defaultdict

    by_cust = defaultdict(list)
    for c, k in prio:
        by_cust[c].append(k)
    truth = {}
    for c, keys in by_cust.items():
        seen = set()
        for k in sorted(keys):
            seen.add(prio[(c, k)])
            truth[(c, k)] = len(seen)
    assert out  # non-degenerate
    for r in out:
        key = (r["o_custkey"], r["o_orderkey"])
        assert r["distinct_priorities_so_far"] == truth[key], key


# --- distributed footer scan -------------------------------------------------


def test_profile_column_storage_multifile_and_distributed(
    spark, tmp_path
):
    """The round-10 rework: footers parse inside mapInPandas (plan
    shape asserted), and a MULTI-file staged table aggregates to the
    same numbers a driver-side pyarrow loop computes — proving the
    driver no longer loops files while keeping footer parity."""
    import pyarrow.parquet as pq

    from project_final_parquet_spark.operators.pipeline13 import (
        profile_column_storage,
    )

    d = tmp_path / "corpus"
    (
        spark.read.parquet(f"{SF}/orders.parquet")
        .repartition(5)
        .write.parquet(f"{d}/orders.parquet")
    )
    df = profile_column_storage(spark, str(d))
    assert "MapInPandas" in df._jdf.queryExecution().toString()
    got = {
        r["column_name"]: (r["compressed_bytes"], r["uncompressed_bytes"])
        for r in df.collect()
    }
    expect: dict[str, list[int]] = {}
    from pathlib import Path

    for f in sorted(Path(f"{d}/orders.parquet").glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                cur = expect.setdefault(col.path_in_schema, [0, 0])
                cur[0] += col.total_compressed_size
                cur[1] += col.total_uncompressed_size
    assert got == {n: tuple(v) for n, v in expect.items()}


def test_hard_negatives_adaptive_equals_fixed_at_small_corpus(spark):
    """Same small-corpus bit-identity contract for the mining twins:
    at n ≤ 2048 the adaptive index IS the 6-plane index, so hardest
    negatives and reciprocal-NN pairs must match the r8 fixed forms."""
    from project_final_parquet_spark.operators.ann import (
        sample_hard_negatives_adaptive,
        sample_hard_negatives_bucketed,
        sim_reciprocal_nn_adaptive,
        sim_reciprocal_nn_bucketed,
    )

    hn_a = [tuple(r) for r in
            sample_hard_negatives_adaptive(spark, SF).collect()]
    hn_f = [tuple(r) for r in
            sample_hard_negatives_bucketed(spark, SF).collect()]
    assert all(r[0] == 6 for r in hn_a)
    assert [r[1:] for r in hn_a] == hn_f
    rn_a = [tuple(r) for r in
            sim_reciprocal_nn_adaptive(spark, SF).collect()]
    rn_f = [tuple(r) for r in
            sim_reciprocal_nn_bucketed(spark, SF).collect()]
    assert all(r[0] == 6 for r in rn_a)
    assert [r[1:] for r in rn_a] == rn_f


# --- pipeline14 replays ------------------------------------------------------


def test_mode_per_group_replay(spark):
    from collections import Counter

    from project_final_parquet_spark.operators.pipeline14 import (
        q73_mode_per_group,
    )

    rows = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["o_orderstatus"], Counter())[
            r["o_orderpriority"]
        ] += 1
    got = {r["o_orderstatus"]: r for r in q73_mode_per_group(spark, SF).collect()}
    assert set(got) == set(by_status)
    for status, cnt in by_status.items():
        # (count DESC, value ASC) tiebreak
        modal = min(cnt, key=lambda v: (-cnt[v], v))
        r = got[status]
        assert r["modal_priority"] == modal
        assert r["n_orders"] == cnt[modal]
        assert abs(r["share"] - cnt[modal] / sum(cnt.values())) < 1e-15


def test_percent_rank_cume_dist_replay(spark):
    from project_final_parquet_spark.operators.pipeline14 import (
        q74_percent_rank_cume_dist,
    )

    src = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_custkey") % 50 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .collect()
    )
    from collections import defaultdict

    groups = defaultdict(list)
    price = {}
    for r in src:
        groups[r["o_orderpriority"]].append(r["o_orderkey"])
        price[r["o_orderkey"]] = r["o_totalprice"]
    got = q74_percent_rank_cume_dist(spark, SF).collect()
    assert len(got) == len(src)
    for r in got:
        peers = [price[k] for k in groups[r["o_orderpriority"]]]
        n = len(peers)
        x = price[r["o_orderkey"]]
        rank = 1 + sum(1 for p in peers if p < x)
        assert r["pct_rank"] == ((rank - 1) / (n - 1) if n > 1 else 0.0)
        assert r["cume"] == sum(1 for p in peers if p <= x) / n


def test_modularity_brands_replay(spark, sf_dir):
    """Exact-integer replay of Q's terms on the collected edge list,
    plus the partition-theory invariant Σ_c d_c == 2m when every
    vertex is branded (parts always are)."""
    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
    )
    from project_final_parquet_spark.operators.pipeline14 import (
        graph_modularity_brands,
    )

    edges = [(r["a"], r["b"]) for r in copurchase_edges(spark, SF).collect()]
    brand = {
        r["p_partkey"]: r["p_brand"]
        for r in spark.read.parquet(f"{SF}/part.parquet").collect()
    }
    m = len(edges)
    from collections import defaultdict

    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    d_c = defaultdict(int)
    for v, d in deg.items():
        d_c[brand[v]] += d
    m_c = defaultdict(int)
    for a, b in edges:
        if brand[a] == brand[b]:
            m_c[brand[a]] += 1
    got = graph_modularity_brands(spark, SF).collect()
    assert {r["brand"] for r in got} == set(d_c)
    assert sum(r["degree_sum"] for r in got) == 2 * m
    for r in got:
        assert r["m_within"] == m_c[r["brand"]]
        assert r["degree_sum"] == d_c[r["brand"]]
        dd = r["degree_sum"] / (2 * m)
        assert r["contribution"] == r["m_within"] / m - dd * dd


def test_zipf_constancy_replay(spark):
    from collections import Counter

    from project_final_parquet_spark.operators.pipeline14 import (
        text_zipf_constancy,
    )

    cnt = Counter()
    for r in spark.read.parquet(f"{SF}/documents.parquet").select(
        "text"
    ).collect():
        cnt.update(r["text"].split(" "))
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    f1 = max(f for _, f in top)
    got = text_zipf_constancy(spark, SF).collect()
    assert [(r["rank"], r["tok"], r["freq"]) for r in got] == [
        (i + 1, t, f) for i, (t, f) in enumerate(top)
    ]
    for r in got:
        assert r["rank_x_freq"] == r["rank"] * r["freq"]
        assert r["constancy"] == r["rank"] * r["freq"] / f1


def test_pareto_frontier_replay(spark):
    from project_final_parquet_spark.operators.pipeline14 import (
        orders_pareto_frontier,
    )

    rows = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderdate", "o_totalprice", "o_orderkey"
    ).collect()
    daily = {}
    for r in rows:
        cur = daily.get(r["o_orderdate"])
        cand = (r["o_totalprice"], -r["o_orderkey"])
        if cur is None or cand > cur:
            daily[r["o_orderdate"]] = cand
    frontier = []
    best = None
    for day in sorted(daily):
        price, negkey = daily[day]
        if best is None or price > best:
            frontier.append((day, -negkey, price))
            best = price
    got = [
        (r["day"], r["best_orderkey"], r["best_price"])
        for r in orders_pareto_frontier(spark, SF).collect()
    ]
    assert got == frontier
    # the frontier's defining property: strictly increasing price
    prices = [p for _, _, p in got]
    assert prices == sorted(set(prices))


def test_ann_recall_adaptive_replay(spark, big_corpus):
    """Recall@10 audit replay on the 7-plane corpus: exact top-10 truth
    and radius-1 candidate sets recomputed in numpy."""
    from project_final_parquet_spark.operators.ann import (
        sim_ann_recall_adaptive,
    )

    d, vecs = big_corpus
    k = adaptive_planes(len(vecs))
    buckets = _np_buckets(vecs, k)
    v64 = vecs.astype(np.float64)
    nrm = np.sqrt((v64 * v64).sum(axis=1))
    got = {r["anchor"]: r for r in sim_ann_recall_adaptive(spark, d).collect()}
    assert set(got) == set(range(8))
    for a in range(8):
        cos = v64 @ v64[a] / (nrm * nrm[a])
        order = sorted(
            (i for i in range(len(vecs)) if i != a),
            key=lambda i: (-cos[i], i),
        )
        truth = set(order[:10])
        ham = np.array(
            [bin(int(buckets[i]) ^ int(buckets[a])).count("1")
             for i in range(len(vecs))]
        )
        cands = {i for i in range(len(vecs)) if i != a and ham[i] <= 1}
        r = got[a]
        assert r["n_planes"] == k
        assert r["n_candidates"] == len(cands)
        assert r["n_hits"] == len(cands & truth)
        assert r["recall_ppm"] == 1000000 * len(cands & truth) // 10


def test_coverage_curve_replay(spark):
    """Coverage-curve invariants + exact replay: bucket rollup matches
    a pure-python walk of the same salted-hash order, the cumulative
    column is its own running sum, and the final ppm is 1e6 (every
    fingerprint covered once all 16 tranches are taken)."""
    import hashlib

    from project_final_parquet_spark.operators.pipeline14 import (
        sample_coverage_curve,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    rows = sorted(
        (md5(f"{r['doc_id']}:cov"), r["doc_id"], md5(r["text"]))
        for r in docs
    )
    seen, per_b = set(), {}
    for h, _, fp in rows:
        b = int(h[0], 16)
        nd, nf = per_b.get(b, (0, 0))
        new = fp not in seen
        seen.add(fp)
        per_b[b] = (nd + 1, nf + int(new))
    got = sample_coverage_curve(spark, SF).collect()
    assert [(r["bucket"], r["n_docs"], r["new_fingerprints"]) for r in got] \
        == [(b, *per_b[b]) for b in sorted(per_b)]
    cum = 0
    for r in got:
        cum += r["new_fingerprints"]
        assert r["cum_fingerprints"] == cum
        assert r["coverage_ppm"] == 1000000 * cum // len(seen)
    assert got[-1]["coverage_ppm"] == 1000000


def test_functional_dependency_replay(spark):
    from collections import defaultdict

    from project_final_parquet_spark.operators.pipeline14 import (
        dq_functional_dependency,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", "lang"
    ).collect()
    got = {r["fd"]: r for r in dq_functional_dependency(spark, SF).collect()}
    for fd, xcol, ycol in [
        ("source->lang", "source", "lang"),
        ("lang->source", "lang", "source"),
    ]:
        per_x = defaultdict(lambda: defaultdict(int))
        for r in docs:
            per_x[r[xcol]][r[ycol]] += 1
        r = got[fd]
        assert r["n_keys"] == len(per_x)
        assert r["n_violating_keys"] == sum(
            1 for ys in per_x.values() if len(ys) > 1
        )
        assert r["n_rows"] == len(docs)
        assert r["min_repair_rows"] == sum(
            sum(ys.values()) - max(ys.values()) for ys in per_x.values()
        )


def test_gaps_and_islands_replay(spark):
    from collections import defaultdict

    from project_final_parquet_spark.registry import DAY_US
    from project_final_parquet_spark.operators.pipeline14 import (
        events_gaps_and_islands,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts"
    ).collect()
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    days = defaultdict(set)
    for r in ev:
        us = int((r["ts"] - epoch).total_seconds() * 1_000_000)
        days[r["user_id"]].add(us // DAY_US)
    hist = defaultdict(lambda: [0, set()])
    for u, ds in days.items():
        run = 1
        prev = None
        for d in sorted(ds):
            if prev is not None and d == prev + 1:
                run += 1
            elif prev is not None:
                hist[run][0] += 1
                hist[run][1].add(u)
                run = 1
            prev = d
        hist[run][0] += 1
        hist[run][1].add(u)
    got = [
        (r["island_len"], r["n_islands"], r["n_users"])
        for r in events_gaps_and_islands(spark, SF).collect()
    ]
    assert got == [
        (ln, hist[ln][0], len(hist[ln][1])) for ln in sorted(hist)
    ]


def test_local_peaks_replay(spark):
    from collections import Counter

    from project_final_parquet_spark.registry import DAY_US
    from project_final_parquet_spark.operators.pipeline14 import (
        events_local_peaks,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    daily = Counter(
        int((r["ts"] - epoch).total_seconds() * 1_000_000) // DAY_US
        for r in ev
    )
    days = sorted(daily)
    expect = [
        (d, daily[d], daily[days[i - 1]], daily[days[i + 1]])
        for i, d in enumerate(days)
        if 0 < i < len(days) - 1
        and daily[d] > daily[days[i - 1]]
        and daily[d] > daily[days[i + 1]]
    ]
    got = [
        (r["day"], r["n_events"], r["prev_n"], r["next_n"])
        for r in events_local_peaks(spark, SF).collect()
    ]
    assert got == expect
    assert got  # at least one interior peak in the driver corpus


def test_proportional_allocation_exact(spark):
    """Hamilton-method invariants: allocations sum EXACTLY to the
    budget, every allocation is base or base+1, and the +1s go to the
    largest remainders (remainder DESC, source ASC)."""
    from project_final_parquet_spark.operators.pipeline14 import (
        _ALLOC_BUDGET,
        sample_proportional_allocation,
    )

    rows = sample_proportional_allocation(spark, SF).collect()
    assert sum(r["allocated"] for r in rows) == _ALLOC_BUDGET
    total = sum(r["n_docs"] for r in rows)
    rem = {}
    for r in rows:
        base = _ALLOC_BUDGET * r["n_docs"] // total
        assert r["base"] == base
        assert r["allocated"] in (base, base + 1)
        rem[r["source"]] = _ALLOC_BUDGET * r["n_docs"] % total
    bumped = {r["source"] for r in rows if r["allocated"] == r["base"] + 1}
    order = sorted(rows, key=lambda r: (-rem[r["source"]], r["source"]))
    assert bumped == {r["source"] for r in order[: len(bumped)]}


def test_ivm_delta_agg_equals_recompute(spark):
    """The IVM contract directly: merge(base partials, delta partials)
    equals the monolithic recompute, bit-for-bit (decimal partials)."""
    from project_final_parquet_spark.operators.pipeline14 import (
        ivm_delta_agg,
    )

    full = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
        .collect()
    )
    got = ivm_delta_agg(spark, SF).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_length_gini_replay(spark):
    from project_final_parquet_spark.operators.pipeline14 import (
        text_length_gini,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars"
    ).collect()
    xs = [r["n_chars"] for r in
          sorted(docs, key=lambda r: (r["n_chars"], r["doc_id"]))]
    n, tot = len(xs), sum(xs)
    weighted = sum((i + 1) * x for i, x in enumerate(xs))
    row = text_length_gini(spark, SF).collect()[0]
    assert (row["n"], row["tot"]) == (n, tot)
    assert row["gini"] == 2 * weighted / (float(n) * tot) - (n + 1.0) / n
    assert 0 <= row["gini"] < 1


def test_brier_decomposition_consistency(spark):
    """Internal consistency of the Brier terms: the direct mean equals
    a replay over the collected confidences, all terms nonnegative,
    uncertainty == p(1-p), and reliability/resolution bounded by their
    algebraic maxima."""
    from project_final_parquet_spark.operators.ml_eval import (
        ml_brier_decomposition,
    )
    from project_final_parquet_spark.operators.vector_stats import (
        probe_scores,
    )

    scored = probe_scores(spark, SF).collect()
    lo = min(r["score"] for r in scored)
    hi = max(r["score"] for r in scored)
    pairs = [
        ((r["score"] - lo) / (hi - lo), 1.0 if r["label"] == 0 else 0.0)
        for r in scored
    ]
    n = len(pairs)
    brier = sum((c - y) ** 2 for c, y in pairs) / n
    base = sum(y for _, y in pairs) / n
    row = ml_brier_decomposition(spark, SF).collect()[0]
    assert row["n"] == n
    assert abs(row["brier"] - brier) < 1e-9
    assert abs(row["uncertainty"] - base * (1 - base)) < 1e-12
    assert 0 <= row["reliability"] <= 1
    assert 0 <= row["resolution"] <= row["uncertainty"] + 1e-12


def test_ngram_coverage_replay(spark):
    import hashlib

    from project_final_parquet_spark.operators.pipeline14 import (
        text_ngram_train_test_coverage,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    train, test_occ = set(), {}
    for r in docs:
        hp = hashlib.md5(f"{r['doc_id']}:split".encode()).hexdigest()[:2]
        toks = r["text"].split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if hp < "e6":
            train.update(bgs)
        elif hp >= "f3":
            for bg in bgs:
                test_occ[bg] = test_occ.get(bg, 0) + 1
    n_test = len(test_occ)
    n_cov = sum(1 for bg in test_occ if bg in train)
    occ_tot = sum(test_occ.values())
    occ_cov = sum(c for bg, c in test_occ.items() if bg in train)
    row = text_ngram_train_test_coverage(spark, SF).collect()[0]
    assert (
        row["n_test_bigrams"],
        row["n_covered"],
        row["type_coverage_ppm"],
        row["n_test_occurrences"],
        row["occ_covered"],
        row["occ_coverage_ppm"],
    ) == (
        n_test,
        n_cov,
        1000000 * n_cov // n_test,
        occ_tot,
        occ_cov,
        1000000 * occ_cov // occ_tot,
    )
    assert 0 < n_cov < n_test  # non-degenerate at the driver corpus


def test_repeated_event_runs_replay(spark):
    from collections import defaultdict

    from project_final_parquet_spark.operators.pipeline14 import (
        dq_repeated_event_runs,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    hist = defaultdict(lambda: [0, set()])
    for u, rows in by_user.items():
        rows.sort()
        run_type, run_len = None, 0
        for _, _, t in rows + [(None, None, object())]:
            if t == run_type:
                run_len += 1
            else:
                if run_len >= 2:
                    hist[(run_type, run_len)][0] += 1
                    hist[(run_type, run_len)][1].add(u)
                run_type, run_len = t, 1
    got = [
        (r["event_type"], r["run_len"], r["n_runs"], r["n_users"])
        for r in dq_repeated_event_runs(spark, SF).collect()
    ]
    assert got == [
        (t, ln, hist[(t, ln)][0], len(hist[(t, ln)][1]))
        for t, ln in sorted(hist)
    ]
    assert got  # the driver corpus has double-fires


def test_dedup_embedding_adaptive_replay(spark, big_corpus):
    """Seniority-rule dedup replay on the 7-plane corpus: dropped ==
    any vector with a lower-id same-bucket neighbor at cosine ≥ τ,
    keeper == the minimum such id."""
    from project_final_parquet_spark.operators.ann import (
        dedup_embedding_adaptive,
    )

    d, vecs = big_corpus
    k = adaptive_planes(len(vecs))
    buckets = _np_buckets(vecs, k)
    v64 = vecs.astype(np.float64)
    nrm = np.sqrt((v64 * v64).sum(axis=1))
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for i, b in enumerate(buckets):
        by_bucket[int(b)].append(i)
    expect = {}
    for ids in by_bucket.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                i, j = ids[x], ids[y]
                cos = float(v64[i] @ v64[j] / (nrm[i] * nrm[j]))
                if cos >= 0.38:
                    expect[j] = min(expect.get(j, i), i)
    got = {
        r["vec_id"]: r["kept_for"]
        for r in dedup_embedding_adaptive(spark, d).collect()
    }
    assert got == expect


def test_topk_adaptive_subset_of_exact(spark):
    """The adaptive top-10 must equal the exact top-10 RESTRICTED to
    the radius-1 candidate set (numpy replay), and every returned
    cosine must be a true cosine of the query pair."""
    from project_final_parquet_spark.operators.ann import (
        adaptive_planes,
        sim_topk_adaptive,
    )

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    k = adaptive_planes(len(emb))
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])
    buckets = _np_buckets(mat.astype(np.float32), k)
    bid = {i: int(buckets[pos]) for pos, i in enumerate(ids)}
    q = emb[0]
    nq = np.sqrt(q @ q)
    cand = [
        i for i in ids
        if i != 0 and bin(bid[i] ^ bid[0]).count("1") <= 1
    ]
    scored = sorted(
        (
            (-(emb[i] @ q / (np.sqrt(emb[i] @ emb[i]) * nq)), i)
            for i in cand
        )
    )[:10]
    expect = [i for _, i in scored]
    got = sim_topk_adaptive(spark, SF).collect()
    assert [r["vec_id"] for r in got] == expect
    for r in got:
        v = emb[r["vec_id"]]
        cos = v @ q / (np.sqrt(v @ v) * nq)
        assert abs(r["cosine"] - cos) < 1e-9


def test_type_cooccurrence_sessions_replay(spark):
    from collections import defaultdict
    import datetime

    from project_final_parquet_spark.operators.pipeline14 import (
        _GAP_US,
        events_type_cooccurrence_sessions,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    ).collect()
    epoch = datetime.datetime(1970, 1, 1)
    by_user = defaultdict(list)
    for r in ev:
        us = int((r["ts"] - epoch).total_seconds() * 1_000_000)
        by_user[r["user_id"]].append((us, r["event_id"], r["event_type"]))
    sessions = []
    for u, rows in by_user.items():
        rows.sort()
        cur, prev = set(), None
        for us, _, t in rows:
            if prev is not None and us - prev > _GAP_US:
                sessions.append(cur)
                cur = set()
            cur.add(t)
            prev = us
        sessions.append(cur)
    n = len(sessions)
    n_t = defaultdict(int)
    n_both = defaultdict(int)
    for s in sessions:
        for t in s:
            n_t[t] += 1
        ts = sorted(s)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                n_both[(ts[i], ts[j])] += 1
    expect = [
        (a, b, c, c * n / (float(n_t[a]) * n_t[b]))
        for (a, b), c in sorted(n_both.items())
        if c >= 2
    ]
    got = [
        (r["type_a"], r["type_b"], r["n_both"], r["lift"])
        for r in events_type_cooccurrence_sessions(spark, SF).collect()
    ]
    assert [(a, b, c) for a, b, c, _ in expect] == [
        (a, b, c) for a, b, c, _ in got
    ]
    for (_, _, _, el), (_, _, _, gl) in zip(expect, got):
        assert abs(el - gl) < 1e-12


def test_rich_club_replay(spark):
    from collections import defaultdict

    from project_final_parquet_spark.operators.graph import (
        copurchase_edges,
    )
    from project_final_parquet_spark.operators.pipeline14 import (
        graph_rich_club,
    )

    edges = [(r["a"], r["b"]) for r in copurchase_edges(spark, SF).collect()]
    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    got = {r["k"]: r for r in graph_rich_club(spark, SF).collect()}
    for k in (2, 4, 8):
        rich = {v for v, d in deg.items() if d > k}
        e_rich = sum(1 for a, b in edges if a in rich and b in rich)
        r = got[k]
        assert r["n_rich"] == len(rich)
        assert r["e_rich"] == e_rich
        if len(rich) >= 2:
            assert r["phi"] == 2.0 * e_rich / (float(len(rich)) * (len(rich) - 1))


def test_type_hhi_replay(spark):
    from collections import Counter

    from project_final_parquet_spark.operators.pipeline14 import (
        events_type_hhi,
    )

    cnt = Counter(
        r["event_type"]
        for r in spark.read.parquet(f"{SF}/events.parquet").select(
            "event_type"
        ).collect()
    )
    total = sum(cnt.values())
    num = sum(n * n for n in cnt.values())
    row = events_type_hhi(spark, SF).collect()[0]
    assert (row["n_types"], row["total"]) == (len(cnt), total)
    assert row["hhi"] == num / (float(total) * total)
    assert abs(row["effective_types"] - (float(total) * total) / num) < 1e-12
    assert 1 / len(cnt) <= row["hhi"] <= 1


def test_minhash_estimate_error_replay(spark):
    """Estimator-audit replay: recompute est (matching signature
    components / K) and exact Jaccard per candidate pair in pure
    Python from the staged signature frame."""
    from project_final_parquet_spark.operators.dedup import (
        _MINHASH_K,
        _minhash_candidates,
        dedup_minhash_estimate_error,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    sig, cand = _minhash_candidates(docs)
    srows = {r["doc_id"]: (set(r["sh"]), list(r["sig"]))
             for r in sig.collect()}
    pairs = [(r["doc_a"], r["doc_b"]) for r in cand.collect()]
    ests, exacts = [], []
    for a, b in pairs:
        sa, ga = srows[a]
        sb, gb = srows[b]
        ests.append(
            sum(1 for s in range(_MINHASH_K) if ga[s] == gb[s])
            / _MINHASH_K
        )
        exacts.append(len(sa & sb) / len(sa | sb))
    errs = [abs(e - x) for e, x in zip(ests, exacts)]
    row = dedup_minhash_estimate_error(spark, SF).collect()[0]
    assert row["n_pairs"] == len(pairs) > 0
    assert abs(row["mean_est"] - sum(ests) / len(ests)) < 1e-9
    assert abs(row["mean_exact"] - sum(exacts) / len(exacts)) < 1e-9
    assert abs(row["mean_abs_err"] - sum(errs) / len(errs)) < 1e-9
    assert row["max_abs_err"] == max(errs)
    assert row["n_err_over_quarter"] == sum(1 for e in errs if e > 0.25)


def test_revenue_gini_replay(spark):
    from collections import defaultdict
    from decimal import Decimal

    from project_final_parquet_spark.operators.pipeline14 import (
        orders_revenue_gini,
    )

    rows = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    ).collect()
    rev = defaultdict(Decimal)
    for r in rows:
        rev[r["o_custkey"]] += Decimal(repr(r["o_totalprice"]))
    xs = [float(v) for _, v in
          sorted(rev.items(), key=lambda kv: (float(kv[1]), kv[0]))]
    n = len(xs)
    tot = sum(xs)
    weighted = sum((i + 1) * x for i, x in enumerate(xs))
    row = orders_revenue_gini(spark, SF).collect()[0]
    assert row["n"] == n
    assert abs(row["tot"] - tot) < 1e-6
    assert abs(
        row["gini"] - (2 * weighted / (float(n) * tot) - (n + 1.0) / n)
    ) < 1e-9
    assert 0 <= row["gini"] < 1


def test_adaptive_occupancy_profile_replay(spark, big_corpus):
    """Occupancy histogram replay on the 7-plane corpus, plus the
    conservation invariants (Σ n_vectors == corpus, Σ occupancy² is
    what the mining tier pays)."""
    from collections import Counter, defaultdict

    from project_final_parquet_spark.operators.ann import (
        sim_adaptive_occupancy_profile,
    )

    d, vecs = big_corpus
    k = adaptive_planes(len(vecs))
    occ = Counter(_np_buckets(vecs, k).tolist())
    bins = defaultdict(lambda: [0, 0, 0])
    for n in occ.values():
        bits = n.bit_length()
        bins[bits][0] += 1
        bins[bits][1] += n
        bins[bits][2] = max(bins[bits][2], n)
    got = sim_adaptive_occupancy_profile(spark, d).collect()
    assert all(r["n_planes"] == k for r in got)
    assert [
        (r["occ_bits"], r["n_buckets"], r["n_vectors"], r["max_occ"])
        for r in got
    ] == [(b, *bins[b]) for b in sorted(bins)]
    assert sum(r["n_vectors"] for r in got) == len(vecs)


def test_dormancy_lag_replay(spark):
    import datetime
    from collections import defaultdict

    from project_final_parquet_spark.registry import DAY_US
    from project_final_parquet_spark.operators.pipeline14 import (
        events_dormancy_reactivation_lag,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts"
    ).collect()
    epoch = datetime.datetime(1970, 1, 1)
    days = defaultdict(set)
    for r in ev:
        us = int((r["ts"] - epoch).total_seconds() * 1_000_000)
        days[r["user_id"]].add(us // DAY_US)
    bins = defaultdict(lambda: [0, set(), 10**9, -1])
    for u, ds in days.items():
        sd = sorted(ds)
        for a, b in zip(sd, sd[1:]):
            gap = b - a
            if gap >= 2:
                dorm = gap - 1
                bit = dorm.bit_length()
                bins[bit][0] += 1
                bins[bit][1].add(u)
                bins[bit][2] = min(bins[bit][2], dorm)
                bins[bit][3] = max(bins[bit][3], dorm)
    got = [
        (r["dormancy_bits"], r["n_reactivations"], r["n_users"],
         r["min_dormant_days"], r["max_dormant_days"])
        for r in events_dormancy_reactivation_lag(spark, SF).collect()
    ]
    assert got == [
        (b, bins[b][0], len(bins[b][1]), bins[b][2], bins[b][3])
        for b in sorted(bins)
    ]


def test_first_session_profile_replay(spark):
    import datetime
    from collections import defaultdict

    from project_final_parquet_spark.operators.pipeline14 import (
        _GAP_US,
        events_first_session_profile,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "ts"
    ).collect()
    epoch = datetime.datetime(1970, 1, 1)
    by_user = defaultdict(list)
    for r in ev:
        us = int((r["ts"] - epoch).total_seconds() * 1_000_000)
        by_user[r["user_id"]].append((us, r["event_id"]))
    hist = defaultdict(lambda: [0, 0, 0])
    for u, rows in by_user.items():
        rows.sort()
        first = [rows[0][0]]
        for (a, _), (b, _) in zip(rows, rows[1:]):
            if b - a > _GAP_US:
                break
            first.append(b)
        n = len(first)
        span = first[-1] - first[0]
        bucket = "1" if n == 1 else "2" if n == 2 else "3-5" if n <= 5 else "6+"
        hist[bucket][0] += 1
        hist[bucket][1] += n
        hist[bucket][2] += span
    got = [
        (r["size_bucket"], r["n_users"], r["n_events"], r["avg_span_us"])
        for r in events_first_session_profile(spark, SF).collect()
    ]
    assert got == [
        (b, hist[b][0], hist[b][1], hist[b][2] // hist[b][0])
        for b in sorted(hist)
    ]


def test_pareto_8020_point_replay(spark):
    from collections import defaultdict
    from decimal import Decimal

    from project_final_parquet_spark.operators.pipeline14 import (
        orders_pareto_8020_point,
    )

    rows = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    ).collect()
    rev = defaultdict(Decimal)
    for r in rows:
        rev[r["o_custkey"]] += Decimal(repr(r["o_totalprice"]))
    ordered = sorted(rev.items(), key=lambda kv: (-float(kv[1]), kv[0]))
    tot = float(sum(rev.values()))
    cum, k = Decimal(0), None
    for i, (_, v) in enumerate(ordered, 1):
        cum += v
        if float(cum) >= 0.8 * tot:
            k = i
            break
    row = orders_pareto_8020_point(spark, SF).collect()[0]
    assert row["n_customers"] == len(rev)
    assert row["top_k_for_80pct"] == k
    assert row["top_share_ppm"] == 1000000 * k // len(rev)
    assert 0 < k < len(rev)  # non-degenerate


def test_value_drawdown_replay(spark):
    import datetime
    from collections import defaultdict
    from decimal import Decimal

    from project_final_parquet_spark.registry import DAY_US
    from project_final_parquet_spark.operators.pipeline14 import (
        events_value_drawdown,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "ts", "value"
    ).collect()
    epoch = datetime.datetime(1970, 1, 1)
    daily = defaultdict(Decimal)
    for r in ev:
        us = int((r["ts"] - epoch).total_seconds() * 1_000_000)
        daily[us // DAY_US] += Decimal(repr(r["value"]))
    peak, mdd, trough = float("-inf"), float("-inf"), None
    n = 0
    for day in sorted(daily):
        v = float(daily[day])
        n += 1
        peak = max(peak, v)
        dd = peak - v
        if dd > mdd:
            mdd, trough = dd, day
    row = events_value_drawdown(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert abs(row["max_drawdown"] - mdd) < 1e-6
    assert row["trough_day"] == trough
    assert abs(row["series_peak"] - peak) < 1e-6
