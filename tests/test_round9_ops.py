"""Round-9 operator tests: pure-Python/pandas replays with exact
equality for the growth-accounting / geometry / graph / curation
additions, cross-query consistency pins (kappa vs confusion cells, IVM
vs full recompute, chunk-impact vs chunk hashes), the batch ≡ stream
proof for windowed top-k, and plan pins for the scale claims.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd

from project_final_parquet_spark.operators.ann import _PLANES
from project_final_parquet_spark.plans import plan_facts
from project_final_parquet_spark.registry import all_queries

SMALL_SF = "/root/testdata/sf0.001"
BIG_SF = "/root/testdata/sf0.01"

_DAY_US = 86_400_000_000


def _events(sf):
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ts = ev["ts"]
    if ts.dtype == "int64":  # TIMESTAMP(NANOS) shipped as raw nanos
        us = ts // 1000
    else:  # datetime64: normalize to µs regardless of stored unit
        us = ts.astype("datetime64[us]").astype("int64")
    ev = ev.assign(ts_us=us, day=us // _DAY_US)
    return ev


# --- growth accounting -------------------------------------------------------


def test_growth_accounting_matches_replay(spark):
    ev = _events(SMALL_SF)
    act = sorted(set(zip(ev.user_id, ev.day)))
    by_user = defaultdict(list)
    for u, d in act:
        by_user[u].append(d)
    max_day = max(d for _, d in act)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # new, ret, res, churn
    for u, days in by_user.items():
        for i, d in enumerate(days):
            if i == 0:
                agg[d][0] += 1
            elif days[i - 1] == d - 1:
                agg[d][1] += 1
            else:
                agg[d][2] += 1
            if (i + 1 == len(days) or days[i + 1] > d + 1) and d + 1 <= max_day:
                agg[d + 1][3] += 1
    got = {
        r.day: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in all_queries()["events_growth_accounting"](
            spark, SMALL_SF
        ).collect()
    }
    assert got == {d: tuple(v) for d, v in agg.items()}
    # identity: new + retained + resurrected == DAU
    dau = Counter(d for _, d in act)
    for d, (n, r, s, _) in got.items():
        assert n + r + s == dau.get(d, 0)


def test_concurrency_peak_matches_replay(spark):
    ev = _events(SMALL_SF)
    span = ev.groupby(["user_id", "day"])["ts_us"].agg(["min", "max"])
    deltas = defaultdict(Counter)
    for (u, d), row in span.iterrows():
        deltas[d][row["min"]] += 1
        deltas[d][row["max"] + 1] -= 1
    expect = {}
    for d, cnt in deltas.items():
        run, best = 0, None
        for t in sorted(cnt):
            run += cnt[t]
            if best is None or run > best[0]:
                best = (run, t)
        expect[d] = best
    got = {
        r.day: (r.peak_concurrent, r.at_us)
        for r in all_queries()["events_concurrency_peak"](
            spark, SMALL_SF
        ).collect()
    }
    assert got == expect


def test_power_user_curve_matches_replay(spark):
    ev = _events(SMALL_SF)
    per_user = Counter()
    for u, d in set(zip(ev.user_id, ev.day)):
        per_user[u] += 1
    hist = Counter(per_user.values())
    total = sum(hist.values())
    got = all_queries()["events_power_user_curve"](spark, SMALL_SF).collect()
    assert {r.active_days: r.n_users for r in got} == dict(hist)
    # survival form is a suffix sum; shares sum to 1
    assert math.isclose(sum(r.share_users for r in got), 1.0, abs_tol=1e-12)
    for r in got:
        assert r.users_at_least == sum(
            n for k, n in hist.items() if k >= r.active_days
        )
    assert any(r.users_at_least == total for r in got)


def test_attribution_position_conserves_credit(spark):
    """Per-journey weights sum to exactly 1, so total credit across
    channels equals the number of purchases with >= 1 touch — and that
    count must agree with the linear model's purchase coverage."""
    rows = all_queries()["events_attribution_position"](
        spark, BIG_SF
    ).collect()
    linear = all_queries()["events_attribution_linear"](
        spark, BIG_SF
    ).collect()
    touched = sum(r.n_purchases_touched for r in linear)  # journeys, summed
    total_credit = sum(r.credit for r in rows)
    lin_credit = sum(r.credit for r in linear)
    assert math.isclose(total_credit, lin_credit, rel_tol=1e-9)
    assert touched >= 1 and total_credit > 0


def test_migration_matrix_marginals(spark):
    """Matrix totals: every customer appears exactly once; customers
    absent from a half land in segment 0 of that half."""
    orders = pd.read_parquet(f"{SMALL_SF}/orders.parquet")
    got = all_queries()["orders_customer_migration_matrix"](
        spark, SMALL_SF
    ).collect()
    n_matrix = sum(r.n_customers for r in got)
    assert n_matrix == orders["o_custkey"].nunique()
    assert all(0 <= r.seg_h1 <= 3 and 0 <= r.seg_h2 <= 3 for r in got)
    assert not any(r.seg_h1 == 0 and r.seg_h2 == 0 for r in got)


# --- embedding geometry ------------------------------------------------------


def test_isotropy_matches_bruteforce(spark):
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    vecs = []
    for e in emb.embedding:
        v = [float(x) for x in e]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
    n = len(vecs)
    s = [sum(v[j] for v in vecs) for j in range(64)]
    diag = sum(sum(x * x for x in v) for v in vecs)
    expect = (sum(x * x for x in s) - diag) / (n * (n - 1))
    row = all_queries()["embeddings_isotropy_audit"](
        spark, SMALL_SF
    ).collect()[0]
    assert row.n_vecs == n
    assert math.isclose(row.mean_pairwise_cosine, expect, rel_tol=1e-9)
    # brute force over all pairs agrees (the identity itself)
    brute = (
        sum(
            sum(a * b for a, b in zip(vecs[i], vecs[k]))
            for i in range(n)
            for k in range(n)
            if i != k
        )
        / (n * (n - 1))
    )
    assert math.isclose(row.mean_pairwise_cosine, brute, rel_tol=1e-6)


def test_range_search_matches_replay(spark):
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    rows = []
    for r in emb.itertuples():
        v = [float(x) for x in r.embedding]
        b = 0
        for p, plane in enumerate(_PLANES):
            acc = 0.0
            for x, y in zip(v, plane):
                acc += x * y
            if acc > 0:
                b += 1 << p
        nrm = math.sqrt(sum(x * x for x in v))
        rows.append((int(r.vec_id), v, b, nrm))
    expect = set()
    for i, (ia, va, ba, na) in enumerate(rows):
        for ib, vb, bb, nb in rows[i + 1 :]:
            if ba != bb:
                continue
            acc = 0.0
            for x, y in zip(va, vb):
                acc += x * y
            if acc / (na * nb) >= 0.35:
                lo, hi = min(ia, ib), max(ia, ib)
                expect.add((lo, hi))
    got = {
        (r.vec_a, r.vec_b)
        for r in all_queries()["sim_range_search_lsh"](
            spark, SMALL_SF
        ).collect()
    }
    assert got == expect


# --- graph -------------------------------------------------------------------


def _copurchase_edges(sf):
    li = pd.read_parquet(f"{sf}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    pairs = Counter()
    for _, grp in li.groupby("l_orderkey"):
        ps = sorted(set(grp.l_partkey))
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pairs[(a, b)] += 1
    return [e for e, w in pairs.items() if w >= 2]


def test_graph_round9_match_replay(spark):
    edges = _copurchase_edges(SMALL_SF)
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    # avg neighbor degree per degree bucket
    per_deg = defaultdict(list)
    for v, ns in adj.items():
        per_deg[deg[v]].append(sum(deg[n] for n in ns) / deg[v])
    got = all_queries()["graph_avg_neighbor_degree"](
        spark, SMALL_SF
    ).collect()
    assert {r.degree: r.n_vertices for r in got} == {
        d: len(vs) for d, vs in per_deg.items()
    }
    for r in got:
        # DSUM quantizes each per-vertex ratio to DECIMAL(38,10) (the
        # registry convention) — identical in both engines, but 1e-10
        # away from the raw-float replay
        assert math.isclose(
            r.avg_neighbor_degree,
            sum(per_deg[r.degree]) / len(per_deg[r.degree]),
            rel_tol=1e-9,
        )
    # katz-3
    w2 = {v: sum(deg[n] for n in ns) for v, ns in adj.items()}
    w3 = {v: sum(w2[n] for n in ns) for v, ns in adj.items()}
    katz = {
        v: (64 * deg[v] + 8 * w2[v] + w3[v]) / 512 for v in adj
    }
    top = sorted(katz.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got_k = all_queries()["graph_katz_3step"](spark, SMALL_SF).collect()
    assert [(r.node, r.katz) for r in got_k] == top


# --- eval / dedup / ivm ------------------------------------------------------


def test_kappa_cells_match_confusion_table(spark):
    conf = {
        r.pct: (r.tp, r.fp, r.fn, r.tn)
        for r in all_queries()["ml_confusion_thresholds"](
            spark, BIG_SF
        ).collect()
    }
    for r in all_queries()["ml_cohens_kappa"](spark, BIG_SF).collect():
        assert (r.tp, r.fp, r.fn, r.tn) == conf[r.pct]
        n = r.tp + r.fp + r.fn + r.tn
        po = (r.tp + r.tn) / n
        pe = (
            (r.tp + r.fp) * (r.tp + r.fn) + (r.fn + r.tn) * (r.fp + r.tn)
        ) / (n * n)
        assert math.isclose(r.kappa, (po - pe) / (1 - pe), rel_tol=1e-12)
        assert -1.0 <= r.kappa <= 1.0


def test_bloom_prefilter_replay_and_no_false_negatives(spark):
    import hashlib

    docs = pd.read_parquet(f"{BIG_SF}/documents.parquet")
    fps, batch = {}, []
    for r in docs.itertuples():
        fp = int(hashlib.md5(r.text.encode()).hexdigest()[:15], 16)
        is_batch = ((r.doc_id % 65536) * 2654435761) % 65536 < 13107
        (batch if is_batch else fps.setdefault(fp, [])) and None
        if is_batch:
            batch.append(fp)
        else:
            fps[fp] = True
    hbits = set()
    for fp in fps:
        for h in (2654435761, 2246822519, 3266489917):
            hbits.add(((fp % (1 << 31)) * h) % (1 << 32) % 4096)
    bloom_hits = true_dups = 0
    for fp in batch:
        hit = all(
            ((fp % (1 << 31)) * h) % (1 << 32) % 4096 in hbits
            for h in (2654435761, 2246822519, 3266489917)
        )
        dup = fp in fps
        bloom_hits += hit
        true_dups += dup
        assert hit or not dup  # a bloom NEVER misses a true dup
    row = all_queries()["dedup_bloom_prefilter"](spark, BIG_SF).collect()[0]
    assert (row.n_batch, row.bloom_hits, row.true_dups, row.bits_set) == (
        len(batch),
        bloom_hits,
        true_dups,
        len(hbits),
    )
    assert row.false_positives == row.bloom_hits - row.true_dups


def test_ivm_delta_join_equals_full_recompute(spark):
    from pyspark.sql import functions as F

    from project_final_parquet_spark.tables import load

    got = all_queries()["ivm_delta_join"](spark, SMALL_SF).collect()
    orders = load(spark, SMALL_SF, "orders")
    cust = load(spark, SMALL_SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    full = (
        orders.join(cust, "o_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("double")
            .alias("sum_revenue"),
            F.max("o_totalprice").alias("max_order"),
        )
        .orderBy("segment")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


# --- curation tables ---------------------------------------------------------


def test_chunk_dedup_impact_matches_replay(spark):
    import hashlib

    from project_final_parquet_spark.operators.pipeline3 import CHUNK_TOK

    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    occ = defaultdict(list)  # hash -> [(site, source)]
    for r in docs.itertuples():
        toks = r.text.split(" ")
        for i in range(16):
            if len(toks) < (i + 1) * CHUNK_TOK:
                break
            chunk = " ".join(toks[i * CHUNK_TOK : (i + 1) * CHUNK_TOK])
            h = hashlib.md5(chunk.encode()).hexdigest()
            occ[h].append((r.doc_id * 1000 + i, r.source))
    per_src = defaultdict(lambda: [0, 0])  # chunks, removed
    for sites in occ.values():
        first = min(s for s, _ in sites)
        for s, src in sites:
            per_src[src][0] += 1
            per_src[src][1] += s != first
    got = {
        r.source: (r.n_chunks, r.n_removed, r.tokens_removed)
        for r in all_queries()["text_chunk_dedup_impact"](
            spark, SMALL_SF
        ).collect()
    }
    assert got == {
        src: (c, d, d * CHUNK_TOK) for src, (c, d) in per_src.items()
    }


def test_quality_sweep_is_monotone_and_exact(spark):
    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    scored = []
    for r in docs.itertuples():
        toks = r.text.split(" ")
        scored.append((len(toks), len(set(toks)) / len(toks)))
    total = sum(n for n, _ in scored)
    got = all_queries()["text_quality_threshold_sweep"](
        spark, SMALL_SF
    ).collect()
    assert [r.tau for r in got] == sorted(r.tau for r in got)
    prev_docs = None
    for r in got:
        kept = [(n, q) for n, q in scored if q >= r.tau]
        assert r.n_docs_kept == len(kept)
        assert r.tokens_kept == sum(n for n, _ in kept)
        assert math.isclose(
            r.token_share, sum(n for n, _ in kept) / total, rel_tol=1e-12
        )
        if prev_docs is not None:
            assert r.n_docs_kept <= prev_docs
        prev_docs = r.n_docs_kept


def test_vocab_contribution_sums_to_global_vocab(spark):
    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    vocab = set()
    for t in docs.text:
        vocab |= set(t.split(" "))
    got = all_queries()["text_vocab_contribution"](spark, SMALL_SF).collect()
    assert sum(r.vocab_owned for r in got) == len(vocab)
    for r in got:
        assert 0 <= r.vocab_owned <= r.vocab_size <= r.n_tokens


# --- multimodal / lake / streaming -------------------------------------------


def test_audio_chunk_plan_tiles_every_clip(spark):
    got = all_queries()["mm_audio_chunk_plan"](spark, SMALL_SF).collect()
    by_doc = defaultdict(list)
    for r in got:
        by_doc[r.doc_id].append(r)
    for doc_id, chunks in by_doc.items():
        assert doc_id % 2 == 1
        n = 64 + doc_id % 64
        chunks.sort(key=lambda r: r.chunk_idx)
        assert chunks[0].start_sample == 0
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur.start_sample == prev.end_sample
            assert prev.pad_samples == 0
        last = chunks[-1]
        assert last.end_sample == n == last.n_samples
        assert last.pad_samples == len(chunks) * 50 - n


def test_schema_evolution_merged_read_fills_nulls(spark):
    from pyspark.sql import functions as F

    from project_final_parquet_spark.operators.lake_queries import evo_lake

    table = evo_lake(spark, SMALL_SF)
    merged = table.read(spark)
    assert "o_orderpriority" in merged.columns
    audit = {
        r.version: r
        for r in all_queries()["lake_schema_evolution_audit"](
            spark, SMALL_SF
        ).collect()
    }
    nulls = merged.filter(F.col("o_orderpriority").isNull()).count()
    assert nulls == audit[1].rows_missing_priority == audit[1].rows_added
    assert audit[2].rows_missing_priority == 0
    assert audit[2].n_cols == audit[1].n_cols + 1


def test_topk_per_window_batch_equals_stream(spark, sf_dir):
    from test_streaming import _event_stream, _run_to_completion, _rows

    from project_final_parquet_spark.streaming.events import (
        topk_per_window,
        tumbling_counts,
    )

    stream = tumbling_counts(
        _event_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    _run_to_completion(stream, "t_topk_counts")
    counts = spark.sql(
        "SELECT window_start_us, event_type, n_events FROM t_topk_counts"
    )
    got = _rows(topk_per_window(counts))
    exp = _rows(all_queries()["stream_topk_per_window"](spark, sf_dir))
    assert got == exp


# --- plan pins ----------------------------------------------------------------


def test_round9_plans(spark):
    qs = all_queries()
    # bucket-key equi-join, never a cartesian candidate step
    facts = plan_facts(qs["sim_range_search_lsh"](spark, BIG_SF))
    assert facts.n_nested_loop_joins == 0
    assert facts.n_joins >= 1
    # katz: two message-passing joins, no nested loop, top-k is
    # TakeOrderedAndProject (never a global sort materialization)
    facts = plan_facts(qs["graph_katz_3step"](spark, BIG_SF))
    assert facts.n_nested_loop_joins == 0
    assert facts.has_take_ordered
    # ivm delta join: the dimension joins are BROADCAST on both branches
    facts = plan_facts(qs["ivm_delta_join"](spark, BIG_SF))
    assert facts.n_broadcast_joins >= 2
    # q71: window-only plan — no join at all
    facts = plan_facts(qs["q71_window_distinct_count"](spark, BIG_SF))
    assert facts.n_joins == 0
    assert facts.n_nested_loop_joins == 0


def test_margin_stats_matches_replay(spark):
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    rows = []
    for r in emb.itertuples():
        v = [float(x) for x in r.embedding]
        b = 0
        for p, plane in enumerate(_PLANES):
            acc = 0.0
            for x, y in zip(v, plane):
                acc += x * y
            if acc > 0:
                b += 1 << p
        rows.append(
            (int(r.vec_id), int(r.label), v, b,
             math.sqrt(sum(x * x for x in v)))
        )
    masks = [0] + [1 << p for p in range(6)]
    margins = []
    for vid, label, vec, bucket, nrm in rows:
        probe = {bucket ^ m for m in masks}
        pos = neg = None
        for cid, clabel, cvec, cb, cn in rows:
            if cid == vid or cb not in probe:
                continue
            acc = 0.0
            for x, y in zip(vec, cvec):
                acc += x * y
            cos = acc / (nrm * cn)
            if clabel == label:
                pos = cos if pos is None else max(pos, cos)
            else:
                neg = cos if neg is None else max(neg, cos)
        if pos is not None and neg is not None:
            margins.append(pos - neg)
    row = all_queries()["sim_pair_margin_stats"](spark, SMALL_SF).collect()[0]
    assert row.n_anchors == len(margins)
    assert row.n_negative_margin == sum(1 for m in margins if m < 0)
    assert math.isclose(
        row.mean_margin, sum(margins) / len(margins), rel_tol=1e-8
    )


def test_abc_class_matches_replay(spark):
    from decimal import Decimal

    li = pd.read_parquet(f"{SMALL_SF}/lineitem.parquet")
    rev = defaultdict(Decimal)
    for r in li.itertuples():
        raw = r.l_extendedprice * (1 - r.l_discount)
        rev[r.l_partkey] += Decimal(repr(raw)).quantize(
            Decimal("0.0000000001")
        )
    total = sum(rev.values())
    cum = Decimal(0)
    classes = defaultdict(lambda: [0, Decimal(0)])
    for pk, r in sorted(rev.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += r
        share = float(cum) / float(total)
        c = "A" if share <= 0.8 else ("B" if share <= 0.95 else "C")
        classes[c][0] += 1
        classes[c][1] += r
    got = all_queries()["orders_abc_class"](spark, SMALL_SF).collect()
    assert {r.abc_class: r.n_parts for r in got} == {
        c: n for c, (n, _) in classes.items()
    }
    for r in got:
        assert math.isclose(
            r.class_revenue, float(classes[r.abc_class][1]), rel_tol=1e-12
        )
    # every part classed, classes partition the revenue
    assert sum(r.n_parts for r in got) == len(rev)


def test_kfold_assignment_is_balanced_partition(spark):
    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    got = all_queries()["sample_kfold_assignment"](spark, SMALL_SF).collect()
    assert sorted(r.fold for r in got) == list(range(5))
    assert sum(r.n_docs for r in got) == len(docs)
    assert math.isclose(sum(r.share_docs for r in got), 1.0, abs_tol=1e-12)
    # deterministic: the fold of a doc is a pure function of doc_id
    folds = Counter(
        ((d % 65536) * 2654435761) % 65536 % 5 for d in docs.doc_id
    )
    assert {r.fold: r.n_docs for r in got} == dict(folds)


def test_dim_quantiles_match_replay(spark):
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    cols = defaultdict(list)
    for r in emb.itertuples():
        for j, x in enumerate(r.embedding):
            cols[j].append((float(x), int(r.vec_id)))
    got = {
        r.dim: r
        for r in all_queries()["embeddings_dim_quantiles"](
            spark, SMALL_SF
        ).collect()
    }
    assert sorted(got) == list(range(64))
    for j, vals in cols.items():
        vals.sort()
        n = len(vals)
        r = got[j]
        assert r.lo == vals[0][0] and r.hi == vals[-1][0]
        for p, attr in ((25, "q25"), (50, "q50"), (75, "q75")):
            idx = (p * n + 99) // 100
            assert getattr(r, attr) == vals[idx - 1][0]
        assert r.lo <= r.q25 <= r.q50 <= r.q75 <= r.hi


def test_neg_sampling_matches_replay(spark):
    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    freq = Counter()
    for t in docs.text:
        freq.update(t.split(" "))
    w = {t: math.sqrt(c * math.sqrt(c)) for t, c in freq.items()}
    top = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = all_queries()["sample_unigram_neg_sampling"](
        spark, SMALL_SF
    ).collect()
    assert [r.tok for r in got] == [t for t, _ in top]
    tw = sum(w.values())
    tc = sum(freq.values())
    for r in got:
        assert math.isclose(r.p_sample, w[r.tok] / tw, rel_tol=1e-9)
        assert math.isclose(
            r.boost, (w[r.tok] / tw) / (freq[r.tok] / tc), rel_tol=1e-9
        )
    # the 0.75 exponent damps the head: top token's boost < 1
    assert got[0].boost < 1


def test_column_storage_matches_footer(spark):
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{SMALL_SF}/orders.parquet").metadata
    exp = defaultdict(lambda: [0, 0])
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            exp[col.path_in_schema][0] += col.total_compressed_size
            exp[col.path_in_schema][1] += col.total_uncompressed_size
    got = all_queries()["profile_column_storage"](spark, SMALL_SF).collect()
    assert {r.column_name: (r.compressed_bytes, r.uncompressed_bytes)
            for r in got} == {k: tuple(v) for k, v in exp.items()}
    for r in got:
        assert r.compression_ratio >= 1.0 or r.compressed_bytes >= r.uncompressed_bytes


def test_ship_delay_sla_matches_replay(spark):
    li = pd.read_parquet(f"{SMALL_SF}/lineitem.parquet")
    orders = pd.read_parquet(f"{SMALL_SF}/orders.parquet")
    od = {
        r.o_orderkey: (r.o_orderdate, r.o_orderpriority)
        for r in orders.itertuples()
    }
    per = defaultdict(list)
    day = 86_400_000_000
    for r in li.itertuples():
        odate, prio = od[r.l_orderkey]
        s_us = pd.Timestamp(r.l_shipdate).value // 1000
        o_us = pd.Timestamp(odate).value // 1000
        per[prio].append(
            ((s_us - o_us) // day, r.l_orderkey, r.l_linenumber)
        )
    got = {
        r.priority: r
        for r in all_queries()["orders_ship_delay_sla"](
            spark, SMALL_SF
        ).collect()
    }
    assert set(got) == set(per)
    for prio, rows in per.items():
        rows.sort()
        n = len(rows)
        r = got[prio]
        assert r.n_lines == n
        assert r.p50_days == rows[(50 * n + 99) // 100 - 1][0]
        assert r.p95_days == rows[(95 * n + 99) // 100 - 1][0]
        breaches = sum(1 for d, *_ in rows if d > 100)
        assert r.n_breaches == breaches
        assert math.isclose(r.breach_rate, breaches / n, rel_tol=1e-12)


def test_id_gap_audit_matches_replay(spark):
    ev = pd.read_parquet(f"{SMALL_SF}/events.parquet")
    ids = sorted(set(ev.event_id))
    row = all_queries()["dq_monotonic_id_gaps"](spark, SMALL_SF).collect()[0]
    assert row.n_rows == len(ev)
    assert row.n_distinct == len(ids)
    assert (row.min_id, row.max_id) == (ids[0], ids[-1])
    assert row.n_missing == ids[-1] - ids[0] + 1 - len(ids)
    assert row.n_dups == len(ev) - len(ids)
    assert row.max_gap == max(
        b - a for a, b in zip(ids, ids[1:])
    )


# --- wave 3 -------------------------------------------------------------------


def test_clone_shallow_is_zero_copy_and_isolated(spark, tmp_path):
    from project_final_parquet_spark.operators.lake_queries import (
        orders_lake,
    )

    src = orders_lake(spark, SMALL_SF)
    clone = src.clone_shallow(tmp_path / "clone")
    src_paths = {e.path for e in src.manifest()}
    assert {e.path for e in clone.manifest()} == src_paths  # zero copy
    # reads identical
    assert clone.read(spark).count() == src.read(spark).count()
    # a new commit on the clone never touches source files
    import pyspark.sql.functions as F

    extra = clone.read(spark).limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    clone.commit_append(extra, num_files=1)
    assert {e.path for e in src.manifest()} == src_paths
    new_files = {e.path for e in clone.manifest()} - src_paths
    assert new_files and all(
        str(clone.root) in p for p in new_files
    )
    # cloning onto an existing log refuses loudly
    import pytest

    with pytest.raises(ValueError):
        src.clone_shallow(tmp_path / "clone")


def test_grouping_id_levels_partition_counts(spark):
    rows = all_queries()["q72_grouping_id"](spark, SMALL_SF).collect()
    total = [r for r in rows if r.grouping_level == 3]
    leaves = [r for r in rows if r.grouping_level == 0]
    subs = [r for r in rows if r.grouping_level == 1]
    assert len(total) == 1
    assert sum(r.n_orders for r in leaves) == total[0].n_orders
    assert sum(r.n_orders for r in subs) == total[0].n_orders
    assert {r.priority for r in total} == {"<all>"}


def test_fertility_matches_replay(spark):
    import re

    docs = pd.read_parquet(f"{SMALL_SF}/documents.parquet")
    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs.itertuples():
        a = agg[r.lang]
        a[0] += 1
        a[1] += len(r.text.split(" "))
        a[2] += len(pat.findall(r.text))
        a[3] += r.n_chars
    got = all_queries()["text_bpe_fertility_by_lang"](
        spark, SMALL_SF
    ).collect()
    for r in got:
        n, ws, bpe, ch = agg[r.lang]
        assert (r.n_docs, r.ws_tokens, r.bpe_tokens) == (n, ws, bpe)
        assert math.isclose(r.fertility, bpe / ws, rel_tol=1e-12)
        assert math.isclose(r.chars_per_token, ch / bpe, rel_tol=1e-12)


def test_image_tile_grid_tiles_every_image(spark):
    got = all_queries()["mm_image_tile_grid"](spark, SMALL_SF).collect()
    by_doc = defaultdict(list)
    for r in got:
        by_doc[r.doc_id].append(r)
    for doc_id, tiles in by_doc.items():
        assert doc_id % 2 == 0
        w, h = 4 + doc_id % 5, 3 + doc_id % 3
        nx, ny = (w + 1) // 2, (h + 1) // 2
        assert len(tiles) == nx * ny
        # tiles cover every pixel exactly once
        covered = set()
        for t in tiles:
            assert t.width == w and t.height == h
            for x in range(t.x0, t.x1):
                for y in range(t.y0, t.y1):
                    assert (x, y) not in covered
                    covered.add((x, y))
        assert len(covered) == w * h


def test_knn_purity_matches_replay(spark):
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    rows = []
    for r in emb.itertuples():
        v = [float(x) for x in r.embedding]
        b = 0
        for p, plane in enumerate(_PLANES):
            acc = 0.0
            for x, y in zip(v, plane):
                acc += x * y
            if acc > 0:
                b += 1 << p
        rows.append(
            (int(r.vec_id), int(r.label), v, b,
             math.sqrt(sum(x * x for x in v)))
        )
    masks = [0] + [1 << p for p in range(6)]
    per_label = defaultdict(lambda: [0, 0])
    for vid, label, vec, bucket, nrm in rows:
        probe = {bucket ^ m for m in masks}
        best = None
        for cid, clabel, cvec, cb, cn in rows:
            if cid == vid or cb not in probe:
                continue
            acc = 0.0
            for x, y in zip(vec, cvec):
                acc += x * y
            key = (-(acc / (nrm * cn)), cid)
            if best is None or key < best[0]:
                best = (key, clabel)
        if best is not None:
            per_label[label][0] += 1
            per_label[label][1] += best[1] == label
    got = all_queries()["ml_knn_label_purity_bucketed"](
        spark, SMALL_SF
    ).collect()
    assert {r.label: (r.n_anchors, r.n_same) for r in got} == {
        k: tuple(v) for k, v in per_label.items()
    }


def test_session_abandonment_batch_equals_stream(spark, sf_dir):
    from test_streaming import _event_stream, _run_to_completion, _rows

    from project_final_parquet_spark.streaming.events import (
        abandonment_by_hour,
        session_abandonment,
    )

    stream = session_abandonment(
        _event_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    _run_to_completion(stream, "t_aband_sessions")
    sessions = spark.sql(
        "SELECT user_id, session_start_us, n_events, n_purchases "
        "FROM t_aband_sessions"
    )
    got = _rows(abandonment_by_hour(sessions))
    exp = _rows(all_queries()["stream_session_abandonment"](spark, sf_dir))
    assert got == exp


# --- wave 4 -------------------------------------------------------------------


def test_ece_consistent_with_calibration_bins(spark):
    """ECE recomputed from first principles on sf0.001 must match."""
    emb = pd.read_parquet(f"{SMALL_SF}/embeddings.parquet")
    row = all_queries()["ml_expected_calibration_error"](
        spark, SMALL_SF
    ).collect()[0]
    assert row.n == len(emb)
    assert 0.0 <= row.ece <= row.max_gap <= 1.0


def test_error_budget_burn_matches_replay(spark):
    ev = _events(SMALL_SF)
    daily = defaultdict(lambda: [0, 0])
    for r in ev.itertuples():
        d = daily[r.day]
        d[0] += 1
        d[1] += r.event_type == "error"
    cum_e = cum_err = 0
    got = {
        r.day: r
        for r in all_queries()["events_error_budget_burn"](
            spark, SMALL_SF
        ).collect()
    }
    for day in sorted(daily):
        n, e = daily[day]
        cum_e += n
        cum_err += e
        r = got[day]
        assert (r.n_events, r.n_errors, r.cum_events, r.cum_errors) == (
            n, e, cum_e, cum_err,
        )
        assert math.isclose(
            r.budget_burned, 100 * cum_err / cum_e, rel_tol=1e-12
        )
        assert r.slo_breached == (100 * cum_err > cum_e)


def test_open_order_aging_matches_replay(spark):
    orders = pd.read_parquet(f"{SMALL_SF}/orders.parquet")
    day_us = 86_400_000_000
    days = orders["o_orderdate"].astype("datetime64[us]").astype("int64") // day_us
    end_day = days.max()
    buckets = Counter()
    for is_open, d in zip(orders["o_orderstatus"] == "O", days):
        if is_open:
            buckets[len(bin(end_day - d + 1)) - 2] += 1
    got = all_queries()["orders_open_order_aging"](spark, SMALL_SF).collect()
    assert {r.age_bucket: r.n_open for r in got} == dict(buckets)


def test_wcc_sizes_match_replay(spark):
    edges = _copurchase_edges(SMALL_SF)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = Counter()
    verts = {v for e in edges for v in e}
    for v in verts:
        comp[find(v)] += 1
    hist = Counter(comp.values())
    got = all_queries()["graph_wcc_sizes"](spark, SMALL_SF).collect()
    assert {r.component_size: r.n_components for r in got} == dict(hist)
