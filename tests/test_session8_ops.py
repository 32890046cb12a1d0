"""Replay, invariant, and plan tests for the round-5 eighth-session
operators (ADVICE r5 item 1: mm_video_scene_cuts,
sample_kcenter_coreset, events_forecast_backtest,
graph_label_propagation ship with the same per-operator evidence as
their siblings).

Replay tests recompute the whole operator independently (pure Python /
pandas) and demand equality; plan tests pin the scale shape the
docstrings claim.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from project_final_parquet_spark.operators.events_analytics import (
    events_forecast_backtest,
)
from project_final_parquet_spark.operators.graph import (
    graph_label_propagation,
)
from project_final_parquet_spark.operators.multimodal import (
    make_video_stage,
    mm_video_scene_cuts,
)
from project_final_parquet_spark.operators.retrieval import (
    sample_kcenter_coreset,
)
from project_final_parquet_spark.plans import physical_plan, plan_facts
from project_final_parquet_spark.registry import all_queries
from project_final_parquet_spark.tables import load

BIG_SF = "/root/testdata/sf0.01"


# --- mm_video_scene_cuts -----------------------------------------------------


def _python_scene_cuts(doc_id: int):
    """Full independent replay: generator → circular diffs → threshold."""
    w, h = 4 + doc_id % 4, 3 + doc_id % 3
    nfr, s, npix = 4 + doc_id % 5, (4 + doc_id % 5) // 2, 3 * (4 + doc_id % 4) * (3 + doc_id % 3)
    frames = []
    for f in range(nfr):
        if f < s:
            frames.append([(doc_id * 7 + f + 3 * i) % 256 for i in range(npix)])
        else:
            frames.append(
                [(doc_id * 11 + 5 * f + 7 * i + 97) % 256 for i in range(npix)]
            )
    diffs = [
        sum(
            min(abs(a - b), 256 - abs(a - b))
            for a, b in zip(frames[f], frames[f - 1])
        )
        for f in range(1, nfr)
    ]
    tot = sum(diffs)
    cuts = [i for i, d in enumerate(diffs) if d * (nfr - 1) > 2 * tot]
    return nfr, len(cuts), (cuts[0] + 1 if cuts else -1), max(diffs), tot


def test_scene_cuts_match_python_replay(spark, sf_dir):
    rows = mm_video_scene_cuts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r.n_frames,
            r.n_cuts,
            r.first_cut,
            r.max_diff,
            r.total_diff,
        ) == _python_scene_cuts(r.doc_id)
    # the generator embeds a true scene change per clip; the detector
    # must find signal somewhere in the corpus
    assert any(r.n_cuts > 0 for r in rows)


def test_video_parser_rejects_hostile_streams():
    stage = make_video_stage()
    parse, enc = stage.parse_frames, stage.encode_video
    good = enc(5)
    assert len(parse(good)) == 4 + 5 % 5
    with pytest.raises(ValueError):
        parse(b"XX" + good[2:])  # bad magic
    with pytest.raises(ValueError):
        parse(good[:-3])  # truncated last frame payload
    one = b"P6\n4 3\n255\n" + bytes(36)
    with pytest.raises(ValueError):
        parse(one)  # a clip needs >= 2 frames
    with pytest.raises(ValueError):
        parse(one + b"P6\n5 3\n255\n" + bytes(45))  # dims change mid-stream
    with pytest.raises(ValueError):
        parse(b"P6\n4 3\n254\n" + bytes(36) + one)  # unsupported maxval


def test_scene_cuts_plan_is_single_python_stage(spark):
    """Same contract as the VAD plan test: one Arrow-batched Python
    stage over a doc_id-only pruned scan; the only exchange is the
    final global sort."""
    df = all_queries()["mm_video_scene_cuts"](spark, BIG_SF)
    p = physical_plan(df)
    f = plan_facts(df)
    assert "MapInPandas" in p
    assert f.n_exchanges == 1
    assert f.n_sortmerge_joins == 0 and f.n_broadcast_joins == 0
    assert "struct<doc_id:bigint>" in ";".join(f.read_schemas)


# --- sample_kcenter_coreset --------------------------------------------------


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a):
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def test_kcenter_matches_python_replay(spark, sf_dir):
    """Replay the whole greedy farthest-point traversal in pure Python
    with the operator's exact left-fold arithmetic and demand identical
    picks AND radii (doubles compared for equality)."""
    rows = sample_kcenter_coreset(spark, sf_dir).collect()
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    nv = {k: _fold_norm(v) for k, v in emb.items()}
    mind = {
        k: 1 - _fold_dot(v, emb[0]) / (nv[k] * nv[0])
        for k, v in emb.items()
        if k != 0
    }
    expect = [(1, 0, 0.0)]
    for i in range(2, 9):
        vid, rad = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        expect.append((i, vid, rad))
        del mind[vid]
        pe, pn = emb[vid], nv[vid]
        for k in mind:
            d = 1 - _fold_dot(emb[k], pe) / (nv[k] * pn)
            if d < mind[k]:
                mind[k] = d
    assert [(r.pick_order, r.vec_id, r.radius) for r in rows] == expect


def test_kcenter_invariants(spark, sf_dir):
    rows = sample_kcenter_coreset(spark, sf_dir).collect()
    picks = [r.vec_id for r in rows]
    assert len(picks) == len(set(picks)) == 8
    assert rows[0].vec_id == 0 and rows[0].radius == 0.0
    radii = [r.radius for r in rows[1:]]
    # greedy farthest-point coverage radius is non-increasing
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_kcenter_plan_reads_checkpoints_not_parquet(spark):
    """The returned frame is built purely from the driver-collected
    constant-size pick rows (optimization r13: the greedy's k corpus
    passes are paid at construction; the picks are collected and the
    result is a local-rows frame) — nothing downstream may re-run a
    corpus pass, so the final plan contains NO parquet scan at all."""
    df = all_queries()["sample_kcenter_coreset"](spark, BIG_SF)
    p = physical_plan(df)
    tree = p.split("\n\n(1)")[0]  # formatted details repeat node names
    assert tree.count("Scan parquet") == 0  # no corpus re-read
    assert tree.count("Scan ExistingRDD") == 1  # the local pick rows


# --- events_forecast_backtest ------------------------------------------------


def test_forecast_backtest_matches_pandas_replay(spark, sf_dir):
    """Independent recompute of the day-grain series, both lag
    baselines, and the MAE scoreboard in pandas. Counts and winners are
    exact; the MAEs (decimal-summed on the engine side) are checked to
    1e-9 relative."""
    import pandas as pd

    rows = {r.event_type: r for r in events_forecast_backtest(spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_type", "ts", "value"]]
    day = ev["ts"].to_numpy().astype("datetime64[us]").astype("int64") // (
        86_400 * 1_000_000
    )
    daily = (
        ev.assign(day=day)
        .groupby(["event_type", "day"], as_index=False)["value"]
        .sum()
        .sort_values(["event_type", "day"])
    )
    seen = set()
    for et, g in daily.groupby("event_type"):
        t = g["value"].to_numpy()
        if len(t) <= 7:
            assert et not in rows
            continue
        err_naive = abs(t[7:] - t[6:-1])
        err_seas = abs(t[7:] - t[:-7])
        r = rows[et]
        assert r.n_days_tested == len(t) - 7
        assert r.mae_naive == pytest.approx(err_naive.mean(), rel=1e-9)
        assert r.mae_seasonal == pytest.approx(err_seas.mean(), rel=1e-9)
        want = (
            "seasonal"
            if r.mae_seasonal < r.mae_naive
            else ("naive" if r.mae_seasonal > r.mae_naive else "tie")
        )
        assert r.winner == want
        seen.add(et)
    assert seen == set(rows)


def test_forecast_backtest_plan_scans_events_once(spark):
    df = all_queries()["events_forecast_backtest"](spark, BIG_SF)
    p = physical_plan(df)
    tree = p.split("\n\n(1)")[0]  # formatted details repeat node names
    assert tree.count("Scan parquet") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# --- graph_label_propagation -------------------------------------------------


def test_lpa_matches_python_replay(spark, sf_dir):
    """Independent pure-Python LPA: rebuild the co-purchase graph,
    run two most-frequent-smallest-tie rounds, and compare the top-20
    community sizes exactly."""
    rows = graph_label_propagation(spark, sf_dir).collect()
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.l_partkey)
    paircnt = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                paircnt[(ps[i], ps[j])] += 1
    adj = defaultdict(list)
    for (a, b), c in paircnt.items():
        if c >= 2:
            adj[a].append(b)
            adj[b].append(a)
    labels = {v: v for v in adj}
    for _ in range(2):
        labels = {
            v: min(
                Counter(labels[w] for w in ns).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v, ns in adj.items()
        }
    sizes = Counter(labels.values())
    top = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r.label, r.size) for r in rows] == top


def test_lpa_plan_reads_checkpoints_not_parquet(spark):
    """After the per-round label checkpoints, the returned top-20 plan
    aggregates the final checkpointed label frame — no lineitem
    re-scan, and the top-20 is a TakeOrdered."""
    df = all_queries()["graph_label_propagation"](spark, BIG_SF)
    p = physical_plan(df)
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert plan_facts(df).has_take_ordered
