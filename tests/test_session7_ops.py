"""Behavioral tests for the seventh-session operators: link prediction,
MAD anomalies, k-anonymity, and audio VAD (sf0.001)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.events_analytics import (
    events_anomaly_mad,
)
from project_final_parquet_spark.operators.graph import (
    graph_jaccard_link_prediction,
)
from project_final_parquet_spark.operators.multimodal import (
    encode_wav,
    make_vad_stage,
    mm_audio_vad_segments,
)
from project_final_parquet_spark.operators.profiling import dq_k_anonymity


# --- link prediction --------------------------------------------------------


def test_link_prediction_candidates_are_non_edges(spark, sf_dir):
    """Every scored pair must share >=1 neighbor and NOT be an edge of
    the same co-purchase graph (recomputed independently here)."""
    rows = graph_jaccard_link_prediction(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    x, y = li.alias("x"), li.alias("y")
    edges = set(
        (r.a, r.b)
        for r in x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .count()
        .filter(F.col("count") >= 2)
        .collect()
    )
    for r in rows:
        assert r.u < r.w
        assert (r.u, r.w) not in edges, "candidate link already exists"
        assert r.common_neighbors >= 1
        # Jaccard is the exact rational common/(du+dw-common)
        assert r.jaccard == r.common_neighbors / (
            r.deg_u + r.deg_w - r.common_neighbors
        )
        assert 0.0 < r.jaccard <= 1.0


def test_link_prediction_ordering(spark, sf_dir):
    rows = graph_jaccard_link_prediction(spark, sf_dir).collect()
    keys = [(-r.common_neighbors, -r.jaccard, r.u, r.w) for r in rows]
    assert keys == sorted(keys)


# --- MAD anomalies ----------------------------------------------------------


def test_mad_flags_match_python_replay(spark, sf_dir):
    """Recompute median/MAD in pure Python from the daily totals and
    demand the same flagged set (and the same med/mad values)."""
    from project_final_parquet_spark.tables import load

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("total")
        )
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append((r.day, r.total))

    def med(vals: list[float]) -> float:
        s = sorted(vals)
        n = len(s)
        return (s[(n + 1) // 2 - 1] + s[n // 2]) / 2

    expect = {}
    for et, pairs in by_type.items():
        totals = [t for _, t in pairs]
        m = med(totals)
        mad = med([abs(t - m) for t in totals])
        if mad > 0:
            for day, t in pairs:
                if abs(t - m) > 3 * mad:
                    expect[(et, day)] = (t, m, mad)

    got = {
        (r.event_type, r.day): (r.total, r.med, r.mad)
        for r in events_anomaly_mad(spark, sf_dir).collect()
    }
    assert got == expect


# --- k-anonymity ------------------------------------------------------------


def test_k_anonymity_cells_below_k_and_risk_totals(spark, sf_dir):
    rows = dq_k_anonymity(spark, sf_dir).collect()
    assert rows
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    at_risk = sum(r.n_rows for r in rows)
    for r in rows:
        assert 1 <= r.n_rows < 5
        assert r.total_rows == total
        assert r.at_risk_rows == at_risk
        assert r.at_risk_frac == at_risk / total


def test_k_anonymity_cells_are_distinct_qi_tuples(spark, sf_dir):
    rows = dq_k_anonymity(spark, sf_dir).collect()
    qi = [(r.nation, r.segment, r.bal_bucket) for r in rows]
    assert len(qi) == len(set(qi))


# --- audio VAD --------------------------------------------------------------


def _python_vad(doc_id: int):
    """Independent replay: decode the generator's closed form directly
    (no RIFF parse) and run the frame/segment logic in plain numpy."""
    n = 64 + doc_id % 64
    i = np.arange(n, dtype=np.int64)
    smp = ((doc_id * 31 + i * 17) % 2003) - 1001
    nf = n // 16
    frames = smp[: nf * 16].reshape(nf, 16)
    en = (frames * frames).sum(axis=1)
    tot = int(en.sum())
    flags = en * nf > tot
    starts = flags & ~np.concatenate(([False], flags[:-1]))
    return nf, int(flags.sum()), int(starts.sum()), int(en.max())


def test_vad_matches_python_replay(spark, sf_dir):
    rows = mm_audio_vad_segments(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        assert r.doc_id % 2 == 1
        nf, n_speech, n_segments, peak = _python_vad(r.doc_id)
        assert (r.n_frames, r.n_speech, r.n_segments, r.peak_energy) == (
            nf,
            n_speech,
            n_segments,
            peak,
        )


def test_vad_run_invariants(spark, sf_dir):
    for r in mm_audio_vad_segments(spark, sf_dir).collect():
        assert 4 <= r.n_frames <= 7
        assert 0 <= r.n_segments <= r.n_speech <= r.n_frames
        if r.n_speech:
            assert r.n_segments >= 1
        assert r.peak_energy >= 0


def test_vad_parser_round_trips_real_wav_bytes():
    """The stage's RIFF walk must agree with the closed form on real
    encoded bytes (covers header offsets, chunk padding, endianness)."""
    stage = make_vad_stage()
    import pandas as pd

    ids = [1, 3, 63, 65, 127, 999]
    out = pd.concat(list(stage(iter([pd.DataFrame({"doc_id": ids})]))))
    for _, row in out.iterrows():
        nf, n_speech, n_segments, peak = _python_vad(int(row.doc_id))
        assert (
            int(row.n_frames),
            int(row.n_speech),
            int(row.n_segments),
            int(row.peak_energy),
        ) == (nf, n_speech, n_segments, peak)
        # and the encoder really produced a RIFF container
        assert encode_wav(int(row.doc_id))[:4] == b"RIFF"


def test_vad_parser_rejects_non_pcm16_mono():
    """ADVICE r5: the stage's parser must enforce the same fmt-chunk
    contract as parse_wav — a stereo, 8-bit, or non-PCM data chunk is
    rejected, never misread as int16 mono."""
    import struct

    import pytest

    parse = make_vad_stage().parse_samples

    def wav(fmt_tag=1, channels=1, bits=16, with_fmt=True):
        dat = struct.pack("<4sI", b"data", 4) + b"\x01\x02\x03\x04"
        fmt = (
            struct.pack(
                "<4sIHHIIHH", b"fmt ", 16, fmt_tag, channels, 8000,
                8000 * channels * bits // 8, channels * bits // 8, bits,
            )
            if with_fmt
            else b""
        )
        return (
            struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(dat), b"WAVE")
            + fmt
            + dat
        )

    assert list(parse(wav())) == [513, 1027]  # little-endian int16 pairs
    for bad in (
        wav(channels=2),
        wav(bits=8),
        wav(fmt_tag=3),
        wav(with_fmt=False),
    ):
        with pytest.raises(ValueError):
            parse(bad)


# --- linear-probe AUC -------------------------------------------------------


def test_linear_probe_auc_matches_numpy_replay(spark, sf_dir):
    """Recompute centroid → scores → rank-sum AUC in pure numpy with
    the same floor-scaled-integer centroid and demand exact equality."""
    import pandas as pd

    from project_final_parquet_spark.operators.vector_stats import (
        VSCALE,
        ml_linear_probe_auc,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.array([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    labels = emb.label.to_numpy()
    pos = X[labels == 0]
    s = np.floor(pos * VSCALE).astype(np.int64).sum(axis=0)
    w = s.astype(np.float64) / len(pos) / VSCALE
    # left-fold dot to mirror the engines' fold order
    scores = np.zeros(len(X))
    for j in range(X.shape[1]):
        scores += X[:, j] * w[j]
    order = sorted(range(len(X)), key=lambda i: (scores[i], emb.vec_id[i]))
    rank = {emb.vec_id[i]: r + 1 for r, i in enumerate(order)}
    rank_sum = sum(rank[v] for v, l in zip(emb.vec_id, labels) if l == 0)
    n_pos = int((labels == 0).sum())
    n_neg = int((labels != 0).sum())
    auc = (rank_sum - n_pos * (n_pos + 1) // 2) / (n_pos * n_neg)

    row = ml_linear_probe_auc(spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg, row.rank_sum) == (n_pos, n_neg, rank_sum)
    assert row.auc == auc
    assert 0.0 <= row.auc <= 1.0


# --- SRM check --------------------------------------------------------------


def test_srm_chi2_closed_form_and_counts(spark, sf_dir):
    from project_final_parquet_spark.operators.events_analytics import (
        events_ab_srm_check,
    )
    from project_final_parquet_spark.tables import load

    rows = events_ab_srm_check(spark, sf_dir).collect()
    assert rows
    exposed = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    per_type: dict[str, list[int]] = {}
    for r in exposed:
        per_type.setdefault(r.event_type, []).append(r.user_id)
    assert {r.event_type for r in rows} == set(per_type)
    for r in rows:
        uids = per_type[r.event_type]
        a = sum(1 for u in uids if u % 2 == 0)
        b = len(uids) - a
        assert (r.n_a, r.n_b) == (a, b)
        assert r.chi2 == (a - b) ** 2 / (a + b)
        assert r.srm_flag == (r.chi2 > 3.841)
