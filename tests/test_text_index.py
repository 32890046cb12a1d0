"""Inverted index / BM25 ranking / PQ-ADC behavioral tests (sf0.001).

Cross-engine value equality is the oracle gate's job; these assert the
operator-level invariants the gate can't see: bounded postings, ranking
sanity, PQ code-space properties, and the plan facts that make each op
scale (broadcasts where broadcasts belong).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.quantization import (
    _K,
    _M,
    sim_pq_adc,
)
from project_final_parquet_spark.operators.text_index import (
    _POSTINGS_HEAD,
    _TERMS,
    text_bm25_rank,
    text_inverted_index,
)


def test_inverted_index_postings_bounded(spark, sf_dir):
    rows = text_inverted_index(spark, sf_dir).collect()
    assert rows, "empty index"
    for r in rows:
        # postings_head is serialized to a comma-joined STRING (round-4
        # fix: the driver canonicalizer cannot hash array cells)
        assert isinstance(r.postings_head, str) and r.postings_head
        head = [int(x) for x in r.postings_head.split(",")]
        assert 1 <= len(head) <= _POSTINGS_HEAD
        assert head == sorted(head)
        assert r.df >= len(head)
        assert r.tf_total >= r.df


def test_inverted_index_df_matches_direct_count(spark, sf_dir):
    idx = {r.token: r.df for r in text_inverted_index(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = _TERMS[0]
    direct = docs.filter(
        F.array_contains(F.split("text", " "), tok)
    ).count()
    assert idx[tok] == direct


def test_bm25_top_docs_contain_query_terms(spark, sf_dir):
    top = text_bm25_rank(spark, sf_dir).collect()
    assert len(top) == 15
    scores = [r.score for r in top]
    assert scores == sorted(scores, reverse=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    best = docs.filter(F.col("doc_id") == top[0].doc_id).head().text.split(" ")
    # the top-ranked doc must actually mention at least 2 of the 3 terms
    assert sum(t in best for t in _TERMS) >= 2


def test_pq_codes_in_range_and_deterministic(spark, sf_dir):
    a = sim_pq_adc(spark, sf_dir).collect()
    b = sim_pq_adc(spark, sf_dir).collect()
    assert a == b, "PQ encode/ADC must be deterministic"
    assert len(a) == 10
    for r in a:
        parts = [int(c) for c in r.pq_code.split("-")]
        assert len(parts) == _M
        assert all(0 <= c < _K for c in parts)
        assert r.adc >= 0.0
    # ascending ADC with vec_id tiebreak
    keys = [(r.adc, r.vec_id) for r in a]
    assert keys == sorted(keys)


def test_pq_codebook_members_have_near_zero_self_distance(spark, sf_dir):
    """A codebook member's own subvectors quantize to themselves, so its
    reconstruction error is 0; its ADC is then the plain distance from
    the query to that codeword — finite and consistent."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb_ids = [
        r.vec_id
        for r in emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
        .collect()
    ]
    assert len(set(cb_ids)) == _K
