"""Property tests for the LLM-pipeline operators (dedup / similarity /
text / multimodal) beyond the DuckDB oracle gate."""

from __future__ import annotations

import pytest

from project_final_parquet_spark.operators import dedup, llm_text, multimodal, similarity
from project_final_parquet_spark.operators.ann import sim_ann_lsh


def test_minhash_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates must recover every brute-force pair at the 0.5
    threshold on this corpus (clusters sit at ~0.99 Jaccard, where
    band-match probability is ≈1)."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", dedup._shingles3(dedup.text_tokens()).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_near_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh == brute


def test_simhash_pairs_are_symmetric_free(spark, sf_dir):
    rows = dedup.dedup_near_simhash(spark, sf_dir).collect()
    assert all(r.doc_a < r.doc_b for r in rows)
    assert all(0 <= r.hamming <= 10 for r in rows)


def test_ann_results_subset_of_bruteforce_ranking(spark, sf_dir):
    """Every ANN hit must carry the same cosine the brute-force ranking
    assigns it (ANN prunes candidates, never rescores)."""
    topk = {r.vec_id: r.cosine for r in similarity.sim_topk_cosine(spark, sf_dir).collect()}
    ann = sim_ann_lsh(spark, sf_dir).collect()
    assert len(ann) > 0
    for r in ann:
        if r.vec_id in topk:
            assert r.cosine == topk[r.vec_id]
    assert all(-1.0 <= r.cosine <= 1.0 for r in ann)


def test_quality_buckets_partition_corpus(spark, sf_dir):
    rows = llm_text.text_quality_score(spark, sf_dir).collect()
    assert len(rows) == 500
    assert {r.quality_bucket for r in rows} <= {"high", "mid", "low"}
    assert all(0.0 <= r.uniq_ratio <= 1.0 for r in rows)


def test_mapinpandas_partitioning_invariance(spark, sf_dir):
    """mapInPandas features must not depend on partitioning or batch
    boundaries (the real-decoder swap relies on this)."""
    base = multimodal.media_frame(spark, sf_dir).select("doc_id", "kind", "payload")
    one = base.coalesce(1).mapInPandas(
        multimodal.fake_decode_features, schema=multimodal._DECODE_SCHEMA
    )
    many = base.repartition(7).mapInPandas(
        multimodal.fake_decode_features, schema=multimodal._DECODE_SCHEMA
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_real_decoders_replace_stub():
    """Round 4 deleted the NotImplementedError decode stub in favor of
    genuine PPM/WAV parsers (tests/test_multimodal_real.py covers their
    byte-level behavior)."""
    assert not hasattr(multimodal, "decode_media")
    assert callable(multimodal.parse_ppm) and callable(multimodal.parse_wav)
