"""Batch-16 tests: binary quantization and the gated UDTF (sf0.001)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.quantization import sim_binary_quant
from project_final_parquet_spark.operators.udtf_ops import udtf_token_positions


def test_binary_quant_hamming_bounds(spark, sf_dir):
    rows = sim_binary_quant(spark, sf_dir).collect()
    assert len(rows) == 10
    hs = [r.hamming for r in rows]
    assert hs == sorted(hs)
    assert all(0 <= h <= 64 for h in hs)


def test_udtf_matches_posexplode(spark, sf_dir):
    """The UDTF expansion must equal the pure-JVM posexplode form."""
    got = udtf_token_positions(spark, sf_dir).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 5")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .orderBy("doc_id", "pos")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in docs]
