"""Binary (1-bit) quantization for similarity search: sign-bit packing
+ Hamming-distance ranking.

The most aggressive point on the quantization curve this repo
implements (float32 → int8 ``sim_scalar_quant`` → 1-bit here): 64 dims
pack into two 32-bit words, a 128× cut of the candidate-scan bytes, and
distance becomes two XOR+popcount instructions — the "binary embedding"
trick used for billion-scale first-stage retrieval, re-ranked exactly
afterwards (sim_topk_cosine is the re-ranker here).

Everything is integer arithmetic (sign tests, shifts, popcounts), so
the DuckDB oracle matches exactly with no float conventions needed.

Scale: packing is map-side (an unrolled 64-term sign/shift sum — no
HOF lambda, so nothing re-evaluates the array); the query's two words
broadcast; ranking is map-side popcount + TakeOrderedAndProject.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .vecmath import dot, norm

_DIM = 64
_HALF = 32


def _pack_spark(emb, lo: int):
    """Sign-bit word over dims [lo, lo+32)."""
    terms = [
        F.when(emb[lo + i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(_HALF)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def _pack_sql(col: str, lo: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{lo + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_HALF)
    )
    return f"CAST({terms} AS BIGINT)"


@query(
    "sim_binary_quant",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id, label,
             {_pack_sql("embedding", 0)} AS h1,
             {_pack_sql("embedding", _HALF)} AS h2
      FROM embeddings
    ),
    q AS (SELECT h1 AS q1, h2 AS q2 FROM packed WHERE vec_id = 0)
    SELECT p.vec_id, p.label,
           CAST(bit_count(xor(p.h1, q.q1))
                + bit_count(xor(p.h2, q.q2)) AS BIGINT) AS hamming
    FROM packed p CROSS JOIN q
    WHERE p.vec_id <> 0
    ORDER BY hamming, p.vec_id
    LIMIT 10
    """,
)
def sim_binary_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization of 64-dim embeddings into two 32-bit
    words; top-10 nearest to the vec_id=0 query by Hamming distance
    (XOR + popcount, vec_id tiebreak)."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    packed = emb.select(
        "vec_id",
        "label",
        _pack_spark(e, 0).alias("h1"),
        _pack_spark(e, _HALF).alias("h2"),
    )
    q = packed.filter(F.col("vec_id") == 0).select(
        F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    hamming = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
    ).cast("long")
    return (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", hamming.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


_PFX = 16


@query(
    "sim_matryoshka_prefix",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             list_aggregate(list_transform(range({_PFX}),
               j -> CAST(e.embedding[j+1] AS DOUBLE)
                    * CAST(q.qv[j+1] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(range({_PFX}),
                    j -> CAST(e.embedding[j+1] AS DOUBLE)
                         * CAST(e.embedding[j+1] AS DOUBLE)), 'sum'))
                  * sqrt(list_aggregate(list_transform(range({_PFX}),
                    j -> CAST(q.qv[j+1] AS DOUBLE)
                         * CAST(q.qv[j+1] AS DOUBLE)), 'sum')))
               AS prefix_cosine,
             list_aggregate(list_transform(range(64),
               j -> CAST(e.embedding[j+1] AS DOUBLE)
                    * CAST(q.qv[j+1] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(range(64),
                    j -> CAST(e.embedding[j+1] AS DOUBLE)
                         * CAST(e.embedding[j+1] AS DOUBLE)), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(64),
                    j -> CAST(q.qv[j+1] AS DOUBLE)
                         * CAST(q.qv[j+1] AS DOUBLE)), 'sum')))
               AS full_cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, prefix_cosine, full_cosine
    FROM scored
    ORDER BY prefix_cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix retrieval: rank by cosine over only the
    FIRST 16 of 64 dims (MRL-trained embeddings pack the coarse
    semantics into the prefix), carrying the full-dim cosine alongside
    so prefix-vs-full agreement is inspectable row by row. The scan
    reads ¼ of the vector bytes at ranking time and the exact full-dim
    score re-ranks the short list — the third compression axis beside
    quantization (int8/PQ/1-bit) and projection (JL): truncation."""
    emb = load(spark, sf_dir, "embeddings")

    def cos(a, b, dims: int):
        sa, sb = F.slice(a, 1, dims), F.slice(b, 1, dims)
        return dot(sa, sb) / (norm(sa) * norm(sb))

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    e, qv = F.col("embedding"), F.col("qv")
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cos(e, qv, _PFX).alias("prefix_cosine"),
            cos(e, qv, 64).alias("full_cosine"),
        )
        .orderBy(F.desc("prefix_cosine"), "vec_id")
        .limit(10)
    )
