"""Random-projection dimensionality reduction for similarity search.

Johnson–Lindenstrauss with a deterministic ±1 projection matrix
(md5-derived signs, precomputed literals — the same matrix is inlined
into the DuckDB oracle, so scores match bit-for-bit): project
64-dim float vectors to 16 dims, then rank by exact cosine in the
projected space. At 100 TB the projected table is 4× smaller to scan
and cheap enough to re-rank exactly; projection itself is map-side
(16 ``vecmath.dot`` calls per row, no shuffle).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .vecmath import dot, double_array_lit, norm

_DIM = 64
_PDIM = 16


def _sign(t: int, j: int) -> int:
    h = hashlib.md5(f"rp:{t}:{j}".encode()).hexdigest()
    return 1 if h[0] < "8" else -1


# ±1 matrix, _PDIM rows of _DIM signs — importable constants, same
# values baked into the oracle SQL below
_R = [[_sign(t, j) for j in range(_DIM)] for t in range(_PDIM)]


def _project(emb):
    """The 16-dim projection of ``emb``: one left-fold dot per ±1 row."""
    return F.array(*[dot(emb, double_array_lit(row)) for row in _R])


def _proj_sql(a: str, t: int) -> str:
    lits = ", ".join(str(float(s)) for s in _R[t])
    return (
        f"list_aggregate(list_transform(range({_DIM}), "
        f"j -> CAST({a}[j+1] AS DOUBLE) * ([{lits}])[j+1]), 'sum')"
    )


def _pdot_sql(pa: str, pb: str) -> str:
    return (
        f"list_aggregate(list_transform(range({_PDIM}), "
        f"t -> {pa}[t+1] * {pb}[t+1]), 'sum')"
    )


def _pnorm_sql(pa: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform(range({_PDIM}), "
        f"t -> {pa}[t+1] * {pa}[t+1]), 'sum'))"
    )


@query(
    "sim_random_projection",
    oracle=f"""
    WITH p AS (
      SELECT vec_id, label,
             [{", ".join(_proj_sql("embedding", t) for t in range(_PDIM))}]
               AS pv
      FROM embeddings
    ),
    q AS (SELECT pv AS qv FROM p WHERE vec_id = 0)
    SELECT p.vec_id, p.label,
           {_pdot_sql("p.pv", "q.qv")}
             / ({_pnorm_sql("p.pv")} * {_pnorm_sql("q.qv")}) AS pcosine
    FROM p CROSS JOIN q
    WHERE p.vec_id <> 0
    ORDER BY pcosine DESC, p.vec_id
    LIMIT 10
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims (deterministic ±1 signs), then
    exact cosine top-10 in the projected space against the vec_id=0
    query. Projection and scoring are both map-side over the broadcast
    1-row projected query; TakeOrderedAndProject keeps k rows per
    partition. The 4× dimension cut is the JL trade: pairwise angles
    survive within ~1/sqrt(16) distortion, enough for candidate
    generation feeding exact re-ranking (sim_topk_cosine)."""
    emb = load(spark, sf_dir, "embeddings")
    # the vec_id = 0 filter sits below the projection, so it still
    # pushes down to the parquet scan: the query side reads one row
    q = emb.filter(F.col("vec_id") == 0).select(
        _project(F.col("embedding")).alias("qv")
    ).select("qv", norm(F.col("qv")).alias("nq"))
    p = emb.select(
        "vec_id", "label", _project(F.col("embedding")).alias("pv")
    ).select("vec_id", "label", "pv", norm(F.col("pv")).alias("npv"))
    return (
        p.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            (
                dot(F.col("pv"), F.col("qv")) / (F.col("npv") * F.col("nq"))
            ).alias("pcosine"),
        )
        .orderBy(F.col("pcosine").desc(), F.col("vec_id"))
        .limit(10)
    )
