"""Production ANN query shapes round 6: filtered vector search
(metadata predicate + top-k) and batched multi-query top-k — the two
serving-path forms every vector store exposes beyond the single
unfiltered query (sim_topk_cosine) this repo already proves.

Not in the reference (no vector surface, SURVEY.md §2.1); extends the
similarity family with the query shapes, not new math — scores reuse
the shared fold (vecmath.dot/norm ↔ _DOT_SQL/_NORM_SQL), so
rankings are bit-identical cross-engine by the same argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL
from .vecmath import dot, norm

_FILT_LABEL = 3
_FILT_K = 10

_COS_EQ = (
    f"{_DOT_SQL.format(dim=_DIM, a='e.embedding', b='q.qv')}"
    f" / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}"
    f" * {_NORM_SQL.format(dim=_DIM, a='q.qv')})"
)


@query(
    "sim_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, CAST(e.label AS INT) AS label,
           {_COS_EQ} AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.label = {_FILT_LABEL} AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT {_FILT_K}
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-10 by cosine against the
    vec_id=0 query, restricted to label=3 — the
    metadata-predicate + ANN combination every retrieval serving layer
    needs (RAG with tenant/language/source filters). Pre-filtering is
    the exact strategy: the predicate prunes BEFORE any scoring, so
    recall is 1.0 by construction (versus post-filtering a global
    top-k, which can starve selective filters — the trade-off this
    operator's shape makes explicit).

    Scale: the label predicate is pushed to the parquet scan
    (plan-asserted: PushedFilters carries it), scoring is map-side
    against the broadcast query row, and the top-k is
    TakeOrderedAndProject. On the bucketed/IVF paths the same
    predicate simply rides along the candidate stream — filter first,
    score the survivors, never materialize the unfiltered ranking."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        emb.filter((F.col("label") == _FILT_LABEL) & (F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            cosine.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(_FILT_K)
    )


_BATCH_QIDS = [0, 1, 2, 3, 4]
_BATCH_K = 5

_COS_BATCH = (
    f"{_DOT_SQL.format(dim=_DIM, a='e.embedding', b='q.qv')}"
    f" / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}"
    f" * {_NORM_SQL.format(dim=_DIM, a='q.qv')})"
)


@query(
    "sim_multi_query_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id IN ({", ".join(map(str, _BATCH_QIDS))})
    ),
    scored AS (
      SELECT q.qid, e.vec_id, {_COS_BATCH} AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT qid, rank, vec_id, cosine FROM ranked
    WHERE rank <= {_BATCH_K}
    ORDER BY qid, rank
    """,
)
def sim_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query top-k: five query vectors scored against
    the whole corpus in ONE pass (broadcast query frame, per-query
    rank window) — the amortized serving shape: a query batch costs
    one corpus scan, not one per query, which is how embedding-search
    backfills and evaluation harnesses run at scale.

    Scale: the corpus crosses the wire once; the 5-row query frame
    broadcasts; each row fans out 5x map-side (bounded by batch size).
    The rank window partitions BY QUERY, so no unpartitioned window
    exists — each partition ranks one query's scores, and at
    production scale the same plan becomes per-query
    TakeOrdered-style heaps via window top-k pushdown (Spark rewrites
    rank<=k filters into per-partition limits)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(_BATCH_QIDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("nq"),
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine.alias("cosine"))
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        "cosine",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id"))
        .cast("long")
        .alias("rank"),
    )
    return (
        ranked.filter(F.col("rank") <= _BATCH_K)
        .select("qid", "rank", "vec_id", "cosine")
        .orderBy("qid", "rank")
    )
