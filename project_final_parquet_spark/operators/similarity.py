"""Exact embedding similarity over ``embeddings`` (array<float>, dim 64):
brute-force scoring, filtered and batched top-k, centroids, and the
exact mining audits (reciprocal nearest neighbours, hard negatives,
isotropy).

Every dot and norm is ``vecmath.dot``/``vecmath.norm``: the ``vec_dot``
JVM kernel, a left fold bit-identical to DuckDB's list folds
(``DOT_SQL``/``NORM_SQL``), so the oracles match exactly, cosine scores
included. Every top-k is totally ordered by (score, vec_id).

Scale: the query row is broadcast (a cross join with a 1-row frame),
scoring is map-side, and TakeOrderedAndProject keeps k rows per
partition before the final merge. All-pairs scoring is bounded by label
blocking; the bucketed and indexed forms are in ``ann.py`` and the
compressed codes in ``quantization.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load

from .vecmath import dot, norm, with_pair_cosine

DIM = 64


DOT_SQL = """list_aggregate(list_transform(range({dim}),
    j -> CAST({a}[j+1] AS DOUBLE) * CAST({b}[j+1] AS DOUBLE)), 'sum')"""
NORM_SQL = """sqrt(list_aggregate(list_transform(range({dim}),
    j -> CAST({a}[j+1] AS DOUBLE) * CAST({a}[j+1] AS DOUBLE)), 'sum'))"""


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {DOT_SQL.format(dim=DIM, a='e.embedding', b='q.qv')}
             / ({NORM_SQL.format(dim=DIM, a='e.embedding')}
                * {NORM_SQL.format(dim=DIM, a='q.qv')}) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the exact baseline every ANN variant is measured against."""
    emb = load(spark, sf_dir, "embeddings")
    # query norm hoisted into the broadcast 1-row frame: computed once,
    # not once per corpus row (same left-fold => bit-identical cosine)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "sim_pairs_label_block",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                * {NORM_SQL.format(dim=DIM, a='b.embedding')}) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                * {NORM_SQL.format(dim=DIM, a='b.embedding')}) >= 0.35
    ORDER BY vec_a, vec_b
    """,
)
def sim_pairs_label_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.35 within label blocks
    (blocking bounds the pair space; cross-label near-dups are the ANN
    query's job).

    EVAL-SCALE-ONLY (r11 VERDICT fence): label blocks grow linearly
    with the corpus, so the within-block pair space grows
    QUADRATICALLY — battery13 measured this tier 4.6–19.2× at 10×
    data. It is retained as the oracle-diverse exact baseline that
    recall audits compare against; the serving path at corpus scale is
    the corpus-adaptive LSH tier (sim_pair_margin_adaptive /
    sim_range_search_adaptive in ann.py — ≤1.5× at 10×), whose
    bucket width tracks √n. Run this form only on eval-sized slices
    (the dedup_eval_recall sample-the-universe pattern).

    Plan note: each side's norm is computed ONCE per row before the
    join — O(N·dim) — instead of inside the pair expression —
    O(pairs·dim) (measured at sf0.1: 13.7 s → 5.9 s, bit-identical
    values since the per-row norm is the same left-fold). The pair dot
    itself runs in the ``vec_dot`` JVM kernel (vecmath.py): Catalyst's
    interpreted HOF fold was the per-task bottleneck (unrolling it into
    64 explicit products was 3× SLOWER — the 128-deep expression tree
    defeats codegen; the kernel replays the identical IEEE fold with no
    Python worker). Catalyst pushes the ``cosine >= 0.35`` filter into
    the join condition, so a pair that passes is scored twice: once
    there and once in the projection."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(
        b, (a.label == b.label_b) & (F.col("vec_a") < F.col("vec_b"))
    )
    return (
        with_pair_cosine(pairs, keep=["vec_a", "vec_b", "label"])
        .filter(F.col("cosine") >= 0.35)
        .orderBy("vec_a", "vec_b")
    )


@query(
    "sim_centroids",
    oracle="""
    SELECT label, j AS dim_idx,
           (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE) * 1000000000.0)
                 AS BIGINT)) AS DOUBLE) / 1000000000.0) / COUNT(*)
             AS centroid_val
    FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
    GROUP BY label, j
    ORDER BY label, j
    """,
)
def sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension).

    Cross-row sums of float-derived doubles can't use the DECIMAL
    convention (the engines' double→DECIMAL roundings disagree on
    17-digit values), so they sum as exact floor-scaled integers."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim_idx", "val")
    )
    scaled = F.floor(F.col("val").cast("double") * 1000000000.0)
    return (
        exploded.groupBy("label", F.col("dim_idx").alias("j"))
        .agg(
            (
                (F.sum(scaled).cast("double") / 1000000000.0) / F.count(F.lit(1))
            ).alias("centroid_val")
        )
        .withColumnRenamed("j", "dim_idx")
        .orderBy("label", "dim_idx")
    )


_FILT_LABEL = 3
_FILT_K = 10

_COS_EQ = (
    f"{DOT_SQL.format(dim=DIM, a='e.embedding', b='q.qv')}"
    f" / ({NORM_SQL.format(dim=DIM, a='e.embedding')}"
    f" * {NORM_SQL.format(dim=DIM, a='q.qv')})"
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
    f"{DOT_SQL.format(dim=DIM, a='e.embedding', b='q.qv')}"
    f" / ({NORM_SQL.format(dim=DIM, a='e.embedding')}"
    f" * {NORM_SQL.format(dim=DIM, a='q.qv')})"
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


# --- reciprocal nearest neighbors -------------------------------------------

_RNN_N = 300  # self-contained audit subset (oracle tractability)


@query(
    "sim_reciprocal_nn",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_RNN_N}
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
               / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                  * {NORM_SQL.format(dim=DIM, a='b.embedding')}) AS cosine
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT src, dst, cosine FROM (
        SELECT src, dst, cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY src ORDER BY cosine DESC, dst) AS rn
        FROM scored
      ) t WHERE rn = 1
    )
    SELECT n1.src AS a, n1.dst AS b, n1.cosine
    FROM nn n1 JOIN nn n2 ON n2.src = n1.dst AND n2.dst = n1.src
    WHERE n1.src < n1.dst
    ORDER BY a
    """,
)
def sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest neighbors: pairs (a, b) where each is the
    other's cosine top-1 — the high-precision pairing rule semantic
    dedup and cross-lingual mining use (Artetxe/Schwenk margin-based
    mining keeps RNN pairs; one-directional NN is noise-prone). Runs on
    a self-contained id-prefix subset so the mutual property is closed
    under the oracle's relation; pairs report once, oriented a < b.

    Determinism: the SAME left-fold dot / hoisted-norm cosine as
    sim_knn_graph, top-1 totally ordered by (cosine DESC, dst), and the
    reciprocity self-join is exact id equality.

    Scale: the subset broadcasts (it is the audit frame); the corpus
    form shards sources exactly like sim_knn_graph — each shard's NN
    pass is one broadcast map-side scan, and reciprocity is a
    co-partitioned self-join of the |V| NN edges on (src, dst) — never
    pairwise at corpus scale; LSH/IVF blocking (the gated bucketed
    shapes) bounds each shard's candidate set."""
    emb = load(spark, sf_dir, "embeddings")
    s = emb.filter(F.col("vec_id") < _RNN_N).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = s.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = s.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )

    scored = with_pair_cosine(
        a.crossJoin(F.broadcast(b)).filter(F.col("src") != F.col("dst")),
        keep=["src", "dst"],
    )
    w = W.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "cosine")
    )
    n2 = nn.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    )
    return (
        nn.join(
            n2,
            (F.col("r_src") == F.col("dst"))
            & (F.col("r_dst") == F.col("src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "cosine")
        .orderBy("a")
    )


# --- hard-negative mining ----------------------------------------------------

_HN_ANCHORS = 200   # anchors: vec_id < this
_HN_POOL = 1000     # negative pool: vec_id < this, label differs


@query(
    "sample_hard_negatives",
    oracle=f"""
    WITH a AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < {_HN_ANCHORS}
    ),
    pool AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < {_HN_POOL}
    ),
    scored AS (
      SELECT a.vec_id AS anchor, CAST(a.label AS INT) AS anchor_label,
             p.vec_id AS negative, CAST(p.label AS INT) AS negative_label,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='p.embedding')}
               / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                  * {NORM_SQL.format(dim=DIM, a='p.embedding')}) AS cosine
      FROM a JOIN pool p ON p.label <> a.label
    )
    SELECT anchor, anchor_label, negative, negative_label, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, negative) AS rn
      FROM scored
    ) t WHERE rn = 1
    ORDER BY anchor
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    most cosine-similar vector with a DIFFERENT label — the negative
    that actually moves a contrastive/metric-learning loss (random
    negatives are trivially separated; the hard ones define the
    decision boundary). Anchors are an id-prefix audit set against a
    larger cross-label pool; pairs report (anchor, negative, both
    labels, cosine).

    Determinism: the shared left-fold dot / hoisted-norm cosine, top-1
    totally ordered by (cosine DESC, negative id).

    Scale: the pool broadcasts at audit size; the corpus form is
    sim_knn_graph's sharded broadcast scan with a label-inequality
    residual filter, or the IVF-bucketed variant when anchors ≈ corpus
    — mining cost is one corpus pass per anchor shard either way, and
    the per-anchor top-1 keeps the shuffle at |anchors| rows."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").cast("int").alias("anchor_label"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    pool = emb.filter(F.col("vec_id") < _HN_POOL).select(
        F.col("vec_id").alias("negative"),
        F.col("label").cast("int").alias("negative_label"),
        F.col("embedding").alias("ep"),
        norm(F.col("embedding")).alias("np_"),
    )

    scored = with_pair_cosine(
        a.crossJoin(F.broadcast(pool)).filter(
            F.col("negative_label") != F.col("anchor_label")
        ),
        keep=["anchor", "anchor_label", "negative", "negative_label"],
        eb="ep",
        nb="np_",
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cosine"), "negative")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor", "anchor_label", "negative", "negative_label", "cosine"
        )
        .orderBy("anchor")
    )


@query(
    "embeddings_isotropy_audit",
    oracle=f"""
    WITH nrm AS (
      SELECT vec_id,
             list_transform(range({DIM}),
               j -> CAST(embedding[j+1] AS DOUBLE)
                    / {NORM_SQL.format(dim=DIM, a='embedding')}) AS u
      FROM embeddings
    ),
    flat AS (
      SELECT j AS dim, u[j+1] AS uv
      FROM nrm CROSS JOIN (SELECT unnest(range({DIM})) AS j)
    ),
    dims AS (
      SELECT dim, {DSUM_SQL.format(expr="uv")} AS s
      FROM flat GROUP BY dim
    ),
    scalars AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             {DSUM_SQL.format(
                 expr=DOT_SQL.format(dim=DIM, a='u', b='u')
             )} AS sum_sq
      FROM nrm
    )
    SELECT n_vecs, sum_sq,
           ({DSUM_SQL.format(expr="s * s")} - sum_sq)
             / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))
             AS mean_pairwise_cosine
    FROM dims CROSS JOIN scalars
    GROUP BY n_vecs, sum_sq
    """,
)
def embeddings_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus isotropy in ONE aggregation pass: the mean pairwise
    cosine over ALL n·(n-1) ordered vector pairs, computed WITHOUT any
    pair join via the sum-vector identity
    Σ_{i≠k} û_i·û_k = ‖Σ_i û_i‖² − Σ_i ‖û_i‖². A high mean cosine
    means the space is anisotropic (everything points the same way —
    the classic "narrow cone" pathology that makes cosine retrieval
    uninformative); near-zero means isotropic. The diagonal mass
    (sum_sq ≈ n) is computed explicitly with the SAME folds rather
    than assumed, so the identity is exact in both engines.

    Scale: O(n·dim) map-side normalization, one 64-key per-dim DSUM,
    one global DSUM — no shuffle bigger than 64 rows, no pair space.
    The naive form of this number is an n² cosine join; this is the
    identity every embedding-QA pipeline should use instead."""
    emb = load(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("n")
    ).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") / F.col("n")
        ).alias("u"),
    )
    flat = nrm.select(F.posexplode("u").alias("dim", "uv"))
    dims = flat.groupBy("dim").agg(dsum(F.col("uv")).alias("s"))
    scalars = nrm.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        dsum(dot(F.col("u"), F.col("u"))).alias("sum_sq"),
    )
    return (
        dims.crossJoin(F.broadcast(scalars))
        .groupBy("n_vecs", "sum_sq")
        .agg(dsum(F.col("s") * F.col("s")).alias("sum_s2"))
        .select(
            "n_vecs",
            "sum_sq",
            (
                (F.col("sum_s2") - F.col("sum_sq"))
                / (F.col("n_vecs").cast("double") * (F.col("n_vecs") - 1))
            ).alias("mean_pairwise_cosine"),
        )
    )
