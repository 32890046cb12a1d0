"""Embedding-geometry audits (round 9): corpus isotropy via the
sum-vector identity, and threshold (range) similarity search through the
LSH index — the two remaining read-side shapes of the ANN tier: "how
concentrated is this embedding space?" and "give me EVERY pair above
cosine τ", next to the existing top-k / recall-curve family.

Not in the reference (no vector surface — SURVEY.md §2.1); extends the
similarity / vector_stats families.

Determinism: every dot/norm is the shared left-fold (``vecmath.dot``
/ ``vecmath.norm`` — bit-identical across engines because both fold in
list order); corpus-wide reductions are DSUM folds; orderings carry vec_id
tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load
from .similarity import _bucket_expr, _bucket_sql, _DIM, _DOT_SQL, _NORM_SQL
from .vecmath import dot, norm, with_pair_cosine

_RANGE_TAU = "0.35"  # literal shared by both engines


@query(
    "embeddings_isotropy_audit",
    oracle=f"""
    WITH nrm AS (
      SELECT vec_id,
             list_transform(range({_DIM}),
               j -> CAST(embedding[j+1] AS DOUBLE)
                    / {_NORM_SQL.format(dim=_DIM, a='embedding')}) AS u
      FROM embeddings
    ),
    flat AS (
      SELECT j AS dim, u[j+1] AS uv
      FROM nrm CROSS JOIN (SELECT unnest(range({_DIM})) AS j)
    ),
    dims AS (
      SELECT dim, {DSUM_SQL.format(expr="uv")} AS s
      FROM flat GROUP BY dim
    ),
    scalars AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             {DSUM_SQL.format(
                 expr=_DOT_SQL.format(dim=_DIM, a='u', b='u')
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


@query(
    "sim_range_search_lsh",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings
    ),
    cand AS (
      SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
               / (a.nrm * b.nrm) AS cosine
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, vec_a, vec_b, cosine
    FROM cand WHERE cosine >= {_RANGE_TAU}
    ORDER BY vec_a, vec_b
    """,
)
def sim_range_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search: every pair with cosine ≥ τ
    found through the LSH index — candidates are same-bucket pairs of
    the 6-plane hyperplane index (the sim_ann_lsh table), verified by
    exact cosine. This is the retrieval shape dedup and link-building
    use ("all matches above τ", not "best k"); recall tunes with plane
    count exactly like the top-k path, and the band-OR construction of
    dedup_near_minhash_lsh lifts it to multi-table. Kept as the FIXED
    6-plane reference form; the corpus-scale path is
    sim_range_search_adaptive (similarity10.py — occupancy pinned at
    ~32 by deriving the plane count from the corpus count; battery13
    measures the fixed form superlinear at 10x and the adaptive twin
    ~flat).

    Scale: bucketing is map-side; the ONLY shuffle is the bucket-key
    hash self-join, so pair fan-out is Σ|bucket|² — bounded by plane
    count (≈ n²/2^planes in expectation), never the corpus square.
    Norms are computed once per row before the join (the
    sim_pairs_label_block plan note, O(n·dim) not O(pairs·dim))."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        "embedding",
        _bucket_expr(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = buck.select(
        F.col("bucket").alias("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = buck.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    return (
        with_pair_cosine(pairs, keep=["bucket", "vec_a", "vec_b"])
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "vec_a",
            "vec_b",
            "cosine",
        )
        .filter(F.col("cosine") >= F.expr(_RANGE_TAU))
        .orderBy("vec_a", "vec_b")
    )


@query(
    "sim_pair_margin_stats",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_bucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN (
        SELECT CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END AS mask
        FROM (SELECT unnest(range(7)) AS i)
      ) m
    ),
    scored AS (
      SELECT p.anchor,
             c.label = p.anchor_label AS same,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / (p.na * c.nrm) AS cosine
      FROM probes p JOIN buck c ON c.bucket = p.pb
      WHERE c.vec_id <> p.anchor
    ),
    per_anchor AS (
      SELECT anchor,
             MAX(CASE WHEN same THEN cosine END) AS pos,
             MAX(CASE WHEN NOT same THEN cosine END) AS neg
      FROM scored GROUP BY anchor
    ),
    margins AS (
      SELECT anchor, pos - neg AS margin
      FROM per_anchor WHERE pos IS NOT NULL AND neg IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
           {DSUM_SQL.format(expr="margin")} / COUNT(*) AS mean_margin,
           CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative_margin,
           CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS frac_negative
    FROM margins
    """,
)
def sim_pair_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space margin audit at corpus scale: for every anchor,
    the best SAME-label cosine (nearest positive) minus the best
    DIFFERENT-label cosine (hardest negative) among its radius-1 LSH
    bucket-mates — the per-anchor margin a contrastive/metric-learning
    run is supposed to widen. Reported: anchors with both sides
    present, mean margin, and the count/fraction with NEGATIVE margin
    (an impostor outranks every bucketed positive — exactly the rows
    hard-negative mining surfaces). This is the one-row health score a
    training pipeline tracks per checkpoint next to
    sample_hard_negatives_bucketed's per-anchor listing.

    Determinism: the margin uses MAX of identical IEEE cosines (values,
    not ids — no tiebreak needed); the rollup is one DSUM + counts.

    Scale: the similarity8 shape exactly — map-side bucket assignment,
    a ×7 bounded probe explode, ONE bucket-key hash join, and a
    per-anchor conditional aggregate (no window even needed). Candidate
    fan-in is bucket occupancy, never |corpus|² — but occupancy GROWS
    with the corpus at the fixed plane count (battery12/13: 7.7-10.1x
    at 10x data); the corpus-scale form is sim_pair_margin_adaptive
    (similarity10.py)."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        _bucket_expr(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(6)]])
    probes = (
        buck.select(
            F.col("vec_id").alias("anchor"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
            "bucket",
        )
        .select(
            "anchor",
            "anchor_label",
            "ea",
            "na",
            F.explode(masks).alias("mask"),
            "bucket",
        )
        .select(
            "anchor",
            "anchor_label",
            "ea",
            "na",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("pb"),
        )
    )
    cand = buck.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    pair = (
        probes.join(cand, F.col("cb") == F.col("pb"))
        .filter(F.col("cid") != F.col("anchor"))
        .withColumn(
            "same", F.col("clabel") == F.col("anchor_label")
        )
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(pair, keep=["anchor", "same"])
    per_anchor = scored.groupBy("anchor").agg(
        F.max(F.when(F.col("same"), F.col("cosine"))).alias("pos"),
        F.max(F.when(~F.col("same"), F.col("cosine"))).alias("neg"),
    )
    margins = per_anchor.filter(
        F.col("pos").isNotNull() & F.col("neg").isNotNull()
    ).select((F.col("pos") - F.col("neg")).alias("margin"))
    neg_cnt = F.sum(F.when(F.col("margin") < 0, 1).otherwise(0))
    return margins.agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        (dsum(F.col("margin")) / F.count(F.lit(1))).alias("mean_margin"),
        neg_cnt.cast("long").alias("n_negative_margin"),
        (neg_cnt.cast("double") / F.count(F.lit(1))).alias("frac_negative"),
    )


@query(
    "ml_knn_label_purity_bucketed",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_bucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN (
        SELECT CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END AS mask
        FROM (SELECT unnest(range(7)) AS i)
      ) m
    ),
    scored AS (
      SELECT p.anchor, p.anchor_label, c.vec_id AS nn, c.label AS nn_label,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / (p.na * c.nrm) AS cosine
      FROM probes p JOIN buck c ON c.bucket = p.pb
      WHERE c.vec_id <> p.anchor
    ),
    nn1 AS (
      SELECT anchor_label, nn_label FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY anchor ORDER BY cosine DESC, nn) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT CAST(anchor_label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(CASE WHEN nn_label = anchor_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
           CAST(SUM(CASE WHEN nn_label = anchor_label
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS purity
    FROM nn1 GROUP BY anchor_label ORDER BY label
    """,
)
def ml_knn_label_purity_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out 1-NN label consistency at corpus scale: every
    vector's nearest neighbor (radius-1 LSH probe candidates, cosine,
    id tiebreak) votes on its label; per class, the fraction where the
    vote agrees — the classic intrinsic embedding-quality score (a
    space where 1-NN purity is near the base rate carries no label
    signal, whatever the loss curve said). Complements
    embeddings_class_separation (centroid view) with the local view.

    Scale: identical to the similarity8 bucketed-mining shape —
    map-side bucket assignment, ×7 probe explode, ONE bucket-key hash
    join, one per-anchor top-1 window; output is |labels| rows. At the
    fixed plane count occupancy grows with the corpus (battery12/13:
    11.8-16.3x at 10x data); the corpus-scale form is
    ml_knn_purity_adaptive (similarity10.py)."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        _bucket_expr(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(6)]])
    probes = (
        buck.select(
            F.col("vec_id").alias("anchor"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
            "bucket",
        )
        .select(
            "anchor", "anchor_label", "ea", "na",
            F.explode(masks).alias("mask"), "bucket",
        )
        .select(
            "anchor", "anchor_label", "ea", "na",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("pb"),
        )
    )
    cand = buck.select(
        F.col("vec_id").alias("nn"),
        F.col("label").alias("nn_label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    from pyspark.sql.window import Window as W

    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(
        probes.join(cand, F.col("cb") == F.col("pb")).filter(
            F.col("nn") != F.col("anchor")
        ),
        keep=["anchor", "anchor_label", "nn", "nn_label"],
    )
    w1 = W.partitionBy("anchor").orderBy(F.desc("cosine"), "nn")
    nn1 = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("anchor_label", "nn_label")
    )
    same = F.sum(
        F.when(F.col("nn_label") == F.col("anchor_label"), 1).otherwise(0)
    )
    return (
        nn1.groupBy(F.col("anchor_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            same.cast("long").alias("n_same"),
            (same.cast("double") / F.count(F.lit(1))).alias("purity"),
        )
        .orderBy("label")
    )
