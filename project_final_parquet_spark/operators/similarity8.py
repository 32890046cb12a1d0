"""Corpus-scale bucketed variants of the mining audits (round 8).

``sample_hard_negatives`` and ``sim_reciprocal_nn`` (similarity7) are
deliberately audit-sized — a broadcast pool / id-prefix subset whose
oracle is tractable. Their docstrings promised the 100 TB form: route
EVERY vector through the LSH hyperplane buckets (the sim_ann_lsh /
dedup_embedding_cosine cells) and mine within buckets, so the candidate
space is bounded by bucket fan-in instead of |corpus|². These two
queries make that a measured, oracle-gated plan:

- ``sample_hard_negatives_bucketed``: every vector is an anchor;
  candidates are radius-1 multiprobe bucket-mates with a DIFFERENT
  label; per-anchor cosine top-1. One map-side bucket assignment, one
  bounded explode (×7 probes), one shuffle hash join on the bucket
  key, one per-anchor window — never a broadcast pool, never all-pairs.
- ``sim_reciprocal_nn_bucketed``: per-vector bucketed NN (radius-1
  candidates, any label), then reciprocity as a self-join of the |V|
  NN edges on (src, dst) — the Artetxe/Schwenk RNN pairing rule at
  corpus scale.

Recall here is the LSH knob (plane count / probe radius), measured by
``sim_ann_recall_curve`` / ``dedup_eval_recall`` — these queries gate
the PLAN; the audit-sized originals gate the exact semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import query
from ..tables import load
from .similarity import _bucket_expr, _bucket_sql, _DIM, _DOT_SQL, _NORM_SQL
from .vecmath import norm, with_pair_cosine

# radius-1 multiprobe: the home bucket plus each 1-bit flip. Mask 0 is
# the home probe; masks 1<<p flip plane p. Distinct masks => a
# candidate pair is produced at most once per anchor (no dedup needed).
_PROBE_MASKS = [0] + [1 << p for p in range(6)]

_PROBE_SQL = """(
  SELECT CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END AS mask
  FROM (SELECT unnest(range(7)) AS i)
)"""


@query(
    "sample_hard_negatives_bucketed",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_PROBE_SQL} m
    ),
    scored AS (
      SELECT p.anchor, p.anchor_label,
             c.vec_id AS negative, c.label AS negative_label,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / ({_NORM_SQL.format(dim=_DIM, a='p.ea')}
                  * {_NORM_SQL.format(dim=_DIM, a='c.embedding')}) AS cosine
      FROM probes p JOIN buck c ON c.bucket = p.pb
      WHERE c.label <> p.anchor_label AND c.vec_id <> p.anchor
    )
    SELECT anchor, anchor_label, negative, negative_label, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, negative) AS rn
      FROM scored
    ) t WHERE rn = 1
    ORDER BY anchor
    """,
)
def sample_hard_negatives_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-scale hard-negative mining: EVERY vector is an anchor,
    and its hardest negative (most cosine-similar, different label) is
    mined from its radius-1 LSH probe buckets — the bucketed form the
    audit-sized ``sample_hard_negatives`` docstring promised.

    Anchors whose probe buckets hold no cross-label vector emit no row
    (coverage is the LSH recall knob: more planes/probes, or more
    independent tables — the corpus's measured recall curve is
    ``sim_ann_recall_curve``).

    Determinism: the shared left-fold dot / hoisted-norm cosine,
    top-1 totally ordered by (cosine DESC, negative id); bucket bits
    are md5-derived literals identical in both engines.

    Scale: bucket assignment and the ×7 probe explode are map-side;
    the only shuffle is the hash join on the bucket key (fan-in
    bounded by bucket occupancy, tunable with plane count) plus the
    per-anchor top-1 window keyed by anchor. Never corpus², never a
    driver-side pool.

    EVAL-SCALE-ONLY (r11 VERDICT fence): at the FIXED plane count
    occupancy grows linearly with the corpus, so bucket fan-in — and
    this query's runtime — is superlinear (battery13: 19.2x at 10x
    data). Retained as the fixed-structure baseline the adaptive twin
    is audited against; the serving path at corpus scale is
    sample_hard_negatives_adaptive (similarity10.py, plane count
    tracks log2 √n — ≤1.5× at 10×). Run this form only on eval-sized
    slices (the dedup_eval_recall sample-the-universe pattern)."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        _bucket_expr(F.col("embedding")).alias("bucket"),
    )
    probes = buck.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS]
            )
        ).alias("pb"),
    )
    cand = buck.select(
        F.col("vec_id").alias("negative"),
        F.col("label").alias("negative_label"),
        F.col("embedding").alias("ep"),
        F.col("nrm").alias("nn_"),
        "bucket",
    )
    pair = probes.join(cand, probes.pb == cand.bucket).filter(
        (F.col("negative_label") != F.col("anchor_label"))
        & (F.col("negative") != F.col("anchor"))
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13):
    # bit-identical left-fold dot, ~4-8x cheaper than the Catalyst HOF
    scored = with_pair_cosine(
        pair,
        keep=["anchor", "anchor_label", "negative", "negative_label"],
        eb="ep",
        nb="nn_",
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
    "sim_reciprocal_nn_bucketed",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT b.vec_id AS src, b.embedding AS ea,
             xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_PROBE_SQL} m
    ),
    scored AS (
      SELECT p.src, c.vec_id AS dst,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / ({_NORM_SQL.format(dim=_DIM, a='p.ea')}
                  * {_NORM_SQL.format(dim=_DIM, a='c.embedding')}) AS cosine
      FROM probes p JOIN buck c ON c.bucket = p.pb
      WHERE c.vec_id <> p.src
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
def sim_reciprocal_nn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale reciprocal nearest neighbors: each vector's
    bucketed NN (cosine top-1 among its radius-1 LSH probe candidates),
    kept only when mutual — the high-precision pairing rule of the
    audit-sized ``sim_reciprocal_nn``, re-expressed so the NN pass is
    a bucket-join instead of a broadcast subset.

    Determinism: shared left-fold cosine; top-1 ordered by
    (cosine DESC, dst); reciprocity is exact id equality; pairs report
    once, oriented a < b.

    Scale: one bucket-key hash join bounded by bucket fan-in, one
    per-src window, then a co-partitioned self-join of |V| NN edges on
    (src, dst). The quadratic step never materializes.

    EVAL-SCALE-ONLY (r11 VERDICT fence): bucket fan-in grows linearly
    with the corpus at the FIXED plane count, so runtime is superlinear
    (battery13: 8.9x at 10x data). Retained as the fixed-structure
    baseline the adaptive twin is audited against; the serving path at
    corpus scale is sim_reciprocal_nn_adaptive (similarity10.py —
    ≤1.5× at 10×). Run this form only on eval-sized slices (the
    dedup_eval_recall sample-the-universe pattern)."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        _bucket_expr(F.col("embedding")).alias("bucket"),
    )
    probes = buck.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS]
            )
        ).alias("pb"),
    )
    cand = buck.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    scored = with_pair_cosine(
        probes.join(cand, probes.pb == cand.bucket).filter(
            F.col("dst") != F.col("src")
        ),
        keep=["src", "dst"],
    )
    w = W.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "cosine")
    )
    n2 = nn.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst"))
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
