"""Corpus-adaptive LSH index (round 10): plane count derived from the
corpus size, so bucket occupancy — and with it the candidate fan-out of
every bucketed-mining operator — stays CONSTANT as the corpus grows.

The r9 VERDICT's top scale finding: the fixed ``_N_PLANES = 6`` index
(similarity.py:142) holds bucket COUNT at 64 forever, so the same-bucket
self-join produces Σ|bucket|² ≈ n²/64 candidate pairs — linear-looking
at sf0.1, quadratic at 100× (battery12 measured 6.4×/7.7×/11.8× at 10×
data for the three bucketed-mining queries). The production knob was
documented but not implemented; this module implements it:

    planes(n) = max(6, bit_length((n - 1) // TARGET_OCCUPANCY))

i.e. the smallest plane count with expected occupancy ≤ TARGET_OCCUPANCY
(=32), floored at the fixed index's 6 so small corpora are bit-identical
to the existing index. Doubling the corpus adds one plane: occupancy
stays in [TARGET/2, TARGET], candidate fan-out stays n·O(TARGET), and
the radius-1 probe family grows only the logarithmic mask count. The
formula is INTEGER-only (bit_length == LENGTH(BIN(x)) in DuckDB) so both
engines derive the identical plane set from the identical corpus count —
verified over a 28k-point n sweep in tests.

Plane coefficients reuse ``_plane_coeff`` (similarity.py) — the same
md5-derived literal seed at every count, so planes 0..5 ARE the fixed
index and the adaptive index is a strict extension of it.

Spark side: a driver-side parquet FOOTER-metadata row count at
construction (num_rows — zero data pages, zero Spark jobs; count()
fallback for non-file sources) picks the plane count; the plan stays the
bucketed-mining shape (map-side bucket assignment, bounded probe
explode, ONE bucket-key hash join). Oracle side: the SAME count via
``COUNT(*)`` in a CTE, with all MAX_PLANES=24 plane bits written as
literals and bit p masked out when p ≥ k. 24 planes caps the corpus at
2^24·32 ≈ 537M vectors per LSH table; past that, shard the corpus or
raise MAX_PLANES (a literal-width change, not a design change).

Not in the reference (no vector surface — SURVEY.md §2.1); extends the
similarity family. Fixed-plane variants (sim_range_search_lsh,
sim_pair_margin_stats, ml_knn_label_purity_bucketed) are kept: the
radius-1 semantics are plane-count-dependent, so these are gated as
``_adaptive`` twins per the r9 VERDICT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL, _bucket_expr_for, _plane_coeff
from .vecmath import dot, norm, with_pair_cosine

_TARGET_OCC = 32  # expected vectors per bucket the index aims for
_MAX_PLANES = 24  # oracle literal width; 2^24 buckets ≈ 537M vectors
_RANGE_TAU = "0.35"  # shared literal with sim_range_search_lsh

_PLANES24 = [
    [_plane_coeff(p, j) for j in range(_DIM)] for p in range(_MAX_PLANES)
]


def adaptive_planes(n: int) -> int:
    """Smallest plane count with expected bucket occupancy ≤ 32,
    floored at the fixed index's 6 and capped at the oracle literal
    width (24 — past 2^24·32 ≈ 537M vectors, shard the corpus or
    widen the literals). Integer-only: agrees with the oracle's
    LEAST(24, GREATEST(6, LENGTH(BIN((n-1)//32)))) at every n ≥ 1."""
    return min(_MAX_PLANES, max(6, ((n - 1) // _TARGET_OCC).bit_length()))


# SQL fragment: the adaptive plane count from the corpus count. Used as
# a 1-row CTE named ``np`` (column ``k``) in every oracle below.
_NP_SQL = (
    f"SELECT LEAST({_MAX_PLANES}, GREATEST(6, "
    f"LENGTH(BIN((COUNT(*) - 1) // {_TARGET_OCC})))) AS k "
    "FROM embeddings"
)


def _abucket_sql(vec: str) -> str:
    """Adaptive bucket id in SQL: all 24 plane bits as literals, bit p
    contributing only when p < np.k (the CASE masks the rest out)."""
    terms = []
    for p in range(_MAX_PLANES):
        lit = "[" + ",".join(repr(c) for c in _PLANES24[p]) + "]"
        dot_sql = _DOT_SQL.format(dim=_DIM, a=vec, b=lit)
        terms.append(
            f"(CASE WHEN {p} < np.k AND {dot_sql} > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _abucket_expr(vec, k: int):
    """Adaptive bucket id in Spark: exactly k plane bits (k is a plain
    Python int from the corpus count, so only the needed dots are in
    the plan). Identical value to the SQL form: bit p is independent
    of every other plane."""
    return _bucket_expr_for(_PLANES24[:k], vec)


# radius-1 probe masks in SQL: 0 (own bucket) + one single-bit flip per
# plane — mask count k+1 follows the plane count.
_MASKS_SQL = """(
        SELECT CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END AS mask
        FROM (SELECT unnest(range((SELECT k FROM np) + 1)) AS i)
      )"""


def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Exact corpus count from parquet FOOTER metadata (num_rows is
    part of the footer — zero data pages, zero Spark jobs), equal by
    definition to the oracle's COUNT(*) over the same file(s). Falls
    back to one count() job for corpora the driver can't reach as
    parquet files (a future non-file source)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    root = Path(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    try:
        files = sorted(root.glob("*.parquet")) if root.is_dir() else [root]
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return load(spark, sf_dir, "embeddings").count()


def _bucketed(spark: SparkSession, sf_dir: str, ckpt: bool = False):
    """Shared staging: corpus count -> plane count -> bucketed frame.
    The footer-metadata count is the one driver-side step (no Spark
    job); everything downstream is the lazy bucketed plan.

    ``ckpt=True`` (r10 VERDICT perf item): queries that consume the
    bucketed frame on BOTH sides of the probe/self join would otherwise
    evaluate the k plane dot-products (and the norm) over the full
    corpus TWICE — once per join side. Checkpointing materializes the
    bucket bits once; both sides then read the cached blocks. Single-
    consumer plans (occupancy profile) and plans whose second side is
    pruned to O(1) rows by filter pushdown (topk's 1-row query frame,
    the recall audit's 8 anchors) stay fully lazy — a checkpoint there
    would only add a materialization pass."""
    emb = load(spark, sf_dir, "embeddings")
    k = adaptive_planes(_corpus_count(spark, sf_dir))
    buck = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        _abucket_expr(F.col("embedding"), k).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    if ckpt:
        from ..ckpt import checkpoint

        # Blocks stay resident for the returned plan's lifetime (both
        # join sides read them); freed by GC + ContextCleaner once the
        # caller drops the frame — the graph_rich_club pattern.
        buck = checkpoint(buck)
    return k, buck


@query(
    "sim_range_search_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, embedding, {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    cand AS (
      SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
               / (a.nrm * b.nrm) AS cosine
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           CAST(bucket AS BIGINT) AS bucket, vec_a, vec_b, cosine
    FROM cand WHERE cosine >= {_RANGE_TAU}
    ORDER BY vec_a, vec_b
    """,
)
def sim_range_search_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search through the CORPUS-ADAPTIVE
    LSH index: sim_range_search_lsh's semantics with the plane count
    derived from the corpus size (module note), emitted as n_planes so
    the gated output pins which index was used. At the driver SFs
    (n ≤ 2048) n_planes floors at 6 and the candidate set is
    bit-identical to the fixed index; at 10× data the index grows to
    10 planes and per-anchor candidate cost stays ~flat where the
    fixed index measured 6.4× (battery13 vs battery12).

    Scale: map-side bucketing (k dots/row, k ≈ log2(n/32)); the ONLY
    shuffle is the bucket-key hash self-join with Σ|bucket|² ≈ n·32
    expected candidate pairs — corpus-proportional, never n²."""
    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    a = buck.select(
        "bucket",
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
            F.lit(k).cast("long").alias("n_planes"),
            F.col("bucket").cast("long").alias("bucket"),
            "vec_a",
            "vec_b",
            "cosine",
        )
        .filter(F.col("cosine") >= F.expr(_RANGE_TAU))
        .orderBy("vec_a", "vec_b")
    )


def _probes(buck, k: int):
    """Radius-1 probe targets: own bucket + one single-bit flip per
    plane (k+1 masks — the explode is bounded by the LOG-sized plane
    count, not the corpus)."""
    masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(k)]])
    return (
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


@query(
    "sim_pair_margin_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
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
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           {DSUM_SQL.format(expr="margin")} / COUNT(*) AS mean_margin,
           CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative_margin,
           CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS frac_negative
    FROM margins
    """,
)
def sim_pair_margin_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pair_margin_stats (nearest-positive minus hardest-negative
    margin per anchor, radius-1 LSH candidates) on the CORPUS-ADAPTIVE
    index — the fixed-plane form's 7.7× battery ratio was the second-
    worst ever recorded; with occupancy held at ~32 the probe join's
    fan-in is corpus-proportional. n_planes is emitted so the gated
    row pins the index size.

    Scale: map-side bucket assignment, ×(k+1) bounded probe explode
    (k ≈ log2(n/32)), ONE bucket-key hash join, one conditional
    aggregate — candidate fan-in per anchor is ~32·(k+1), flat in n."""
    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    cand = buck.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    pair = (
        _probes(buck, k)
        .join(cand, F.col("cb") == F.col("pb"))
        .filter(F.col("cid") != F.col("anchor"))
        .withColumn("same", F.col("clabel") == F.col("anchor_label"))
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
        F.lit(k).cast("long").alias("n_planes"),
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        (dsum(F.col("margin")) / F.count(F.lit(1))).alias("mean_margin"),
        neg_cnt.cast("long").alias("n_negative_margin"),
        (neg_cnt.cast("double") / F.count(F.lit(1))).alias("frac_negative"),
    )


@query(
    "ml_knn_purity_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
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
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           CAST(anchor_label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(CASE WHEN nn_label = anchor_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
           CAST(SUM(CASE WHEN nn_label = anchor_label
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS purity
    FROM nn1 GROUP BY anchor_label ORDER BY label
    """,
)
def ml_knn_purity_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_knn_label_purity_bucketed (leave-one-out 1-NN label
    consistency per class, radius-1 LSH candidates) on the CORPUS-
    ADAPTIVE index — the fixed-plane form's 11.8× battery ratio was
    the worst ever recorded; occupancy held at ~32 makes the top-1
    window's input corpus-proportional. n_planes pins the index size
    in every gated row.

    Scale: the bucketed-mining shape — map-side bucket assignment,
    ×(k+1) probe explode, ONE bucket-key hash join, per-anchor top-1
    window over ~32·(k+1) candidates; output is |labels| rows."""
    from pyspark.sql.window import Window as W

    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    cand = buck.select(
        F.col("vec_id").alias("nn"),
        F.col("label").alias("nn_label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(
        _probes(buck, k)
        .join(cand, F.col("cb") == F.col("pb"))
        .filter(F.col("nn") != F.col("anchor")),
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
            F.lit(k).cast("long").alias("n_planes"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            same.cast("long").alias("n_same"),
            (same.cast("double") / F.count(F.lit(1))).alias("purity"),
        )
        .select("n_planes", "label", "n_anchors", "n_same", "purity")
        .orderBy("label")
    )


@query(
    "sample_hard_negatives_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding,
             {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
    ),
    scored AS (
      SELECT p.anchor, p.anchor_label,
             c.vec_id AS negative, c.label AS negative_label,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / (p.na * c.nrm) AS cosine
      FROM probes p JOIN buck c ON c.bucket = p.pb
      WHERE c.label <> p.anchor_label AND c.vec_id <> p.anchor
    )
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           anchor, anchor_label, negative, negative_label, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, negative) AS rn
      FROM scored
    ) t WHERE rn = 1
    ORDER BY anchor
    """,
)
def sample_hard_negatives_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sample_hard_negatives_bucketed (every vector's hardest cross-
    label negative among its radius-1 LSH probe candidates) on the
    CORPUS-ADAPTIVE index — completes the bucketed-mining tier's
    conversion: with occupancy pinned at ~32, the per-anchor candidate
    pool (and with it the top-1 window's input) stays flat as the
    corpus grows. n_planes pins the index size in every row.

    Scale: map-side bucket assignment, ×(k+1) bounded probe explode,
    ONE bucket-key hash join, per-anchor top-1 window — candidate
    fan-in ~32·(k+1) per anchor, corpus-proportional overall."""
    from pyspark.sql.window import Window as W

    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    cand = buck.select(
        F.col("vec_id").alias("negative"),
        F.col("label").alias("negative_label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(
        _probes(buck, k)
        .join(cand, F.col("cb") == F.col("pb"))
        .filter(
            (F.col("negative_label") != F.col("anchor_label"))
            & (F.col("negative") != F.col("anchor"))
        ),
        keep=["anchor", "anchor_label", "negative", "negative_label"],
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cosine"), "negative")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.lit(k).cast("long").alias("n_planes"),
            "anchor", "anchor_label", "negative", "negative_label",
            "cosine",
        )
        .orderBy("anchor")
    )


@query(
    "sim_reciprocal_nn_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, embedding, {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS src, b.embedding AS ea, b.nrm AS na,
             xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
    ),
    scored AS (
      SELECT p.src, c.vec_id AS dst,
             {_DOT_SQL.format(dim=_DIM, a='p.ea', b='c.embedding')}
               / (p.na * c.nrm) AS cosine
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
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           n1.src AS a, n1.dst AS b, n1.cosine
    FROM nn n1 JOIN nn n2 ON n2.src = n1.dst AND n2.dst = n1.src
    WHERE n1.src < n1.dst
    ORDER BY a
    """,
)
def sim_reciprocal_nn_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_reciprocal_nn_bucketed (mutual bucketed NN pairs, the
    high-precision pairing rule) on the CORPUS-ADAPTIVE index — the
    NN pass's candidate pool stays ~32·(k+1) per vector at any corpus
    size; the reciprocity self-join stays |V| NN edges either way.
    n_planes pins the index size.

    Scale: one bucket-key hash join (bounded fan-in), one per-src
    window, one co-partitioned (src,dst) self-join of |V| edges."""
    from pyspark.sql.window import Window as W

    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    probes = _probes(buck, k).select(
        F.col("anchor").alias("src"), "ea", "na", "pb"
    )
    cand = buck.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("cb"),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(
        probes.join(cand, F.col("cb") == F.col("pb")).filter(
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
        .select(
            F.lit(k).cast("long").alias("n_planes"),
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            "cosine",
        )
        .orderBy("a")
    )


_RECALL_K = 10
_N_ANCHORS = 8  # constant anchor set => the audit stays linear in n


@query(
    "sim_ann_recall_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, embedding, {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    anchors AS (SELECT * FROM buck WHERE vec_id < {_N_ANCHORS}),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             bit_count(xor(a.bucket, c.bucket)) AS hamming,
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='c.embedding')}
               / (a.nrm * c.nrm) AS cosine
      FROM anchors a JOIN buck c ON c.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT anchor, cand, hamming, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, cand) AS rn
      FROM scored
    )
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           anchor,
           CAST(SUM(CASE WHEN hamming <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN hamming <= 1 AND rn <= {_RECALL_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN hamming <= 1 AND rn <= {_RECALL_K}
                                    THEN 1 ELSE 0 END)) // {_RECALL_K}
                AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY anchor ORDER BY anchor
    """,
)
def sim_ann_recall_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the CORPUS-ADAPTIVE index: for a CONSTANT set of
    8 anchor vectors, exact top-10 cosine truth vs the radius-1 probe
    candidate set (the same own-bucket + single-bit-flip neighborhood
    every bucketed-mining operator consumes) — per anchor, the
    candidate-set size and recall@10 in exact ppm. This closes the
    speed/recall loop battery13 opened: the adaptive index holds
    candidate COST flat; this query measures what that costs in
    RECALL at the gated corpus sizes. Complements the fixed index's
    single-query radius sweep (sim_ann_recall_curve).

    Scale: the anchor set is CONSTANT (8), so the exact-truth pass is
    8·n map-side scoring against broadcast anchors — linear in the
    corpus, the price any recall audit pays for ground truth. One
    8-partition rank window, |anchors| output rows. Hamming distance
    and hit counts are exact integers."""
    from pyspark.sql.window import Window as W

    k, buck = _bucketed(spark, sf_dir)
    anchors = buck.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("bucket").alias("ba"),
    )
    cand = buck.select(
        F.col("vec_id").alias("cand"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("bc"),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    scored = with_pair_cosine(
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("cand") != F.col("anchor"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("ba").bitwiseXOR(F.col("bc"))),
        ),
        keep=["anchor", "cand", "hamming"],
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cosine"), "cand")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    in_cand = F.when(F.col("hamming") <= 1, 1).otherwise(0)
    is_hit = F.when(
        (F.col("hamming") <= 1) & (F.col("rn") <= _RECALL_K), 1
    ).otherwise(0)
    return (
        ranked.groupBy("anchor")
        .agg(
            F.lit(k).cast("long").alias("n_planes"),
            F.sum(in_cand).cast("long").alias("n_candidates"),
            F.sum(is_hit).cast("long").alias("n_hits"),
        )
        .select(
            "n_planes",
            "anchor",
            "n_candidates",
            "n_hits",
            F.expr(f"1000000 * n_hits div {_RECALL_K}")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("anchor")
    )


_DEDUP_TAU = "0.38"  # near-dup threshold (synthetic corpus: random-ish
# vectors top out near cosine 0.43, so 0.38 exercises a non-degenerate
# drop set; a real near-dup corpus would sit at 0.9+)


@query(
    "dedup_embedding_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, embedding, {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    pairs AS (
      SELECT a.vec_id AS keeper, b.vec_id AS dropped
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
              / (a.nrm * b.nrm) >= {_DEDUP_TAU}
    )
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           dropped AS vec_id,
           CAST(MIN(keeper) AS BIGINT) AS kept_for
    FROM pairs GROUP BY dropped ORDER BY vec_id
    """,
)
def dedup_embedding_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup through the CORPUS-ADAPTIVE index with
    the SENIORITY rule: a vector is dropped when a lower-id vector in
    its bucket sits within cosine ≥ τ (0.38 here — the synthetic
    corpus has no true duplicates, so τ sits just under its top pair
    cosines to exercise the drop set; production uses 0.9+), keeping the most senior
    member of every near-dup pair in ONE pass (no iterative
    component-finding — the rule the canonicalize family applies when
    cluster identity isn't needed, only a stable keep/drop decision).
    Emits each dropped id with its most senior keeper; n_planes pins
    the index. Complements dedup_embedding_cosine (label-blocked
    exact pairs) with the index-pruned corpus-scale form.

    Scale: the sim_range_search_adaptive plan exactly (map-side
    bucketing, ONE bucket-key self-join with occupancy pinned at ~32)
    plus a drop-key rollup. At 100× the fixed-plane form of this
    dedup would be quadratic; this stays corpus-proportional."""
    k, buck = _bucketed(spark, sf_dir, ckpt=True)
    a = buck.select(
        "bucket",
        F.col("vec_id").alias("keeper"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = buck.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("dropped"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # vectorized pair-cosine kernel (vecmath.py, optimization r13)
    pairs = (
        with_pair_cosine(
            a.join(
                b,
                (F.col("bucket") == F.col("bucket_b"))
                & (F.col("keeper") < F.col("dropped")),
            ),
            keep=["keeper", "dropped"],
        )
        .filter(F.col("cosine") >= F.expr(_DEDUP_TAU))
        .select("keeper", "dropped")
    )
    return (
        pairs.groupBy(F.col("dropped").alias("vec_id"))
        .agg(F.min("keeper").cast("long").alias("kept_for"))
        .select(
            F.lit(k).cast("long").alias("n_planes"), "vec_id", "kept_for"
        )
        .orderBy("vec_id")
    )


@query(
    "sim_topk_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, label, embedding,
             {_abucket_sql('embedding')} AS bucket,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    q AS (SELECT embedding AS qv, nrm AS nq, bucket AS qb
          FROM buck WHERE vec_id = 0)
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           b.vec_id, b.label,
           {_DOT_SQL.format(dim=_DIM, a='b.embedding', b='q.qv')}
             / (b.nrm * q.nq) AS cosine
    FROM buck b CROSS JOIN q
    WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qb)) <= 1
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
)
def sim_topk_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN serving through the CORPUS-ADAPTIVE index: the
    sim_ann_lsh query shape (query vector broadcast, bucket-mates
    scored exactly, TakeOrdered) with the candidate set the radius-1
    probe neighborhood of the adaptive index — per-query candidate
    count stays ~32·(k+1) at ANY corpus size where the fixed index's
    own bucket grows linearly. sim_ann_recall_adaptive measures what
    this candidate set costs in recall; this is the serving path
    itself. n_planes pins the index.

    Scale: map-side bucketing + one broadcast 1-row query frame; the
    Hamming filter is a per-row integer op; TakeOrderedAndProject
    keeps 10 rows per partition."""
    k, buck = _bucketed(spark, sf_dir)
    q = buck.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("nq"),
        F.col("bucket").alias("qb"),
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        F.col("nrm") * F.col("nq")
    )
    return (
        buck.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != 0)
            & (
                F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb"))) <= 1
            )
        )
        .select(
            F.lit(k).cast("long").alias("n_planes"),
            "vec_id",
            "label",
            cosine.alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "sim_adaptive_occupancy_profile",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT {_abucket_sql('embedding')} AS bucket
      FROM embeddings CROSS JOIN np
    ),
    occ AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM buck
      GROUP BY bucket
    )
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           CAST(LENGTH(BIN(n)) AS BIGINT) AS occ_bits,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           CAST(MAX(n) AS BIGINT) AS max_occ
    FROM occ GROUP BY occ_bits ORDER BY occ_bits
    """,
)
def sim_adaptive_occupancy_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Observability for the adaptive index itself: the bucket-
    occupancy histogram in power-of-2 bins (occ_bits = bit length of
    the bucket size — the orders_open_order_aging binning trick), with
    per-bin bucket/vector counts and the max occupancy. This is the
    table an index operator reads to confirm the TARGET_OCCUPANCY
    contract holds on real data (mass concentrated in the 2^5-ish
    bins; a fat top bin = skewed vector distribution the plane family
    can't split — the signal to add probes or rotate the seed).
    Every downstream mining cost is Σ occupancy², so this table IS
    the cost model.

    Scale: map-side bucketing, one bucket-key count, one ≤~log(max)
    row rollup."""
    k, buck = _bucketed(spark, sf_dir)
    occ = buck.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        occ.groupBy(
            F.length(F.bin(F.col("n"))).cast("long").alias("occ_bits")
        )
        .agg(
            F.lit(k).cast("long").alias("n_planes"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("n_vectors"),
            F.max("n").cast("long").alias("max_occ"),
        )
        .select("n_planes", "occ_bits", "n_buckets", "n_vectors", "max_occ")
        .orderBy("occ_bits")
    )
