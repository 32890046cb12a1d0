"""Embedding similarity-search operators over ``embeddings``
(array<float> dim=64).

Driver-mandated extension surface. Every dot and norm is
``vecmath.dot``/``vecmath.norm``: the ``vec_dot`` JVM kernel, a left
fold bit-identical to DuckDB's list folds, so the DuckDB oracles are
exact, including cosine scores.

Scale design (100 TB):
- top-k vs a query vector: the query row is broadcast (crossJoin of a
  1-row frame); scoring is map-side; TakeOrderedAndProject keeps only k
  rows per partition before the final merge.
- all-pairs near-dup: label blocking bounds the quadratic step (same
  role as LSH banding in dedup).
- ANN: random-hyperplane LSH — plane coefficients are precomputed
  literals (deterministic md5-derived), bucketing is map-side, and only
  bucket-mates of the query are scored. At 1000 executors this is the
  path that avoids scoring 100 TB of vectors per query.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .vecmath import dot, double_array_lit, norm, with_pair_cosine

_DIM = 64


_DOT_SQL = """list_aggregate(list_transform(range({dim}),
    j -> CAST({a}[j+1] AS DOUBLE) * CAST({b}[j+1] AS DOUBLE)), 'sum')"""
_NORM_SQL = """sqrt(list_aggregate(list_transform(range({dim}),
    j -> CAST({a}[j+1] AS DOUBLE) * CAST({a}[j+1] AS DOUBLE)), 'sum'))"""


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {_DOT_SQL.format(dim=_DIM, a='e.embedding', b='q.qv')}
             / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='q.qv')}) AS cosine
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
           {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='b.embedding')}) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='b.embedding')}) >= 0.35
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
    sim_range_search_adaptive, similarity10 — ≤1.5× at 10×), whose
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


# --- random-hyperplane LSH ANN --------------------------------------------

_N_PLANES = 6


def _plane_coeff(p: int, j: int) -> float:
    """Deterministic pseudo-random plane coefficient in [-1, 1] — md5-
    derived so the Python-embedded literals are identical in the Spark
    plan and the DuckDB oracle."""
    h = int(hashlib.md5(f"{p}_{j}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _plane_coeff_ns(ns: str, p: int, j: int) -> float:
    """Namespaced variant for additional independent LSH tables."""
    h = int(hashlib.md5(f"{ns}_{p}_{j}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


_PLANES = [[_plane_coeff(p, j) for j in range(_DIM)] for p in range(_N_PLANES)]


def _bucket_sql(vec: str) -> str:
    terms = []
    for p in range(_N_PLANES):
        plane_lit = "[" + ",".join(repr(c) for c in _PLANES[p]) + "]"
        dot_sql = _DOT_SQL.format(dim=_DIM, a=vec, b=plane_lit)
        terms.append(f"(CASE WHEN {dot_sql} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _bucket_expr(vec):
    return _bucket_expr_for(_PLANES, vec)


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qb FROM buck WHERE vec_id = 0)
    SELECT b.vec_id, b.label,
           {_DOT_SQL.format(dim=_DIM, a='b.embedding', b='q.qv')}
             / ({_NORM_SQL.format(dim=_DIM, a='b.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='q.qv')}) AS cosine
    FROM buck b CROSS JOIN q
    WHERE b.bucket = q.qb AND b.vec_id <> 0
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: random-hyperplane LSH (6 planes → 64 buckets)
    prunes to the query's bucket before exact cosine ranking. The
    scale path: per-vector bucketing is map-side and the candidate set
    shrinks ~2^planes-fold; recall tunes with plane count / multiprobe."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id", "label", "embedding", _bucket_expr(F.col("embedding")).alias("bucket")
    )
    q = buck.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
        norm(F.col("embedding")).alias("nq"),
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        buck.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


_PROBE_RADIUS = 2  # Hamming ball probed around the query bucket


def ann_multiprobe(
    spark: SparkSession, sf_dir: str, radius: int = _PROBE_RADIUS
) -> DataFrame:
    """Multiprobe LSH ANN: score every vector whose bucket lies within
    Hamming ``radius`` plane-bit flips of the query's bucket —
    ``bit_count(bucket XOR qb) <= radius`` is one map-side expression
    against the broadcast 1-row query, no bucket enumeration.

    Multiprobe is THE recall knob for hyperplane LSH without
    re-bucketing: this corpus's true top-10 sit at cosine ≈ 0.27–0.33
    (≈71° — each plane agrees with only p ≈ 0.6), so they land at
    Hamming 1–4 from the query bucket and measured recall@10 climbs
    0.0 → 0.2 → 0.7 → 0.9 for radius 0..3 (tests/test_recall.py) while
    the scanned fraction is Σ C(6,i)/64 ≈ 2%, 11%, 34%, 66%. Production
    corpora with tighter neighbors (cosine ≥ 0.7) get high recall at
    radius ≤ 1; the orthogonal lever is multiple independent plane
    tables (union of per-table probes)."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        "label",
        "embedding",
        _bucket_expr(F.col("embedding")).alias("bucket"),
    )
    q = buck.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
        norm(F.col("embedding")).alias("nq"),
    )
    probe = (
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb"))) <= radius
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        buck.crossJoin(F.broadcast(q))
        .filter(probe & (F.col("vec_id") != 0))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "sim_ann_multiprobe",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qb FROM buck WHERE vec_id = 0)
    SELECT b.vec_id, b.label,
           {_DOT_SQL.format(dim=_DIM, a='b.embedding', b='q.qv')}
             / ({_NORM_SQL.format(dim=_DIM, a='b.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='q.qv')}) AS cosine
    FROM buck b CROSS JOIN q
    WHERE bit_count(xor(b.bucket, q.qb)) <= {_PROBE_RADIUS}
      AND b.vec_id <> 0
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-{_PROBE_RADIUS} multiprobe ANN (see ``ann_multiprobe``)."""
    return ann_multiprobe(spark, sf_dir, _PROBE_RADIUS)


# --- IVF-style probe search ------------------------------------------------

_IVF_SCALE = 1_000_000_000_000  # 1e12: (c-q)^2 distances are ~1e-4


@query(
    "sim_ivf_probe",
    oracle=f"""
    WITH cent AS (
      SELECT label, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0)
               / COUNT(*) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
      GROUP BY label, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
      WHERE vec_id = 0
    ),
    dist AS (
      SELECT cent.label,
             SUM(CAST(floor((cent.c - q.qv) * (cent.c - q.qv)
                 * {_IVF_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.label
    ),
    best AS (SELECT label FROM dist ORDER BY d2, label LIMIT 1)
    SELECT e.vec_id, e.label,
           {_DOT_SQL.format(dim=_DIM, a='e.embedding', b='qq.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='qq.embedding')}) AS cosine
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    WHERE e.label = (SELECT label FROM best) AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with nprobe=1: coarse cells are the label partitions,
    the query probes its nearest cell centroid, and only that cell is
    scored exactly. Distances to centroids sum as floor-scaled integers
    so the argmin cell is bit-deterministic cross-engine.

    At 100 TB the inverted-file layout is a bucket/partition column:
    probing reads one partition per (query, probe) instead of the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = (
        dims.groupBy("label", "j")
        .agg(
            (
                (
                    F.sum(F.floor(F.col("val") * 1e9)).cast("double") / 1e9
                )
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("val").alias("qv")
    )
    dist = (
        cent.join(F.broadcast(qdims), cent.j == qdims.qj)
        .groupBy("label")
        .agg(
            F.sum(
                F.floor((F.col("c") - F.col("qv")) * (F.col("c") - F.col("qv")) * _IVF_SCALE)
            ).alias("d2")
        )
    )
    best = dist.orderBy("d2", "label").limit(1).select(F.col("label").alias("best_label"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        emb.join(F.broadcast(best), emb.label == F.col("best_label"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='b.embedding')}) AS cosine
    FROM buck a JOIN buck b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='b.embedding')}) >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-bucketed: candidate
    pairs share a hyperplane bucket (no label blocking — semantic dups
    cross labels), then exact cosine ≥ 0.3 verifies. The embedding-space
    sibling of MinHash dedup: bucket fan-in bounds the pair space at
    100 TB; recall tunes with plane count / multiprobe."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id", "embedding", _bucket_expr(F.col("embedding")).alias("bucket")
    )
    a = buck.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        "bucket",
        norm(F.col("embedding")).alias("na"),
    )
    b = buck.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("bucket_b"),
        norm(F.col("embedding")).alias("nb"),
    )
    # norms hoisted out of the pair expression (O(N·dim), not O(pairs·dim))
    cosine = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (a.bucket == b.bucket_b) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
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


@query(
    "sim_ivf_multiprobe",
    oracle=f"""
    WITH cent AS (
      SELECT label, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0)
               / COUNT(*) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
      GROUP BY label, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
      WHERE vec_id = 0
    ),
    dist AS (
      SELECT cent.label,
             SUM(CAST(floor((cent.c - q.qv) * (cent.c - q.qv)
                 * {_IVF_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.label
    ),
    best2 AS (SELECT label FROM dist ORDER BY d2, label LIMIT 2)
    SELECT e.vec_id, e.label,
           {_DOT_SQL.format(dim=_DIM, a='e.embedding', b='qq.embedding')}
             / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='qq.embedding')}) AS cosine
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    WHERE e.label IN (SELECT label FROM best2) AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: the recall knob of the inverted-file family —
    probe the TWO nearest coarse cells instead of one, scoring 2/k of
    the corpus. Same deterministic scaled-integer centroid distances as
    sim_ivf_probe; tests/test_recall.py-style comparison against the
    exact baseline shows where the extra probe pays. At 100 TB nprobe
    is the per-query cost dial: cells-read scales linearly with it
    while recall saturates."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("label", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * 1e9)).cast("double") / 1e9)
            / F.count(F.lit(1))
        ).alias("c")
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("val").alias("qv")
    )
    dist = (
        cent.join(F.broadcast(qdims), cent.j == qdims.qj)
        .groupBy("label")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("qv"))
                    * (F.col("c") - F.col("qv"))
                    * _IVF_SCALE
                )
            ).alias("d2")
        )
    )
    best2 = (
        dist.orderBy("d2", "label")
        .limit(2)
        .select(F.col("label").alias("best_label"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        emb.join(F.broadcast(best2), emb.label == F.col("best_label"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# --- multi-table LSH --------------------------------------------------------

# Second independent hyperplane table (seed-namespaced coefficients).
# Table 0 is _PLANES itself, so the multi-table candidate set is a
# strict superset of sim_ann_multiprobe's and recall can only rise.
_PLANES_T1 = [
    [_plane_coeff_ns("t1", p, j) for j in range(_DIM)]
    for p in range(_N_PLANES)
]


def _bucket_sql_for(planes, vec: str) -> str:
    terms = []
    for p in range(_N_PLANES):
        plane_lit = "[" + ",".join(repr(c) for c in planes[p]) + "]"
        dot_sql = _DOT_SQL.format(dim=_DIM, a=vec, b=plane_lit)
        terms.append(f"(CASE WHEN {dot_sql} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _bucket_expr_for(planes, vec):
    """The bucket id of ``vec``: bit p is set when it lies on the
    positive side of ``planes[p]``."""
    out = F.lit(0)
    for p, plane in enumerate(planes):
        side = dot(vec, double_array_lit(plane))
        out = out + F.when(side > 0, F.lit(1 << p)).otherwise(0)
    return out


@query(
    "sim_ann_multitable",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, label, embedding,
             {_bucket_sql_for(_PLANES, 'embedding')} AS b0,
             {_bucket_sql_for(_PLANES_T1, 'embedding')} AS b1
      FROM embeddings
    ),
    q AS (
      SELECT embedding AS qv, b0 AS qb0, b1 AS qb1
      FROM buck WHERE vec_id = 0
    )
    SELECT b.vec_id, b.label,
           {_DOT_SQL.format(dim=_DIM, a='b.embedding', b='q.qv')}
             / ({_NORM_SQL.format(dim=_DIM, a='b.embedding')}
                * {_NORM_SQL.format(dim=_DIM, a='q.qv')}) AS cosine
    FROM buck b CROSS JOIN q
    WHERE (bit_count(xor(b.b0, q.qb0)) <= {_PROBE_RADIUS}
           OR bit_count(xor(b.b1, q.qb1)) <= {_PROBE_RADIUS})
      AND b.vec_id <> 0
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
)
def sim_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN: TWO independent 6-plane tables, each probed
    at Hamming radius 2, candidates = the UNION of per-table probes —
    the orthogonal recall lever to multiprobe radius (multiprobe widens
    ONE partition of the sphere; an independent table REPARTITIONS it,
    rescuing neighbors that straddle table-0 plane boundaries). Table 0
    reuses sim_ann_multiprobe's planes, so the candidate set is a strict
    superset and measured recall can only rise (tests/test_recall.py
    pins both facts).

    Scale: still one map-side pass — both buckets are per-row
    expressions, the query row broadcasts both its bucket ids, and the
    OR-of-two-popcounts filter runs before any shuffle; candidate
    fan-in doubles at most. At 100 TB, tables trade storage/scan
    (T× bucket columns) for recall without re-bucketing the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        "label",
        "embedding",
        _bucket_expr_for(_PLANES, F.col("embedding")).alias("b0"),
        _bucket_expr_for(_PLANES_T1, F.col("embedding")).alias("b1"),
    )
    q = buck.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
        norm(F.col("embedding")).alias("nq"),
    )
    probe = (
        F.bit_count(F.col("b0").bitwiseXOR(F.col("qb0"))) <= _PROBE_RADIUS
    ) | (
        F.bit_count(F.col("b1").bitwiseXOR(F.col("qb1"))) <= _PROBE_RADIUS
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    return (
        buck.crossJoin(F.broadcast(q))
        .filter(probe & (F.col("vec_id") != 0))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
