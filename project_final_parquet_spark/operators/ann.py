"""Approximate nearest-neighbour indexes over ``embeddings``: random-
hyperplane LSH and IVF, each fixed, bucketed, corpus-adaptive and
sharded, with the occupancy and recall audits that tune them.

LSH. Plane coefficients are md5-derived literals (``_plane_coeff``), so
Spark and the DuckDB oracle bucket identically; bucketing is map-side
and only bucket-mates (or a multiprobe Hamming ball) are scored. The
bucketed mining queries route every vector through the buckets, so the
candidate space is bounded by bucket fan-in instead of |corpus|².

Adaptive LSH keeps bucket occupancy constant as the corpus grows:

    planes(n) = max(6, bit_length((n - 1) // TARGET_OCCUPANCY))

with TARGET_OCCUPANCY 32. Planes 0..5 are the fixed index, so small
corpora are bit-identical to it. The formula is integer-only
(bit_length == LENGTH(BIN(x)) in DuckDB), so both engines derive the
same plane set: Spark from ``tables.row_count`` (footer metadata, no
Spark job), the oracle from COUNT(*). 24 literal planes cap one table at
2^24·32 ≈ 537M vectors.

IVF. The fixed index quantizes on the label partitions. The adaptive
index takes its cells from the first m plane bits,

    cell_bits(n) = min(12, max(2, bit_length(n - 1) // 2))

so the cell count is ≈ √n and probe cost (C centroid distances) and scan
cost (nprobe·n/C scores) both grow as √n. The sharded form splits the
corpus into ``_NSHARDS`` shards, each with an IVF sized to its own row
count, probes every shard and merges one exact global top-k: O(√(S·n))
per query past the 12-bit cell cap. Centroids are floor-scaled integer
means and distances floor-scaled integers, so the probed cell set is
bit-identical across engines.

Audits: IVF cell balance, the LSH multiprobe recall curve, and recall
and occupancy profiles of each adaptive and sharded index against the
exact top-k.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load, row_count

from .similarity import DIM, DOT_SQL, NORM_SQL
from .vecmath import dot, double_array_lit, norm, with_pair_cosine


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


_PLANES = [[_plane_coeff(p, j) for j in range(DIM)] for p in range(_N_PLANES)]


def _bucket_sql(vec: str) -> str:
    terms = []
    for p in range(_N_PLANES):
        plane_lit = "[" + ",".join(repr(c) for c in _PLANES[p]) + "]"
        dot_sql = DOT_SQL.format(dim=DIM, a=vec, b=plane_lit)
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
           {DOT_SQL.format(dim=DIM, a='b.embedding', b='q.qv')}
             / ({NORM_SQL.format(dim=DIM, a='b.embedding')}
                * {NORM_SQL.format(dim=DIM, a='q.qv')}) AS cosine
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
           {DOT_SQL.format(dim=DIM, a='b.embedding', b='q.qv')}
             / ({NORM_SQL.format(dim=DIM, a='b.embedding')}
                * {NORM_SQL.format(dim=DIM, a='q.qv')}) AS cosine
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

IVF_SCALE = 1_000_000_000_000  # 1e12: (c-q)^2 distances are ~1e-4


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
                 * {IVF_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.label
    ),
    best AS (SELECT label FROM dist ORDER BY d2, label LIMIT 1)
    SELECT e.vec_id, e.label,
           {DOT_SQL.format(dim=DIM, a='e.embedding', b='qq.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='e.embedding')}
                * {NORM_SQL.format(dim=DIM, a='qq.embedding')}) AS cosine
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
                F.floor((F.col("c") - F.col("qv")) * (F.col("c") - F.col("qv")) * IVF_SCALE)
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
           {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                * {NORM_SQL.format(dim=DIM, a='b.embedding')}) AS cosine
    FROM buck a JOIN buck b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
                * {NORM_SQL.format(dim=DIM, a='b.embedding')}) >= 0.3
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
                 * {IVF_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.label
    ),
    best2 AS (SELECT label FROM dist ORDER BY d2, label LIMIT 2)
    SELECT e.vec_id, e.label,
           {DOT_SQL.format(dim=DIM, a='e.embedding', b='qq.embedding')}
             / ({NORM_SQL.format(dim=DIM, a='e.embedding')}
                * {NORM_SQL.format(dim=DIM, a='qq.embedding')}) AS cosine
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
                    * IVF_SCALE
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
    [_plane_coeff_ns("t1", p, j) for j in range(DIM)]
    for p in range(_N_PLANES)
]


def _bucket_sql_for(planes, vec: str) -> str:
    terms = []
    for p in range(_N_PLANES):
        plane_lit = "[" + ",".join(repr(c) for c in planes[p]) + "]"
        dot_sql = DOT_SQL.format(dim=DIM, a=vec, b=plane_lit)
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
           {DOT_SQL.format(dim=DIM, a='b.embedding', b='q.qv')}
             / ({NORM_SQL.format(dim=DIM, a='b.embedding')}
                * {NORM_SQL.format(dim=DIM, a='q.qv')}) AS cosine
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


NPROBE = 2

_RECALL_K = 10
_RADII = [0, 1, 2, 3]


@query(
    "sim_ivf_balance_audit",
    oracle="""
    WITH cells AS (
      SELECT CAST(label AS INT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM embeddings GROUP BY label
    ),
    tot AS (
      SELECT CAST(SUM(n_vectors) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM cells
    )
    SELECT c.cell, c.n_vectors,
           CAST((1000000 * c.n_vectors) // t.total AS BIGINT) AS share_ppm,
           CAST((1000 * c.n_vectors * t.n_cells) // t.total AS BIGINT)
             AS vs_mean_x1000,
           t.n_cells, t.total
    FROM cells c CROSS JOIN tot t
    ORDER BY c.cell
    """,
)
def sim_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-balance audit: per inverted-file cell (the label
    partitioning sim_ivf_probe / sim_ivf_pq probe), the vector count,
    corpus share (ppm), and the size-vs-mean ratio (×1000) — imbalance
    is THE failure mode of IVF serving (a cell at 10× the mean makes
    every probe touching it pay 10× the scan, and at rest it is the
    partition that skews the layout). This is the audit that decides
    when to re-train the coarse quantizer or split hot cells.

    Scale: ONE map-side-combined count per cell (|cells| rows out),
    one broadcast singleton for the totals — the corpus is touched
    once, nothing else ever exceeds |cells| rows. Pure integer ppm /
    ratio math, floor division on nonnegative values."""
    emb = load(spark, sf_dir, "embeddings")
    cells = emb.groupBy(F.col("label").cast("int").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = cells.agg(
        F.sum("n_vectors").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            F.expr("1000000 * n_vectors div total")
            .cast("long")
            .alias("share_ppm"),
            F.expr("1000 * n_vectors * n_cells div total")
            .cast("long")
            .alias("vs_mean_x1000"),
            "n_cells",
            "total",
        )
        .orderBy("cell")
    )


@query(
    "sim_ann_recall_curve",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT embedding AS qv, bucket AS qb,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nq
      FROM buck WHERE vec_id = 0
    ),
    scored AS (
      SELECT b.vec_id, b.bucket, q.qb,
             {DOT_SQL.format(dim=DIM, a='b.embedding', b='q.qv')}
               / ({NORM_SQL.format(dim=DIM, a='b.embedding')} * q.nq)
               AS cosine
      FROM buck b CROSS JOIN q
      WHERE b.vec_id <> 0
    ),
    truth AS (
      SELECT vec_id FROM scored
      ORDER BY cosine DESC, vec_id LIMIT {_RECALL_K}
    ),
    radii AS (
      SELECT unnest([{", ".join(str(r) for r in _RADII)}]) AS radius
    ),
    cand AS (
      SELECT r.radius, s.vec_id
      FROM scored s JOIN radii r
        ON bit_count(xor(s.bucket, s.qb)) <= r.radius
    )
    SELECT CAST(c.radius AS BIGINT) AS radius,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN t.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // {_RECALL_K}
                AS BIGINT) AS recall_ppm
    FROM cand c LEFT JOIN truth t ON c.vec_id = t.vec_id
    GROUP BY c.radius
    ORDER BY radius
    """,
)
def sim_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH multiprobe recall curve, measured: for Hamming probe
    radius 0..3 around the query's hyperplane bucket (the exact
    sim_ann_multiprobe candidate rule), the candidate-set size and
    recall@{_RECALL_K} against the exact cosine top-{_RECALL_K} — the
    radius-vs-cost trade quantified as a gated query (this corpus
    climbs ≈0 → 0.2 → 0.7 → 0.9 while scanning ≈2% → 11% → 34% → 66%,
    tests/test_recall.py's finding promoted to an oracle-checked
    artifact). An ANN deployment picks its operating radius off exactly
    this table.

    Scale: bucketing + cosine are ONE map-side pass against the
    broadcast 1-row query (norms hoisted); the exact truth set is one
    TakeOrdered({_RECALL_K}); candidates per radius are a broadcast
    4-row radius join on a map-side bit_count predicate, and the hit
    probe is a broadcast join against the {_RECALL_K}-row truth set.
    Recall is exact-integer ppm."""
    emb = load(spark, sf_dir, "embeddings")
    buck = emb.select(
        "vec_id",
        "embedding",
        _bucket_expr(F.col("embedding")).alias("bucket"),
    )
    q = buck.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
        norm(F.col("embedding")).alias("nq"),
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    scored = (
        buck.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "bucket", "qb", cosine.alias("cosine"))
    )
    truth = (
        scored.orderBy(F.desc("cosine"), "vec_id")
        .limit(_RECALL_K)
        .select(F.col("vec_id").alias("t_vec"))
    )
    radii = spark.range(1).select(
        F.explode(F.array(*[F.lit(r) for r in _RADII])).alias("radius")
    )
    cand = scored.join(
        F.broadcast(radii),
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb")))
        <= F.col("radius"),
    ).select("radius", "vec_id")
    hit = F.when(F.col("t_vec").isNotNull(), 1).otherwise(0)
    return (
        cand.join(
            F.broadcast(truth), cand["vec_id"] == F.col("t_vec"), "left"
        )
        .groupBy(F.col("radius").cast("long").alias("radius"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(hit).cast("long").alias("n_hits"),
            F.expr(
                f"CAST(1000000 * sum(CASE WHEN t_vec IS NOT NULL THEN 1 "
                f"ELSE 0 END) div {_RECALL_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("radius")
    )


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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
               / ({NORM_SQL.format(dim=DIM, a='p.ea')}
                  * {NORM_SQL.format(dim=DIM, a='c.embedding')}) AS cosine
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
    sample_hard_negatives_adaptive (its plane count
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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
               / ({NORM_SQL.format(dim=DIM, a='p.ea')}
                  * {NORM_SQL.format(dim=DIM, a='c.embedding')}) AS cosine
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
    corpus scale is sim_reciprocal_nn_adaptive (≤1.5×
    at 10×). Run this form only on eval-sized slices (the
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


_RANGE_TAU = "0.35"  # literal shared by both engines


@query(
    "sim_range_search_lsh",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings
    ),
    cand AS (
      SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
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
    sim_range_search_adaptive (occupancy pinned at
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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

    Scale: the bucketed-mining shape exactly — map-side bucket assignment,
    a ×7 bounded probe explode, ONE bucket-key hash join, and a
    per-anchor conditional aggregate (no window even needed). Candidate
    fan-in is bucket occupancy, never |corpus|² — but occupancy GROWS
    with the corpus at the fixed plane count (battery12/13: 7.7-10.1x
    at 10x data); the corpus-scale form is sim_pair_margin_adaptive."""
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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

    Scale: identical to the bucketed-mining shape —
    map-side bucket assignment, ×7 probe explode, ONE bucket-key hash
    join, one per-anchor top-1 window; output is |labels| rows. At the
    fixed plane count occupancy grows with the corpus (battery12/13:
    11.8-16.3x at 10x data); the corpus-scale form is
    ml_knn_purity_adaptive."""
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


_TARGET_OCC = 32  # expected vectors per bucket the index aims for
_MAX_PLANES = 24  # oracle literal width; 2^24 buckets ≈ 537M vectors

_PLANES24 = [
    [_plane_coeff(p, j) for j in range(DIM)] for p in range(_MAX_PLANES)
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
        dot_sql = DOT_SQL.format(dim=DIM, a=vec, b=lit)
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
    k = adaptive_planes(row_count(sf_dir, "embeddings"))
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    cand AS (
      SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS anchor, b.label AS anchor_label,
             b.embedding AS ea, b.nrm AS na, xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
    ),
    scored AS (
      SELECT p.anchor, p.anchor_label, c.vec_id AS nn, c.label AS nn_label,
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
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
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    probes AS (
      SELECT b.vec_id AS src, b.embedding AS ea, b.nrm AS na,
             xor(b.bucket, m.mask) AS pb
      FROM buck b CROSS JOIN {_MASKS_SQL} m
    ),
    scored AS (
      SELECT p.src, c.vec_id AS dst,
             {DOT_SQL.format(dim=DIM, a='p.ea', b='c.embedding')}
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


_N_ANCHORS = 8  # constant anchor set => the audit stays linear in n


@query(
    "sim_ann_recall_adaptive",
    oracle=f"""
    WITH np AS ({_NP_SQL}),
    buck AS (
      SELECT vec_id, embedding, {_abucket_sql('embedding')} AS bucket,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    anchors AS (SELECT * FROM buck WHERE vec_id < {_N_ANCHORS}),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             bit_count(xor(a.bucket, c.bucket)) AS hamming,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='c.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    pairs AS (
      SELECT a.vec_id AS keeper, b.vec_id AS dropped
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {DOT_SQL.format(dim=DIM, a='a.embedding', b='b.embedding')}
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
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN np
    ),
    q AS (SELECT embedding AS qv, nrm AS nq, bucket AS qb
          FROM buck WHERE vec_id = 0)
    SELECT (SELECT CAST(k AS BIGINT) FROM np) AS n_planes,
           b.vec_id, b.label,
           {DOT_SQL.format(dim=DIM, a='b.embedding', b='q.qv')}
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


_CELL_CAP = 12  # 4096 cells ≈ 16M vectors at the √n balance point
_CENT_SCALE = 1_000_000_000  # 1e9: per-dim scaled-int centroid mean
_DIST_SCALE = 1_000_000_000_000  # 1e12: (c-q)^2 sums (sim_ivf_probe)


def adaptive_cell_bits(n: int) -> int:
    """Cell-count exponent m with 2^m ≈ √n (see module note), floored
    at 2 and capped at 12. Integer-only: agrees with the oracle's
    LEAST(12, GREATEST(2, LENGTH(BIN(n - 1)) // 2)) at every n ≥ 1."""
    return min(_CELL_CAP, max(2, (n - 1).bit_length() // 2))


# 1-row CTE ``nc`` (column ``m``): the adaptive cell-bit count from the
# corpus count — the _NP_SQL pattern.
_NC_SQL = (
    f"SELECT LEAST({_CELL_CAP}, GREATEST(2, "
    "LENGTH(BIN(COUNT(*) - 1)) // 2)) AS m "
    "FROM embeddings"
)


def _acell_sql(vec: str) -> str:
    """Adaptive cell id in SQL: the first _CELL_CAP plane bits as
    literals, bit p contributing only when p < nc.m."""
    terms = []
    for p in range(_CELL_CAP):
        lit = "[" + ",".join(repr(c) for c in _PLANES24[p]) + "]"
        dot_sql = DOT_SQL.format(dim=DIM, a=vec, b=lit)
        terms.append(
            f"(CASE WHEN {p} < nc.m AND {dot_sql} > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _acell_expr(vec, m: int):
    """Adaptive cell id in Spark: exactly m plane bits (m is a plain
    Python int from the corpus count — only the needed dots are in the
    plan). Identical value to the SQL form."""
    return _bucket_expr_for(_PLANES24[:m], vec)


# Shared oracle CTEs: celled corpus, per-cell scaled-int centroids, the
# query vector's floor-scaled integer distance to every centroid, and
# the NPROBE nearest cells under a total (d2, cell) order.
_IVF_CTES = f"""
    WITH nc AS ({_NC_SQL}),
    celled AS (
      SELECT vec_id, label, embedding, {_acell_sql('embedding')} AS cell,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      GROUP BY cell, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      WHERE vec_id = 0
    ),
    dist AS (
      SELECT cent.cell,
             SUM(CAST(floor((cent.c - q.qv) * (cent.c - q.qv)
                 * {_DIST_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.cell
    ),
    best AS (SELECT cell FROM dist ORDER BY d2, cell LIMIT {NPROBE})
"""


def _celled(spark: SparkSession, sf_dir: str):
    """Shared staging: corpus count -> cell bits -> celled frame (lazy;
    the footer-metadata count is the one driver-side step)."""
    emb = load(spark, sf_dir, "embeddings")
    m = adaptive_cell_bits(row_count(sf_dir, "embeddings"))
    celled = emb.select(
        "vec_id",
        "label",
        "embedding",
        _acell_expr(F.col("embedding"), m).alias("cell"),
        norm(F.col("embedding")).alias("nrm"),
    )
    return m, celled


def _best_cells(celled):
    """The query vector's NPROBE nearest cell centroids (tiny frames:
    C·dim centroid rows -> C distance rows -> NPROBE cells)."""
    dims = celled.select(
        "vec_id", "cell", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("cell", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * _CENT_SCALE)).cast("double")
             / _CENT_SCALE)
            / F.count(F.lit(1))
        ).alias("c")
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("val").alias("qv")
    )
    dist = (
        cent.join(F.broadcast(qdims), cent.j == F.col("qj"))
        .groupBy("cell")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("qv"))
                    * (F.col("c") - F.col("qv"))
                    * _DIST_SCALE
                )
            ).alias("d2")
        )
    )
    return (
        dist.orderBy("d2", "cell")
        .limit(NPROBE)
        .select(F.col("cell").alias("best_cell"))
    )


@query(
    "sim_ivf_adaptive",
    oracle=f"""
    {_IVF_CTES}
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           e.vec_id, e.label,
           {DOT_SQL.format(dim=DIM, a='e.embedding', b='qq.embedding')}
             / (e.nrm * {NORM_SQL.format(dim=DIM, a='qq.embedding')})
             AS cosine
    FROM celled e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    WHERE e.cell IN (SELECT cell FROM best) AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN serving through the CORPUS-ADAPTIVE IVF index with
    nprobe=2: the sim_ivf_multiprobe query shape with the coarse cells
    the adaptive hyperplane quantizer's 2^m ≈ √n partitions instead of
    the fixed label partitions — per-query cost (centroid probe + cell
    scan) grows as √n where the fixed-cell form's scan grows linearly.
    cell_bits is emitted so every gated row pins which index answered.

    Scale: cell assignment is map-side (m dots/row); the centroid table
    is ONE posexplode rollup (C·dim rows); the probe is a broadcast
    join against dim query rows; the final scan reads only the ~2·n/C
    rows of the probed cells (at 100 TB the cell is a partition column
    — partition pruning makes that literal) and TakeOrderedAndProject
    keeps 10 rows per partition."""
    m, celled = _celled(spark, sf_dir)
    best = _best_cells(celled)
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        F.col("nrm") * F.col("nq")
    )
    return (
        celled.join(F.broadcast(best), F.col("cell") == F.col("best_cell"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.lit(m).cast("long").alias("cell_bits"),
            "vec_id",
            "label",
            cosine.alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "sim_ivf_adaptive_occupancy",
    oracle=f"""
    WITH nc AS ({_NC_SQL}),
    celled AS (
      SELECT {_acell_sql('embedding')} AS cell
      FROM embeddings CROSS JOIN nc
    ),
    occ AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM celled
      GROUP BY cell
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           CAST(LENGTH(BIN(n)) AS BIGINT) AS occ_bits,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           CAST(MAX(n) AS BIGINT) AS max_occ
    FROM occ GROUP BY occ_bits ORDER BY occ_bits
    """,
)
def sim_ivf_adaptive_occupancy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Observability for the adaptive IVF index: cell-occupancy
    histogram in power-of-2 bins (the sim_adaptive_occupancy_profile
    shape, over cells instead of LSH buckets). The contract it audits:
    occupancy concentrated near n/C ≈ √n — a fat top bin means the
    hyperplane family can't split the vector distribution (the signal
    to add probes or switch to a trained quantizer), and per-query
    scan cost is nprobe·occupancy, so this table IS the serving-cost
    model.

    Scale: map-side cell assignment, one cell-key count, one ≤~log(max)
    row rollup."""
    m, celled = _celled(spark, sf_dir)
    occ = celled.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        occ.groupBy(
            F.length(F.bin(F.col("n"))).cast("long").alias("occ_bits")
        )
        .agg(
            F.lit(m).cast("long").alias("cell_bits"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_vectors"),
            F.max("n").cast("long").alias("max_occ"),
        )
        .select("cell_bits", "occ_bits", "n_cells", "n_vectors", "max_occ")
        .orderBy("occ_bits")
    )


@query(
    "sim_ivf_adaptive_recall",
    oracle=f"""
    WITH nc AS ({_NC_SQL}),
    celled AS (
      SELECT vec_id, embedding, {_acell_sql('embedding')} AS cell,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      GROUP BY cell, j
    ),
    anchors AS (SELECT * FROM celled WHERE vec_id < {_N_ANCHORS}),
    adist AS (
      SELECT a.vec_id AS anchor, cent.cell,
             SUM(CAST(floor(
               (cent.c - CAST(a.embedding[cent.j+1] AS DOUBLE))
               * (cent.c - CAST(a.embedding[cent.j+1] AS DOUBLE))
               * {_DIST_SCALE}.0) AS BIGINT)) AS d2
      FROM anchors a CROSS JOIN cent
      GROUP BY a.vec_id, cent.cell
    ),
    probed AS (
      SELECT anchor, cell FROM (
        SELECT anchor, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY anchor ORDER BY d2, cell) AS rn
        FROM adist
      ) WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             c.cell IN (SELECT cell FROM probed p
                        WHERE p.anchor = a.vec_id) AS in_probe,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='c.embedding')}
               / (a.nrm * c.nrm) AS cosine
      FROM anchors a JOIN celled c ON c.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT anchor, cand, in_probe, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, cand) AS rn
      FROM scored
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           anchor,
           CAST(SUM(CASE WHEN in_probe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN in_probe AND rn <= {_RECALL_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN in_probe AND rn <= {_RECALL_K}
                                    THEN 1 ELSE 0 END)) // {_RECALL_K}
                AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY anchor ORDER BY anchor
    """,
)
def sim_ivf_adaptive_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the adaptive IVF index: for a CONSTANT set of 8
    anchors, exact top-10 cosine truth vs the nprobe=2 candidate set
    (anchor probes its 2 nearest cell centroids; candidates are those
    cells' members) — per anchor, candidate-set size and recall@10 in
    exact ppm. Closes the speed/recall loop for the IVF tier the way
    sim_ann_recall_adaptive closes it for the LSH tier: the occupancy
    profile prices the index, this query says what that price buys.

    Scale: the anchor set is CONSTANT (8), so exact truth is 8·n
    map-side scoring against broadcast anchors (the price of ground
    truth); the probe side is 8·C centroid distances (both anchors and
    centroids are tiny broadcast frames). One 8-partition rank window,
    |anchors| output rows. Integer ppm output."""
    from pyspark.sql.window import Window as W

    m, celled = _celled(spark, sf_dir)
    dims = celled.select(
        "vec_id", "cell", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("cell", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * _CENT_SCALE)).cast("double")
             / _CENT_SCALE)
            / F.count(F.lit(1))
        ).alias("c")
    )
    adims = dims.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("j").alias("aj"),
        F.col("val").alias("av"),
    )
    adist = (
        cent.join(F.broadcast(adims), cent.j == F.col("aj"))
        .groupBy("anchor", "cell")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("av"))
                    * (F.col("c") - F.col("av"))
                    * _DIST_SCALE
                )
            ).alias("d2")
        )
    )
    wp = W.partitionBy("anchor").orderBy("d2", "cell")
    probed = (
        adist.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select("anchor", F.col("cell").alias("pcell"))
    )
    anchors = celled.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    # Probe-set membership as a COLUMN via a broadcast left join on
    # (anchor, cell), not a filter — misses must still count in truth.
    probe_flag = probed.select(
        F.col("anchor").alias("p_anchor"),
        F.col("pcell").alias("p_cell"),
        F.lit(1).alias("probe_hit"),
    )
    scored = (
        celled.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor"))
        .join(
            F.broadcast(probe_flag),
            (F.col("anchor") == F.col("p_anchor"))
            & (F.col("cell") == F.col("p_cell")),
            "left",
        )
        .select(
            "anchor",
            F.col("vec_id").alias("cand"),
            F.coalesce(F.col("probe_hit"), F.lit(0)).alias("in_probe"),
            (
                dot(F.col("ea"), F.col("embedding"))
                / (F.col("na") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cosine"), "cand")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    in_cand = F.when(F.col("in_probe") == 1, 1).otherwise(0)
    is_hit = F.when(
        (F.col("in_probe") == 1) & (F.col("rn") <= _RECALL_K), 1
    ).otherwise(0)
    return (
        ranked.groupBy("anchor")
        .agg(
            F.lit(m).cast("long").alias("cell_bits"),
            F.sum(in_cand).cast("long").alias("n_candidates"),
            F.sum(is_hit).cast("long").alias("n_hits"),
        )
        .select(
            "cell_bits",
            "anchor",
            "n_candidates",
            "n_hits",
            F.expr(f"1000000 * n_hits div {_RECALL_K}")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("anchor")
    )


_NSHARDS = 4  # literal shard count; cluster form: ceil(n / 16M)

# 1-row CTE ``nc`` (column ``m``): cell bits from the PER-SHARD count —
# each shard is sized to its own √(n/S) balance point.
_SNC_SQL = (
    f"SELECT LEAST({_CELL_CAP}, GREATEST(2, "
    f"LENGTH(BIN(((COUNT(*) + {_NSHARDS - 1}) // {_NSHARDS}) - 1)) // 2))"
    " AS m FROM embeddings"
)


@query(
    "sim_ivf_sharded",
    oracle=f"""
    WITH nc AS ({_SNC_SQL}),
    celled AS (
      SELECT vec_id, label, embedding,
             vec_id % {_NSHARDS} AS shard,
             {_acell_sql('embedding')} AS cell,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT shard, cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      GROUP BY shard, cell, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      WHERE vec_id = 0
    ),
    dist AS (
      SELECT cent.shard, cent.cell,
             SUM(CAST(floor((cent.c - q.qv) * (cent.c - q.qv)
                 * {_DIST_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.shard, cent.cell
    ),
    probed AS (
      SELECT shard, cell FROM (
        SELECT shard, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY shard ORDER BY d2, cell) AS rn
        FROM dist
      ) WHERE rn <= {NPROBE}
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           e.shard, e.vec_id, e.label,
           {DOT_SQL.format(dim=DIM, a='e.embedding', b='qq.embedding')}
             / (e.nrm * {NORM_SQL.format(dim=DIM, a='qq.embedding')})
             AS cosine
    FROM celled e
    JOIN probed p ON p.shard = e.shard AND p.cell = e.cell
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ivf_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN serving through the SHARDED adaptive IVF index
    (module note): shard = vec_id % {S}, per-shard cells from
    m = cell_bits(⌈n/S⌉) bits of the shared plane family, nprobe={NP}
    nearest centroids probed PER SHARD (a shard-partitioned rank
    window — no global centroid sort), candidates merged into one
    exact global top-10. The result pins shard + cell_bits per row so
    a gated record shows WHICH shard's index answered — the cross-shard
    merge is the one step the unsharded sim_ivf_adaptive doesn't have.

    Determinism: shard and cell ids are integer expressions over
    literals; centroids/distances follow the sim_ivf_probe
    scaled-integer conventions (bit-identical probed sets); total
    (cosine DESC, vec_id) order on the limit.

    Scale: cell assignment stays map-side (shard is arithmetic on the
    id, cells are m plane dots); centroids are ONE posexplode rollup
    keyed (shard, cell, j); the probe is S·2^m centroid rows against
    broadcast query dims with a PER-SHARD window (S-way parallel, no
    single-partition sort); the scan reads S·nprobe cells ≈ O(√(S·n))
    rows and TakeOrderedAndProject keeps 10 per partition. At 537M
    vectors: S = 33 shards of ~16M rows, m = 12, ~130k rows scanned
    per query — the executed form of the adaptive IVF's shard-past-the-cap
    note, with (shard, cell) as the physical partition key so
    partition pruning makes the probe literal at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    n = row_count(sf_dir, "embeddings")
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    celled = emb.select(
        "vec_id",
        "label",
        "embedding",
        (F.col("vec_id") % _NSHARDS).alias("shard"),
        _acell_expr(F.col("embedding"), m).alias("cell"),
        norm(F.col("embedding")).alias("nrm"),
    )
    dims = celled.select(
        "vec_id", "shard", "cell", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("shard", "cell", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * _CENT_SCALE)).cast("double")
             / _CENT_SCALE)
            / F.count(F.lit(1))
        ).alias("c")
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("val").alias("qv")
    )
    dist = (
        cent.join(F.broadcast(qdims), cent.j == F.col("qj"))
        .groupBy("shard", "cell")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("qv"))
                    * (F.col("c") - F.col("qv"))
                    * _DIST_SCALE
                )
            ).alias("d2")
        )
    )
    wp = W.partitionBy("shard").orderBy("d2", "cell")
    probed = (
        dist.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select(
            F.col("shard").alias("p_shard"), F.col("cell").alias("p_cell")
        )
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        F.col("nrm") * F.col("nq")
    )
    return (
        celled.join(
            F.broadcast(probed),
            (F.col("shard") == F.col("p_shard"))
            & (F.col("cell") == F.col("p_cell")),
        )
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.lit(m).cast("long").alias("cell_bits"),
            "shard",
            "vec_id",
            "label",
            cosine.alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


sim_ivf_sharded.__doc__ = sim_ivf_sharded.__doc__.replace(
    "{S}", str(_NSHARDS)
).replace("{NP}", str(NPROBE))


@query(
    "sim_ivf_sharded_occupancy",
    oracle=f"""
    WITH nc AS ({_SNC_SQL}),
    celled AS (
      SELECT vec_id % {_NSHARDS} AS shard,
             {_acell_sql('embedding')} AS cell
      FROM embeddings CROSS JOIN nc
    ),
    occ AS (
      SELECT shard, cell, CAST(COUNT(*) AS BIGINT) AS n FROM celled
      GROUP BY shard, cell
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           CAST(shard AS BIGINT) AS shard,
           CAST(LENGTH(BIN(n)) AS BIGINT) AS occ_bits,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           CAST(MAX(n) AS BIGINT) AS max_occ
    FROM occ GROUP BY shard, occ_bits ORDER BY shard, occ_bits
    """,
)
def sim_ivf_sharded_occupancy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Observability for the SHARDED adaptive IVF: per-shard
    cell-occupancy histogram in power-of-2 bins — the
    sim_ivf_adaptive_occupancy cost model with the shard dimension
    kept, because sharding changes WHAT can go wrong: a healthy index
    has every shard's occupancy concentrated near (n/S)/2^m ≈ √(n/S),
    and a fat top bin in ONE shard (a skewed shard key, or one shard's
    vector distribution defeating the shared planes) is invisible in a
    global histogram but is exactly the straggler that serves that
    shard's probes slowly. Per-query scan cost is Σ_shards
    nprobe·occupancy — this table IS that model, per shard.

    Scale: map-side (shard, cell) assignment, one composite-key count,
    one ≤ S·log(max) row rollup."""
    emb = load(spark, sf_dir, "embeddings")
    n = row_count(sf_dir, "embeddings")
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    celled = emb.select(
        (F.col("vec_id") % _NSHARDS).alias("shard"),
        _acell_expr(F.col("embedding"), m).alias("cell"),
    )
    occ = celled.groupBy("shard", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        occ.groupBy(
            "shard",
            F.length(F.bin(F.col("n"))).cast("long").alias("occ_bits"),
        )
        .agg(
            F.lit(m).cast("long").alias("cell_bits"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_vectors"),
            F.max("n").cast("long").alias("max_occ"),
        )
        .select(
            "cell_bits",
            F.col("shard").cast("long").alias("shard"),
            "occ_bits",
            "n_cells",
            "n_vectors",
            "max_occ",
        )
        .orderBy("shard", "occ_bits")
    )


@query(
    "sim_ivf_sharded_recall",
    oracle=f"""
    WITH nc AS ({_SNC_SQL}),
    celled AS (
      SELECT vec_id, embedding,
             vec_id % {_NSHARDS} AS shard,
             {_acell_sql('embedding')} AS cell,
             {NORM_SQL.format(dim=DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT shard, cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({DIM})) AS j) dims
      GROUP BY shard, cell, j
    ),
    anchors AS (SELECT * FROM celled WHERE vec_id < {_N_ANCHORS}),
    adist AS (
      SELECT a.vec_id AS anchor, cent.shard, cent.cell,
             SUM(CAST(floor(
               (cent.c - CAST(a.embedding[cent.j+1] AS DOUBLE))
               * (cent.c - CAST(a.embedding[cent.j+1] AS DOUBLE))
               * {_DIST_SCALE}.0) AS BIGINT)) AS d2
      FROM anchors a CROSS JOIN cent
      GROUP BY a.vec_id, cent.shard, cent.cell
    ),
    probed AS (
      SELECT anchor, shard, cell FROM (
        SELECT anchor, shard, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY anchor, shard ORDER BY d2, cell) AS rn
        FROM adist
      ) WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             EXISTS (SELECT 1 FROM probed p
                     WHERE p.anchor = a.vec_id
                       AND p.shard = c.shard AND p.cell = c.cell)
               AS in_probe,
             {DOT_SQL.format(dim=DIM, a='a.embedding', b='c.embedding')}
               / (a.nrm * c.nrm) AS cosine
      FROM anchors a JOIN celled c ON c.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT anchor, cand, in_probe, ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY cosine DESC, cand) AS rn
      FROM scored
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           anchor,
           CAST(SUM(CASE WHEN in_probe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN in_probe AND rn <= {_RECALL_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN in_probe AND rn <= {_RECALL_K}
                                    THEN 1 ELSE 0 END)) // {_RECALL_K}
                AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY anchor ORDER BY anchor
    """,
)
def sim_ivf_sharded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the sharded IVF: for the constant 8-anchor set,
    exact top-10 cosine truth vs the candidate set of the PER-SHARD
    nprobe={NP} probes (S·{NP} cells per anchor) — per anchor,
    candidate-set size and exact recall@10 in ppm. Closes the
    speed/recall loop for the sharded tier the way
    sim_ivf_adaptive_recall closes it for the unsharded index; the
    interesting comparison the pair enables: sharding probes S× more
    cells (each √S× smaller), so at equal scan budget its recall
    should dominate the unsharded nprobe={NP} — this query makes that
    measurable instead of argued.

    Scale: exact truth is 8·n map-side scoring against broadcast
    anchors (the price of ground truth); probes are 8·S·2^m centroid
    distances over broadcast frames with a PER-(anchor, shard) rank
    window (8·S-way parallel); one 8-partition rank window;
    |anchors| output rows. Integer ppm output."""
    emb = load(spark, sf_dir, "embeddings")
    n = row_count(sf_dir, "embeddings")
    m = adaptive_cell_bits((n + _NSHARDS - 1) // _NSHARDS)
    celled = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _NSHARDS).alias("shard"),
        _acell_expr(F.col("embedding"), m).alias("cell"),
        norm(F.col("embedding")).alias("nrm"),
    )
    dims = celled.select(
        "vec_id", "shard", "cell", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("shard", "cell", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * _CENT_SCALE)).cast("double")
             / _CENT_SCALE)
            / F.count(F.lit(1))
        ).alias("c")
    )
    adims = dims.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("j").alias("aj"),
        F.col("val").alias("av"),
    )
    adist = (
        cent.join(F.broadcast(adims), cent.j == F.col("aj"))
        .groupBy("anchor", "shard", "cell")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("av"))
                    * (F.col("c") - F.col("av"))
                    * _DIST_SCALE
                )
            ).alias("d2")
        )
    )
    wp = W.partitionBy("anchor", "shard").orderBy("d2", "cell")
    probed = (
        adist.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select(
            F.col("anchor").alias("p_anchor"),
            F.col("shard").alias("p_shard"),
            F.col("cell").alias("p_cell"),
            F.lit(1).alias("probe_hit"),
        )
    )
    anchors = celled.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    scored = (
        celled.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor"))
        .join(
            F.broadcast(probed),
            (F.col("anchor") == F.col("p_anchor"))
            & (F.col("shard") == F.col("p_shard"))
            & (F.col("cell") == F.col("p_cell")),
            "left",
        )
        .select(
            "anchor",
            F.col("vec_id").alias("cand"),
            F.coalesce(F.col("probe_hit"), F.lit(0)).alias("in_probe"),
            (
                dot(F.col("ea"), F.col("embedding"))
                / (F.col("na") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cosine"), "cand")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    in_cand = F.when(F.col("in_probe") == 1, 1).otherwise(0)
    is_hit = F.when(
        (F.col("in_probe") == 1) & (F.col("rn") <= _RECALL_K), 1
    ).otherwise(0)
    return (
        ranked.groupBy("anchor")
        .agg(
            F.lit(m).cast("long").alias("cell_bits"),
            F.sum(in_cand).cast("long").alias("n_candidates"),
            F.sum(is_hit).cast("long").alias("n_hits"),
        )
        .select(
            "cell_bits",
            "anchor",
            "n_candidates",
            "n_hits",
            F.expr(f"1000000 * n_hits div {_RECALL_K}")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("anchor")
    )


sim_ivf_sharded_recall.__doc__ = sim_ivf_sharded_recall.__doc__.replace(
    "{NP}", str(NPROBE)
)
