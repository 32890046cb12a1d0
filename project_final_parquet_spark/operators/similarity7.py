"""Round-7 ANN serving-infrastructure audits: IVF cell-balance and the
LSH multiprobe recall curve — the two numbers that TUNE an ANN index
(nlist/assignment balance and the radius-vs-recall trade), measured as
gated queries instead of asserted in prose.

Not in the reference (no vector surface, SURVEY.md §2.1); extends the
similarity family's serving shapes (sim_filtered_topk,
sim_multi_query_topk) with the index-maintenance side.

Determinism: cell stats are pure integers; the recall curve compares
integer candidate sets built from the SAME md5-derived hyperplanes and
the SAME left-fold cosine as sim_ann_lsh / sim_ann_multiprobe, with
every top-k totally ordered by (cosine, vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL, _bucket_expr, _bucket_sql
from .vecmath import dot, norm, with_pair_cosine

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
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nq
      FROM buck WHERE vec_id = 0
    ),
    scored AS (
      SELECT b.vec_id, b.bucket, q.qb,
             {_DOT_SQL.format(dim=_DIM, a='b.embedding', b='q.qv')}
               / ({_NORM_SQL.format(dim=_DIM, a='b.embedding')} * q.nq)
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


# --- PQ quantization-loss audit ----------------------------------------------

from .similarity4 import _K, _M, _SUB, _sq_sub, _sq_sub_sql  # noqa: E402

_PQ_KS = [5, 10, 20]


def _pq_recall_oracle() -> str:
    exact = " + ".join(
        _sq_sub_sql("e.embedding", "q.qv", t) for t in range(_M)
    )
    return f"""
    WITH cbrows AS (
      SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
      FROM embeddings ORDER BY h, vec_id LIMIT {_K}
    ),
    cb AS (SELECT list(embedding ORDER BY h, vec_id) AS cbs FROM cbrows),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id, e.embedding, cb.cbs, q.qv, {exact} AS exact_d2
      FROM embeddings e CROSS JOIN cb CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    coded AS (
      SELECT vec_id, exact_d2, cbs, qv,
        {", ".join(
            f"list_transform(cbs, cw -> "
            f"{_sq_sub_sql('embedding', 'cw', t)}) AS dt{t}"
            for t in range(_M)
        )}
      FROM enc
    ),
    scored AS (
      SELECT vec_id, exact_d2,
        {" + ".join(
            f"list_aggregate(list_transform(range({_SUB}), j -> "
            f"(CAST(qv[{t * _SUB}+j+1] AS DOUBLE) - "
            f"CAST(cbs[CAST(list_position(dt{t}, "
            f"list_aggregate(dt{t}, 'min')) AS INTEGER)]"
            f"[{t * _SUB}+j+1] AS DOUBLE)) * "
            f"(CAST(qv[{t * _SUB}+j+1] AS DOUBLE) - "
            f"CAST(cbs[CAST(list_position(dt{t}, "
            f"list_aggregate(dt{t}, 'min')) AS INTEGER)]"
            f"[{t * _SUB}+j+1] AS DOUBLE))), 'sum')"
            for t in range(_M)
        )} AS adc
      FROM coded
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _PQ_KS)}]) AS k),
    truth AS (
      SELECT k.k, s.vec_id
      FROM ks k, (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY exact_d2, vec_id) AS rn
                  FROM scored) s
      WHERE s.rn <= k.k
    ),
    approx AS (
      SELECT k.k, s.vec_id
      FROM ks k, (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rn
                  FROM scored) s
      WHERE s.rn <= k.k
    )
    SELECT CAST(a.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN t.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // a.k AS BIGINT)
             AS recall_ppm
    FROM approx a
    LEFT JOIN truth t ON t.k = a.k AND t.vec_id = a.vec_id
    GROUP BY a.k ORDER BY k
    """


@query("sim_pq_recall_audit", oracle=_pq_recall_oracle())
def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization-loss audit: recall@k (k=5/10/20) of the ADC
    ranking against the EXACT squared-L2 ranking, on the same seeded
    codebook and query as sim_pq_adc — the number that tells you what
    the 64x compression costs in ranking quality (the Jégou paper's
    Figure-of-merit, measured as a gated query). Together with
    sim_ann_recall_curve this closes the ANN eval loop: one audit per
    approximation stage (hash pruning, code quantization).

    Determinism: exact_d2 and every ADC term are the shared
    sequential-fold sums in fixed textual order; both rankings are
    totally ordered by (distance, vec_id); recall is exact-integer ppm.

    Scale: ONE corpus pass computes exact distance and ADC side by side
    (map-side against the broadcast codebook + query); both top-k sets
    are TakeOrdereds; the hit probe joins two <=20-row broadcast sets.
    In production the exact column exists only for the sampled audit
    slice — the audit runs on a fixed-size sample, same shape."""
    emb = load(spark, sf_dir, "embeddings")
    cbrows = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
    )
    cb = cbrows.agg(
        F.array_sort(
            F.collect_list(F.struct("h", "vec_id", "embedding"))
        ).alias("s")
    ).select(F.transform("s", lambda r: r["embedding"]).alias("cbs"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    enc = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(q))
    )
    exact = None
    for t in range(_M):
        term = _sq_sub(F.col("embedding"), F.col("qv"), t)
        exact = term if exact is None else exact + term

    def _code_col(t: int):
        dists = F.transform(
            F.col("cbs"), lambda cw: _sq_sub(F.col("embedding"), cw, t)
        )
        return (
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"c{t}")
        )

    coded = enc.select(
        "vec_id",
        "cbs",
        "qv",
        exact.alias("exact_d2"),
        *[_code_col(t) for t in range(_M)],
    )
    adc = None
    for t in range(_M):
        term = _sq_sub(
            F.col("qv"), F.element_at(F.col("cbs"), F.col(f"c{t}") + 1), t
        )
        adc = term if adc is None else adc + term
    scored = coded.select("vec_id", "exact_d2", adc.alias("adc"))

    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _PQ_KS])).alias("k")
    )
    t_rn = F.row_number().over(W.orderBy("exact_d2", "vec_id"))
    a_rn = F.row_number().over(W.orderBy("adc", "vec_id"))
    truth = (
        scored.select("vec_id", t_rn.alias("rn"))
        .filter(F.col("rn") <= max(_PQ_KS))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .select(F.col("k").alias("tk"), F.col("vec_id").alias("t_vec"))
    )
    approx = (
        scored.select("vec_id", a_rn.alias("rn"))
        .filter(F.col("rn") <= max(_PQ_KS))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .select("k", "vec_id")
    )
    return (
        approx.join(
            F.broadcast(truth),
            (F.col("tk") == F.col("k")) & (F.col("t_vec") == F.col("vec_id")),
            "left",
        )
        .groupBy(F.col("k").cast("long").alias("k"))
        .agg(
            F.sum(F.when(F.col("t_vec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN t_vec IS NOT NULL THEN 1 "
                "ELSE 0 END) div k AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("k")
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
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}
               / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                  * {_NORM_SQL.format(dim=_DIM, a='b.embedding')}) AS cosine
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
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='p.embedding')}
               / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
                  * {_NORM_SQL.format(dim=_DIM, a='p.embedding')}) AS cosine
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
