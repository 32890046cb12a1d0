"""Sharded corpus-adaptive IVF (round 12): the form that carries the
similarity11 adaptive index past its 12-bit cell cap.

similarity11's quantizer stops at 2^12 = 4096 cells — the literal-width
bound of the shared 24-plane family, ~16M vectors per table at the
C ≈ √n balance point. Its module note argues "past that, shard the
table"; the r11 VERDICT (item 6) asked for that argument to be
EXECUTED, not commented. This module is the execution: the corpus is
split into ``_NSHARDS`` shards (here by ``vec_id % S`` — the stand-in
for the partition/file-group key a 537M-vector table is already stored
under), each shard gets its own IVF sized to ITS row count
(m = cell_bits(⌈n/S⌉), so every shard sits at its own √(n/S) balance
point), and the composite cell id is (shard, cell) — total effective
cells S·2^m from the SAME 12-bit literal family, no new literals.

Serving probes every shard independently (nprobe nearest centroids PER
SHARD — a per-shard rank window, not a global one) and merges candidates
into one exact global top-k. Per-query cost: S·2^m centroid distances +
S·nprobe·(n/S)/2^m scanned vectors = O(√(S·n)) — at 537M vectors and
S=33, each shard holds ~16M rows at m=12 and the scan touches ~130k
vectors instead of 537M.

Shard count here is a literal (4) so both engines derive identical
results; on a cluster it is ⌈n / 16M⌉ — a deployment constant decided
when the table is laid out, exactly like its partition count.

Not in the reference (no vector surface — SURVEY.md §2.1; its one query
capability is selective decryption, src/parquet_reader.cpp:92-101);
extends the similarity family's adaptive tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL
from .similarity10 import _corpus_count
from .similarity11 import (
    _acell_expr,
    _acell_sql,
    _CELL_CAP,
    _CENT_SCALE,
    _DIST_SCALE,
    _NPROBE,
    adaptive_cell_bits,
)
from .vecmath import dot, norm

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
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT shard, cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
      GROUP BY shard, cell, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
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
      ) WHERE rn <= {_NPROBE}
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           e.shard, e.vec_id, e.label,
           {_DOT_SQL.format(dim=_DIM, a='e.embedding', b='qq.embedding')}
             / (e.nrm * {_NORM_SQL.format(dim=_DIM, a='qq.embedding')})
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
    per query — the executed form of similarity11's shard-past-the-cap
    note, with (shard, cell) as the physical partition key so
    partition pruning makes the probe literal at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    n = _corpus_count(spark, sf_dir)
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
        .filter(F.col("rn") <= _NPROBE)
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
).replace("{NP}", str(_NPROBE))


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
    n = _corpus_count(spark, sf_dir)
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


_RECALL_K = 10
_N_ANCHORS = 8  # constant anchor set => the audit stays linear in n


@query(
    "sim_ivf_sharded_recall",
    oracle=f"""
    WITH nc AS ({_SNC_SQL}),
    celled AS (
      SELECT vec_id, embedding,
             vec_id % {_NSHARDS} AS shard,
             {_acell_sql('embedding')} AS cell,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT shard, cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
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
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             EXISTS (SELECT 1 FROM probed p
                     WHERE p.anchor = a.vec_id
                       AND p.shard = c.shard AND p.cell = c.cell)
               AS in_probe,
             {_DOT_SQL.format(dim=_DIM, a='a.embedding', b='c.embedding')}
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
    n = _corpus_count(spark, sf_dir)
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
        .filter(F.col("rn") <= _NPROBE)
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
    "{NP}", str(_NPROBE)
)
