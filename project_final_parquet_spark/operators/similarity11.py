"""Corpus-adaptive IVF index (round 11): coarse-cell count derived from
the corpus size so the classic IVF cost balance — probe C centroids,
then scan n/C vectors per probed cell — sits at its C ≈ √n optimum at
ANY corpus size.

The r10 VERDICT's residual: the LSH mining tier went corpus-adaptive
(similarity10), but the IVF family (sim_ivf_probe / sim_ivf_multiprobe /
sim_ivf_pq) still quantizes on the FIXED label partitions — 10 cells
forever, so per-query scan cost is n/10, linear in the corpus. This
module applies the same corpus-derived sizing with an oracle-twin
integer formula:

    cell_bits(n) = min(12, max(2, bit_length(n - 1) // 2))

i.e. the cell count 2^m is the power of two nearest √n from below:
n = 2^b ⇒ m = b/2 ⇒ C = 2^m ≈ √n, occupancy n/C ≈ √n. Probe cost
(C centroid distances) and scan cost (nprobe·n/C exact scores) BOTH
grow as √n — the balanced knee every IVF paper (IVFADC / FAISS) sizes
to, vs the fixed-cell form's linear scan growth. bit_length ==
LENGTH(BIN(x)) in DuckDB, so both engines derive the identical cell
count from the identical corpus count (the similarity10 convention).
The 12-bit cap (4096 cells) covers ~16M vectors per table at the
balance point; past that, shard the table or widen the literals —
a literal-width change, not a design change.

Cells come from the first m hyperplane bits of the SHARED plane family
(similarity.py `_plane_coeff` — the same md5-derived literals the LSH
tier uses), so the quantizer needs NO training pass: cell assignment is
a map-side expression, the per-cell centroid table is ONE posexplode
rollup, and the whole index is reproducible from literals in both
engines. A k-means-trained quantizer (ml_kmeans) would tighten cells
but costs an iterative job and is not cross-engine deterministic; the
hyperplane quantizer is the deterministic corpus-scale form.

Centroid arithmetic follows the sim_ivf_probe conventions exactly:
scaled-integer means (floor(val·1e9) sums) and floor-scaled integer
query-to-centroid distances, so the probed cell set is bit-identical
cross-engine.

Not in the reference (no vector surface — SURVEY.md §2.1); extends the
similarity family. Fixed-cell variants (sim_ivf_probe,
sim_ivf_multiprobe, sim_ivf_pq) are kept: their cell semantics (label
partitions) differ, so these are gated as ``_adaptive`` twins per the
r9/r10 VERDICT convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL, _bucket_expr_for
from .similarity10 import _corpus_count, _PLANES24
from .vecmath import dot, norm

_CELL_CAP = 12  # 4096 cells ≈ 16M vectors at the √n balance point
_NPROBE = 2  # probed cells per query — the recall/cost dial
_CENT_SCALE = 1_000_000_000  # 1e9: per-dim scaled-int centroid mean
_DIST_SCALE = 1_000_000_000_000  # 1e12: (c-q)^2 sums (sim_ivf_probe)


def adaptive_cell_bits(n: int) -> int:
    """Cell-count exponent m with 2^m ≈ √n (see module note), floored
    at 2 and capped at 12. Integer-only: agrees with the oracle's
    LEAST(12, GREATEST(2, LENGTH(BIN(n - 1)) // 2)) at every n ≥ 1."""
    return min(_CELL_CAP, max(2, (n - 1).bit_length() // 2))


# 1-row CTE ``nc`` (column ``m``): the adaptive cell-bit count from the
# corpus count — the similarity10 _NP_SQL pattern.
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
        dot_sql = _DOT_SQL.format(dim=_DIM, a=vec, b=lit)
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
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
      GROUP BY cell, j
    ),
    q AS (
      SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
      FROM embeddings CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
      WHERE vec_id = 0
    ),
    dist AS (
      SELECT cent.cell,
             SUM(CAST(floor((cent.c - q.qv) * (cent.c - q.qv)
                 * {_DIST_SCALE}.0) AS BIGINT)) AS d2
      FROM cent JOIN q ON cent.j = q.j
      GROUP BY cent.cell
    ),
    best AS (SELECT cell FROM dist ORDER BY d2, cell LIMIT {_NPROBE})
"""


def _celled(spark: SparkSession, sf_dir: str):
    """Shared staging: corpus count -> cell bits -> celled frame (lazy;
    the footer-metadata count is the one driver-side step)."""
    emb = load(spark, sf_dir, "embeddings")
    m = adaptive_cell_bits(_corpus_count(spark, sf_dir))
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
        .limit(_NPROBE)
        .select(F.col("cell").alias("best_cell"))
    )


@query(
    "sim_ivf_adaptive",
    oracle=f"""
    {_IVF_CTES}
    SELECT (SELECT CAST(m AS BIGINT) FROM nc) AS cell_bits,
           e.vec_id, e.label,
           {_DOT_SQL.format(dim=_DIM, a='e.embedding', b='qq.embedding')}
             / (e.nrm * {_NORM_SQL.format(dim=_DIM, a='qq.embedding')})
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


_RECALL_K = 10
_N_ANCHORS = 8  # constant anchor set => the audit stays linear in n


@query(
    "sim_ivf_adaptive_recall",
    oracle=f"""
    WITH nc AS ({_NC_SQL}),
    celled AS (
      SELECT vec_id, embedding, {_acell_sql('embedding')} AS cell,
             {_NORM_SQL.format(dim=_DIM, a='embedding')} AS nrm
      FROM embeddings CROSS JOIN nc
    ),
    cent AS (
      SELECT cell, j,
             (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
                   * {_CENT_SCALE}.0) AS BIGINT)) AS DOUBLE)
              / {_CENT_SCALE}.0) / COUNT(*) AS c
      FROM celled CROSS JOIN (SELECT unnest(range({_DIM})) AS j) dims
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
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT a.vec_id AS anchor, c.vec_id AS cand,
             c.cell IN (SELECT cell FROM probed p
                        WHERE p.anchor = a.vec_id) AS in_probe,
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
        .filter(F.col("rn") <= _NPROBE)
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
