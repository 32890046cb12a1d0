"""Embedding-corpus statistics: the per-dimension profile an embedding
pipeline materializes before normalization / quantization / whitening
(feature scaling needs mean+std per dim; quantizer calibration needs
min/max per dim).

Not in the reference (no vector surface there, SURVEY.md §2.1); extends
the similarity/ANN family (operators/similarity*.py) with the stats
pass its quantizers (int8 scalar, PQ codebooks) assume as given.

Determinism: per-row double arithmetic (float→double widening is exact)
with FLOOR-SCALED BIGINT sums (the ml_kmeans convention) rather than
DECIMAL(38,10): raw float values can terminate at exactly 11 decimal
digits ending in 5 (any odd·2⁻¹¹ does), where Spark's HALF_UP and
DuckDB's tie-rounding disagree by one decimal ulp — floor() has no
ties. Variance uses the E[x²]−E[x]² form over those exact integer sums,
so both engines do identical IEEE ops on identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ckpt import checkpoint, release
from ..registry import DSUM_SQL, dsum, query
from ..tables import load
from .vecmath import dot, norm

_DIM = 64
_VSCALE = 1_000_000_000_000  # 1e-12 granularity; 64·N·0.5·1e12 ≪ 2^63


@query(
    "embeddings_dim_stats",
    oracle=f"""
    WITH flat AS (
      SELECT i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
    ),
    agg AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(v * {_VSCALE}.0) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(SUM(CAST(floor(v * v * {_VSCALE}.0) AS BIGINT)) AS BIGINT)
               AS s2,
             MIN(v) AS min_val, MAX(v) AS max_val
      FROM flat GROUP BY dim
    )
    SELECT dim,
           CAST(s1 AS DOUBLE) / {_VSCALE}.0 / n AS mean_val,
           sqrt(CAST(s2 AS DOUBLE) / {_VSCALE}.0 / n
                - (CAST(s1 AS DOUBLE) / {_VSCALE}.0 / n)
                  * (CAST(s1 AS DOUBLE) / {_VSCALE}.0 / n)) AS std_val,
           min_val, max_val
    FROM agg ORDER BY dim
    """,
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population-std / min / max over the whole
    embedding corpus — the calibration scan for scalar quantization
    (min/max → int8 range) and standardization (mean/std → whitened
    inputs). posexplode flattens each vector to (dim, value); the 64-way
    group is map-side combined, so the shuffle carries 64 partials per
    task regardless of corpus size — the plan is a single pass at any
    scale."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("dim", "vf")
    ).select("dim", F.col("vf").cast("double").alias("v"))
    scale = F.lit(float(_VSCALE))
    agg = flat.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("v") * scale).cast("long")).cast("long").alias("s1"),
        F.sum(F.floor(F.col("v") * F.col("v") * scale).cast("long"))
        .cast("long")
        .alias("s2"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    mean = F.col("s1").cast("double") / scale / F.col("n")
    return agg.select(
        "dim",
        mean.alias("mean_val"),
        F.sqrt(
            F.col("s2").cast("double") / scale / F.col("n") - mean * mean
        ).alias("std_val"),
        "min_val",
        "max_val",
    ).orderBy("dim")


# --- k-NN graph construction -----------------------------------------------

_KNN_SRC = 20  # source vectors whose neighborhoods we materialize
_KNN_K = 3


@query(
    "sim_knn_graph",
    oracle=f"""
    WITH srcs AS (
      SELECT vec_id AS src, embedding AS se FROM embeddings
      WHERE vec_id < {_KNN_SRC}
    ),
    scored AS (
      SELECT s.src, e.vec_id AS dst,
             list_aggregate(list_transform(range(64),
               j -> CAST(s.se[j+1] AS DOUBLE) * CAST(e.embedding[j+1] AS DOUBLE)),
               'sum')
             / (sqrt(list_aggregate(list_transform(range(64),
                  j -> CAST(s.se[j+1] AS DOUBLE) * CAST(s.se[j+1] AS DOUBLE)),
                  'sum'))
                * sqrt(list_aggregate(list_transform(range(64),
                    j -> CAST(e.embedding[j+1] AS DOUBLE)
                         * CAST(e.embedding[j+1] AS DOUBLE)), 'sum')))
               AS cosine
      FROM embeddings e CROSS JOIN srcs s
      WHERE e.vec_id <> s.src
    )
    SELECT src, rank, dst, cosine FROM (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cosine DESC, dst
             ) AS rank
      FROM scored
    ) t WHERE rank <= {_KNN_K}
    ORDER BY src, rank
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction: exact cosine top-{_KNN_K} neighbor edges
    for a source set — the adjacency a graph-based dedup / HNSW build /
    label-propagation pass consumes. The source vectors BROADCAST and
    every corpus partition scores them map-side (one pass over the big
    table, no shuffle of it); the per-src top-k ranks |src|·k rows.

    Scale: cost is |corpus|·|src| dot products, embarrassingly parallel;
    growing the source set shards it (each shard is this same plan), and
    the LSH/IVF variants (sim_ann_lsh, sim_ivf_multiprobe) replace the
    full scan when |src| ≈ |corpus|."""
    emb = load(spark, sf_dir, "embeddings")

    # both sides' norms hoisted out of the pair expression: each source's
    # norm is computed once in the broadcast frame and each corpus row's
    # once per row, instead of O(N·srcs·dim) inside the scored pairs
    srcs = emb.filter(F.col("vec_id") < _KNN_SRC).select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("se"),
        norm(F.col("embedding")).alias("sn"),
    )
    scored = (
        emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("en"))
        .crossJoin(F.broadcast(srcs))
        .filter(F.col("vec_id") != F.col("src"))
        .select(
            "src",
            F.col("vec_id").alias("dst"),
            (
                dot(F.col("se"), F.col("embedding"))
                / (F.col("sn") * F.col("en"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select("src", "rank", "dst", "cosine")
        .orderBy("src", "rank")
    )


# --- top principal component via power iteration ---------------------------

_PCA_S1 = 1_000_000_000  # Gram-entry floor scale
_PCA_XS = 1000  # per-round eigenvector rescale magnitude
_PCA_ROUNDS = 3


def _gram(emb) -> DataFrame:
    """G[i,j] = Σ_n floor(a_ni · a_nj · S1) — exact BIGINT Gram matrix.
    The flat self-join on vec_id is the only data-scale work; the
    (i,j) aggregate is 64×64 keys with map-side partials."""
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "vf")
    ).select("vec_id", "i", F.col("vf").cast("double").alias("vi"))
    a = flat.select("vec_id", "i", "vi")
    b = flat.select(
        "vec_id", F.col("i").alias("j"), F.col("vi").alias("vj")
    )
    return (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.floor(
                    F.col("vi") * F.col("vj") * F.lit(float(_PCA_S1))
                ).cast("long")
            )
            .cast("long")
            .alias("g")
        )
    )


def _power_round(g: DataFrame, x: DataFrame) -> DataFrame:
    """One exact power-iteration round on integer state: y = G·x
    (BIGINT), then rescale to |x'| ≤ {_PCA_XS} via floor(y·XS/max|y|)
    — floor (toward −∞) is identical cross-engine for negatives, where
    integer division is not (Spark `div` truncates, DuckDB `//`
    floors)."""
    y = (
        g.join(x, "j")
        .groupBy(F.col("i").alias("j"))
        .agg(F.sum(F.col("g") * F.col("x")).cast("long").alias("y"))
    )
    m = y.agg(F.max(F.abs(F.col("y"))).alias("maxabs"))
    return y.crossJoin(F.broadcast(m)).select(
        "j",
        F.floor(
            F.col("y").cast("double")
            * F.lit(float(_PCA_XS))
            / F.col("maxabs").cast("double")
        )
        .cast("long")
        .alias("x"),
    )


def _pca_oracle() -> str:
    rounds = []
    for r in range(1, _PCA_ROUNDS + 1):
        prev = f"x{r - 1}" if r > 1 else "x0"
        rounds.append(f"""
    y{r} AS (
      SELECT g.i AS j, CAST(SUM(g.g * x.x) AS BIGINT) AS y
      FROM g JOIN {prev} x ON g.j = x.j GROUP BY g.i
    ),
    m{r} AS (SELECT MAX(abs(y)) AS maxabs FROM y{r}),
    x{r} AS (
      SELECT j, CAST(floor(CAST(y AS DOUBLE) * {_PCA_XS}.0
                           / CAST(maxabs AS DOUBLE)) AS BIGINT) AS x
      FROM y{r} CROSS JOIN m{r}
    )""")
    last = f"x{_PCA_ROUNDS}"
    return f"""
    WITH flat AS (
      SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS vi
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
    ),
    g AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(floor(a.vi * b.vi * {_PCA_S1}.0) AS BIGINT))
                  AS BIGINT) AS g
      FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    x0 AS (SELECT unnest(range({_DIM})) AS j, CAST(1 AS BIGINT) AS x),
    {",".join(rounds)},
    nrm AS (SELECT sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM {last}),
    num AS (
      SELECT CAST(SUM(g.g * a.x * b.x) AS BIGINT) AS xgx
      FROM g JOIN {last} a ON g.i = a.j JOIN {last} b ON g.j = b.j
    ),
    den AS (SELECT CAST(SUM(x * x) AS BIGINT) AS xx FROM {last})
    SELECT l.j AS dim,
           CAST(l.x AS DOUBLE) / nrm.nrm AS loading,
           CAST(num.xgx AS DOUBLE) / CAST(den.xx AS DOUBLE)
             / {_PCA_S1}.0 AS eigenvalue
    FROM {last} l CROSS JOIN nrm CROSS JOIN num CROSS JOIN den
    ORDER BY dim
    """


@query("embeddings_top_eigenvector", oracle=_pca_oracle())
def embeddings_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram
    matrix via {_PCA_ROUNDS} unrolled power-iteration rounds — the PCA
    primitive behind whitening, Matryoshka-style dim ordering, and
    spectral diagnostics, in the iterative-algorithm family of
    ml_kmeans / graph_pagerank. Every step is integer-exact: the Gram
    matrix accumulates floor-scaled BIGINTs (one data-scale self-join +
    a 64×64-key aggregate), each round is an integer matvec rescaled by
    floor(y·K/max|y|), and the reported loading/eigenvalue (Rayleigh
    quotient) divide exact integers — bit-identical cross-engine, no
    decimal ties, no double-sum ordering anywhere.

    Scale: the corpus-sized work is ONLY the Gram accumulation (its
    shuffle carries 4096 partial keys per task); the iteration state is
    a 64-row frame, so rounds cost nothing at any corpus size — unlike
    per-row iterative methods, adding data does not add rounds.

    Iterative-query contract (registry docstring): the Gram matrix and
    each round's state are eagerly localCheckpoint-ed, so construction
    EXECUTES the iterations and the returned plan is the cheap final
    projection — without this, every round re-derives the corpus-scale
    Gram lineage (measured: 212-exchange plan vs 8)."""
    emb = load(spark, sf_dir, "embeddings")
    # g stays resident: the returned plan's Rayleigh quotient reads it.
    # It is 64x64 keys — O(dim^2), corpus-size-independent.
    g = _gram(emb).localCheckpoint()
    x = spark.range(_DIM).select(
        F.col("id").alias("j"), F.lit(1).cast("long").alias("x")
    )
    for _ in range(_PCA_ROUNDS):
        prev = x
        x = checkpoint(_power_round(g, x))
        release(prev)
    nrm = x.agg(
        F.sqrt(F.sum(F.col("x") * F.col("x")).cast("double")).alias("nrm")
    )
    ga = g.join(x.select(F.col("j").alias("i"), F.col("x").alias("xa")), "i")
    num = (
        ga.join(x.select("j", F.col("x").alias("xb")), "j")
        .agg(
            F.sum(F.col("g") * F.col("xa") * F.col("xb"))
            .cast("long")
            .alias("xgx")
        )
    )
    den = x.agg(F.sum(F.col("x") * F.col("x")).cast("long").alias("xx"))
    return (
        x.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("j").alias("dim"),
            (F.col("x").cast("double") / F.col("nrm")).alias("loading"),
            (
                F.col("xgx").cast("double")
                / F.col("xx").cast("double")
                / F.lit(float(_PCA_S1))
            ).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


# --- linear-probe AUC -------------------------------------------------------

# Shared "score every vector against the label-0 centroid" CTE chain
# (w → wl → scored), reused by the ml_eval.py evaluation family so the
# decile-lift / confusion tables rank from the IDENTICAL score stream
# the AUC ranks from. Produces scored(vec_id, label, score).
PROBE_SCORED_CTES = f"""
    w AS (
      SELECT i AS dim,
             SUM(CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE)
                            * {_VSCALE}) AS BIGINT)) AS s,
             COUNT(*) AS c
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
      WHERE label = 0
      GROUP BY i
    ),
    wl AS (
      SELECT list(CAST(s AS DOUBLE) / c / {_VSCALE} ORDER BY dim) AS wv
      FROM w
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             list_aggregate(list_transform(range({_DIM}),
               j -> CAST(e.embedding[j + 1] AS DOUBLE) * wv[j + 1]),
               'sum') AS score
      FROM embeddings e CROSS JOIN wl
    )"""


def probe_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of PROBE_SCORED_CTES: (vec_id, label, score) where
    score is the shared left-fold dot of each embedding against the
    label-0 class centroid (floor-scaled BIGINT centroid sums, so the
    weights — and therefore every score — are bit-identical
    cross-engine). Centroid is one map-side-combined 64-key aggregate
    broadcast back as a single array row; scoring is map-side."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.filter(F.col("label") == 0).select(
        F.posexplode("embedding").alias("dim", "v")
    )
    w = flat.groupBy("dim").agg(
        F.sum(
            F.floor(F.col("v").cast("double") * _VSCALE).cast("long")
        ).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    wl = w.select(
        F.struct(
            "dim",
            (F.col("s").cast("double") / F.col("c") / _VSCALE).alias("wj"),
        ).alias("p")
    ).agg(
        F.transform(
            F.array_sort(F.collect_list("p")), lambda x: x["wj"]
        ).alias("wv")
    )
    return emb.crossJoin(F.broadcast(wl)).select(
        "vec_id",
        "label",
        dot(F.col("embedding"), F.col("wv")).alias("score"),
    )


@query(
    "ml_linear_probe_auc",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    ranked AS (
      SELECT label, ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rn
      FROM scored
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(SUM(CASE WHEN label <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
             CAST(SUM(CASE WHEN label = 0 THEN rn ELSE 0 END) AS BIGINT)
               AS rank_sum
      FROM ranked
    )
    SELECT n_pos, n_neg, rank_sum,
           CAST(rank_sum - (n_pos * (n_pos + 1)) // 2 AS DOUBLE)
             / (n_pos * n_neg) AS auc
    FROM agg
    """,
)
def ml_linear_probe_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe separability of the embedding space: score every
    vector against the label-0 class centroid and report the
    Mann-Whitney AUC of that one-weight-layer classifier — the standard
    cheap probe for "does this embedding space already separate the
    class" before any training run.

    Exactness chain: the centroid uses the module's FLOOR-SCALED BIGINT
    sums (no decimal tie-rounding hazard on raw floats), the score is
    the shared left-fold dot (bit-identical both engines), and AUC
    comes from the rank-sum identity U = Σrank_pos − n_pos(n_pos+1)/2 —
    pure BIGINTs until the single final division. Rank ties break by
    vec_id (identical scores both engines ⇒ identical ranks), so the
    whole output is deterministic; the in-sample nature of the probe
    (centroid fit on the same rows it scores) is the convention for
    this audit and is stated here deliberately.

    Scale: the centroid is one map-side-combined groupBy over dims
    (64 rows out), broadcast back as a single array row; scoring is
    map-side. The global rank is the one sort — at corpus scale the
    exact form stays viable because ranking is a single
    sort-of-doubles (Spark range-partitions it); past that, the
    binned/histogram AUC estimator replaces the exact rank in the
    same pipeline shape."""
    scored = probe_scores(spark, sf_dir)
    from pyspark.sql import Window as W

    ranked = scored.select(
        "label", F.row_number().over(W.orderBy("score", "vec_id")).alias("rn")
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("label") != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        F.sum(F.when(F.col("label") == 0, F.col("rn")).otherwise(0))
        .cast("long")
        .alias("rank_sum"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "rank_sum",
        (
            (
                F.col("rank_sum")
                - F.expr("(n_pos * (n_pos + 1)) div 2")
            ).cast("double")
            / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


# --- effective rank (participation ratio) -----------------------------------


@query(
    "embeddings_effective_rank",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS vi
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
    ),
    g AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(floor(a.vi * b.vi * {_PCA_S1}.0) AS BIGINT))
                  AS BIGINT) AS g
      FROM flat a JOIN flat b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    tr AS (
      SELECT CAST(SUM(CASE WHEN i = j THEN g ELSE 0 END) AS BIGINT)
               AS trg,
             SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
               AS trg2
      FROM g
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings)
    SELECT CAST({_DIM} AS BIGINT) AS dim, n_vectors, trg AS gram_trace,
           (CAST(trg AS DOUBLE) * CAST(trg AS DOUBLE))
             / CAST(trg2 AS DOUBLE) AS effective_rank,
           (CAST(trg AS DOUBLE) * CAST(trg AS DOUBLE))
             / CAST(trg2 AS DOUBLE) / {_DIM} AS isotropy_ratio
    FROM tr CROSS JOIN n
    """,
)
def embeddings_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank (participation ratio) of the embedding space:
    PR = tr(G)² / tr(G²) = (Σλᵢ)² / Σλᵢ² over the uncentered Gram
    spectrum — an EXACT spectral-concentration diagnostic with NO
    eigendecomposition (both traces are polynomial in the Gram entries:
    tr(G²) = Σᵢⱼ G²ᵢⱼ by symmetry). PR ≈ dim means isotropic use of the
    space; PR ≪ dim means representation collapse — the number a
    retrieval team watches after every encoder retrain, complementing
    embeddings_top_eigenvector (the direction) with the spectrum's
    shape (how dominant it is).

    Determinism: the Gram matrix is the shared floor-scaled exact
    BIGINT accumulation (_gram); tr(G) is an int64 sum, tr(G²) a
    DECIMAL(38,0) sum of integer squares (G²ᵢⱼ overflows int64 at
    corpus scale, decimal is exact in both engines); the two final
    divisions are identical IEEE ops.

    Scale: one data-scale flat self-join co-partitioned on vec_id (the
    _gram contract — map-side combinable into 64×64 = 4096 cells); the
    trace reductions run over that 4096-row frame. The whole statistic
    is one pass regardless of corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    g = _gram(emb)
    gd = F.col("g").cast("decimal(38,0)")
    tr = g.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("g")).otherwise(0))
        .cast("long")
        .alias("trg"),
        F.sum(gd * gd).alias("trg2"),
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    er = (
        F.col("trg").cast("double") * F.col("trg").cast("double")
    ) / F.col("trg2").cast("double")
    return tr.crossJoin(F.broadcast(n)).select(
        F.lit(_DIM).cast("long").alias("dim"),
        "n_vectors",
        F.col("trg").alias("gram_trace"),
        er.alias("effective_rank"),
        (er / _DIM).alias("isotropy_ratio"),
    )


# --- per-dimension chi-square feature screen ---------------------------------


@query(
    "ml_feature_chi2_screen",
    oracle=f"""
    WITH flat AS (
      SELECT label, i AS dim,
             CASE WHEN CAST(embedding[i + 1] AS DOUBLE) >= 0
                  THEN 1 ELSE 0 END AS s
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
    ),
    cells AS (
      SELECT dim, label, s, CAST(COUNT(*) AS BIGINT) AS o
      FROM flat GROUP BY dim, label, s
    ),
    rows_ AS (
      SELECT dim, label, CAST(SUM(o) AS BIGINT) AS rt
      FROM cells GROUP BY dim, label
    ),
    cols_ AS (
      SELECT dim, s, CAST(SUM(o) AS BIGINT) AS ct
      FROM cells GROUP BY dim, s
    ),
    tot AS (SELECT dim, CAST(SUM(o) AS BIGINT) AS n FROM cells
            GROUP BY dim),
    grid AS (
      SELECT rows_.dim, rows_.label, cols_.s, rows_.rt, cols_.ct, tot.n,
             COALESCE(cells.o, 0) AS o
      FROM rows_
      JOIN cols_ ON rows_.dim = cols_.dim
      JOIN tot ON rows_.dim = tot.dim
      LEFT JOIN cells ON cells.dim = rows_.dim
                     AND cells.label = rows_.label AND cells.s = cols_.s
    ),
    terms AS (
      SELECT dim,
             (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
             * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
             / (CAST(rt AS DOUBLE) * ct / n) AS term
      FROM grid
    ),
    chi AS (
      SELECT dim, {DSUM_SQL.format(expr="term")} AS chi2
      FROM terms GROUP BY dim
    ),
    pos AS (
      SELECT dim, CAST(SUM(CASE WHEN s = 1 THEN o ELSE 0 END) AS BIGINT)
               AS n_pos_sign
      FROM cells GROUP BY dim
    )
    SELECT CAST(chi.dim AS BIGINT) AS dim, chi.chi2, pos.n_pos_sign
    FROM chi JOIN pos ON chi.dim = pos.dim
    ORDER BY chi2 DESC, dim LIMIT 10
    """,
)
def ml_feature_chi2_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature screen over embedding dimensions: for each
    dim, the chi² statistic of the (sign(v_d) × label) contingency
    table — the classic filter-method feature selector (mutual
    information needs a log; chi² is the rational-arithmetic screen
    with the same ranking power), reporting the 10 most
    label-predictive dimensions. An encoder whose top dims concentrate
    all the label signal is a Matryoshka-truncation candidate; one
    whose chi² is flat carries the signal diffusely.

    Determinism: observed counts are exact integers from ONE
    posexplode pass; expected counts rt·ct/n and the χ² terms are
    identical IEEE double expressions of those integers; the per-dim
    sum is a DSUM over ≤ 2·|labels| cells; top-10 ordering carries the
    dim tiebreak. The zero-count guard is structural: every (label,
    sign) margin pair appears via the rows×cols grid with o=0 where
    absent (expected > 0 whenever both margins are > 0 — and a margin
    of 0 cannot appear in rows_/cols_ at all).

    Scale: one flat pass, map-side combined into 64·|labels|·2 cells —
    every later frame is cell-bounded, never corpus-bounded; the whole
    screen is a single data-scale shuffle-free aggregation."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select(
        "label",
        "dim",
        F.when(F.col("vf").cast("double") >= 0, 1).otherwise(0).alias("s"),
    )
    cells = flat.groupBy("dim", "label", "s").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_ = cells.groupBy("dim", "label").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_ = cells.groupBy("dim", "s").agg(
        F.sum("o").cast("long").alias("ct")
    )
    tot = cells.groupBy("dim").agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_.join(cols_, "dim")
        .join(tot, "dim")
        .join(cells, ["dim", "label", "s"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    chi = grid.select("dim", term.alias("term")).groupBy("dim").agg(
        dsum(F.col("term")).alias("chi2")
    )
    pos = cells.groupBy("dim").agg(
        F.sum(F.when(F.col("s") == 1, F.col("o")).otherwise(0))
        .cast("long")
        .alias("n_pos_sign")
    )
    return (
        chi.join(pos, "dim")
        .select(F.col("dim").cast("long").alias("dim"), "chi2", "n_pos_sign")
        .orderBy(F.desc("chi2"), "dim")
        .limit(10)
    )


# --- pairwise class-centroid separation --------------------------------------


@query(
    "embeddings_class_separation",
    oracle=f"""
    WITH flat AS (
      SELECT label, i AS dim,
             CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE)
                        * {_VSCALE}) AS BIGINT) AS fv
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) idx
    ),
    per AS (
      SELECT label, dim, CAST(SUM(fv) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM flat GROUP BY label, dim
    ),
    coord AS (
      SELECT label, dim,
             CAST(s AS DOUBLE) / {_VSCALE} / n AS c
      FROM per
    ),
    pair AS (
      SELECT a.label AS label_a, b.label AS label_b,
             {DSUM_SQL.format(expr="a.c * b.c")} AS dot,
             {DSUM_SQL.format(expr="a.c * a.c")} AS na2,
             {DSUM_SQL.format(expr="b.c * b.c")} AS nb2,
             {DSUM_SQL.format(
                 expr="(a.c - b.c) * (a.c - b.c)"
             )} AS d2
      FROM coord a JOIN coord b
        ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS INT) AS label_a,
           CAST(label_b AS INT) AS label_b,
           dot / (sqrt(na2) * sqrt(nb2)) AS cos_sim,
           sqrt(d2) AS l2_dist
    FROM pair ORDER BY label_a, label_b
    """,
)
def embeddings_class_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise class-centroid separation matrix: cosine similarity
    and L2 distance between every pair of label centroids — the
    separability readout that tells an embedding team WHICH classes an
    encoder confuses (the probe-AUC says how separable overall; this
    says where), and the margin audit behind contrastive-pair mining
    (sample_hard_negatives digs where this matrix is tightest).

    Determinism: centroid coordinates are exact-integer ratios
    (floor-scaled BIGINT sums — the sim_centroids convention); the
    64-term pair reductions are DSUMs of identical IEEE products; the
    final cosine/L2 are identical double expressions.

    Scale: ONE posexplode pass map-side combined into |labels|×64
    rows; the pair join and everything after run on that bounded
    centroid frame (|labels|²·64 terms), never corpus-sized."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select(
        "label",
        "dim",
        F.floor(F.col("vf").cast("double") * _VSCALE).cast("long").alias(
            "fv"
        ),
    )
    per = flat.groupBy("label", "dim").agg(
        F.sum("fv").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    coord = per.select(
        "label",
        "dim",
        (F.col("s").cast("double") / _VSCALE / F.col("n")).alias("c"),
    )
    a = coord.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = coord.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    pair = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            dsum(F.col("ca") * F.col("cb")).alias("dot"),
            dsum(F.col("ca") * F.col("ca")).alias("na2"),
            dsum(F.col("cb") * F.col("cb")).alias("nb2"),
            dsum(
                (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
            ).alias("d2"),
        )
    )
    return pair.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        (
            F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
        ).alias("cos_sim"),
        F.sqrt(F.col("d2")).alias("l2_dist"),
    ).orderBy("label_a", "label_b")
