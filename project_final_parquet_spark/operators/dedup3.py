"""Semantic deduplication (SemDeDup-style): k-means cluster the
embedding space, then drop near-duplicates *within* each cluster by
exact cosine — the embedding-space analogue of MinHash-LSH dedup, and
the standard semantic-dedup recipe for LLM pretraining corpora
(Abbas et al., "SemDeDup", 2023 — public method).

Not in the reference (its surface is the encrypted-columnar demo,
SURVEY.md §2.1); this is part of the mandated LLM-pipeline extension
family alongside operators/dedup.py (token-space) and
operators/similarity.py (ANN retrieval).

Determinism discipline (same conventions as ml_kmeans / sim_centroids):
- clustering: one assignment pass against fixed seed centroids
  (embeddings vec_id < K) — squared-L2 summed as floor-scaled BIGINTs,
  argmin by integer compare with cluster-id tie-break. The production
  form would run ml_kmeans_converged first; a single deterministic pass
  keeps the cross-engine oracle exact while exercising the identical
  plan shape (broadcast centroids → map-side assignment, no shuffle).
- cosine: double-precision dot/norm folded in array order — the exact
  convention dedup_embedding_cosine already gates green with.
- drop rule: a vector is a duplicate iff some cluster-mate with a
  LOWER vec_id has cosine ≥ τ; its canonical is the lowest such mate.
  (SemDeDup keeps the vector closest to the centroid; seniority rank is
  the deterministic, join-free variant of that choice.)

Scale (100 TB): assignment is a broadcast of K×64 floats + one map-side
argmin — no shuffle. The pair join shuffles once on the cluster id; its
cost is Σ|cluster|², which is exactly the knob K controls (SemDeDup runs
K ≈ √N .. 100k so clusters stay ~10³). Skewed/oversized clusters get the
same tile-salting treatment as dedup_ngram_jaccard's hot blocks
(tests/test_tiled_blocks.py) — the bound is structural, not data-luck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .similarity import _DOT_SQL, _NORM_SQL
from .vecmath import norm, with_pair_cosine

_K = 16  # seed clusters (vec_id < _K); production: ml_kmeans_converged.
# SemDeDup's cost knob: the pair join is Σ|cluster|² ≈ N²/K, so K scales
# with √N (K=16 ≈ √(2000) at the bench SF; at 100 TB K is 10⁴-10⁵).
_DIM = 64
_DSCALE = 1_000_000_000_000  # (v-c)^2 ~ 1e-4 → integer-exact argmin
_TAU = 0.35  # intra-cluster cosine above which the junior vector drops


def _sq_dist_int(vec, cent):
    """Σ_d floor((v_d - c_d)² · S) as BIGINT — bit-deterministic
    cross-engine distance (ml_kmeans convention)."""
    return F.aggregate(
        F.zip_with(
            vec,
            cent,
            lambda x, c: F.floor(
                (x.cast("double") - c.cast("double"))
                * (x.cast("double") - c.cast("double"))
                * F.lit(float(_DSCALE))
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


_SQL_DIST = f"""list_aggregate(list_transform(range({_DIM}),
  d -> CAST(floor((CAST({{v}}[d+1] AS DOUBLE) - CAST({{c}}[d+1] AS DOUBLE))
       * (CAST({{v}}[d+1] AS DOUBLE) - CAST({{c}}[d+1] AS DOUBLE))
       * {_DSCALE}.0) AS BIGINT)), 'sum')"""

_SQL_COS = (
    _DOT_SQL.format(dim=_DIM, a="a.embedding", b="b.embedding")
    + f""" / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}
         * {_NORM_SQL.format(dim=_DIM, a='b.embedding')})"""
)


@query(
    "dedup_semantic",
    oracle=f"""
    WITH assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c0.vec_id AS cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_DIST.format(v='e.embedding',
                                            c='c0.embedding')},
                          c0.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {_K}) c0
      ) ranked WHERE rn = 1
    ),
    dup_pairs AS (
      SELECT b.vec_id AS vec_id, a.cid AS cluster,
             a.vec_id AS dup_of, {_SQL_COS} AS cosine
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_SQL_COS} >= {_TAU}
    )
    SELECT vec_id, cluster, dup_of, cosine FROM (
      SELECT vec_id, cluster, dup_of, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_of)
               AS rn
      FROM dup_pairs
    ) t WHERE rn = 1
    ORDER BY vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-scoped cosine near-dup removal. Returns the
    DROPPED vectors — (vec_id, cluster, dup_of, cosine) where dup_of is
    the lowest-id cluster-mate above τ (the survivor it duplicates);
    `anti-join this against the corpus` is the keep-side of the
    pipeline (same shape as dedup_exact → dedup_canonicalize)."""
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    # broadcast K centroids; map-side integer argmin — no shuffle
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cid",
        _sq_dist_int(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    # norm is a pure per-vector function — compute it ONCE here rather
    # than per candidate pair (the oracle recomputes it per pair; the
    # double value is identical, only the work is hoisted). At Σ|c|²
    # pairs this removes 2 of the 3 O(dim) folds from the hot join.
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "embedding",
            "cid",
            norm(F.col("embedding")).alias("nrm"),
        )
    )
    a = assign.select(
        F.col("vec_id").alias("dup_of"),
        F.col("embedding").alias("ea"),
        F.col("cid").alias("cluster"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("eb"),
        F.col("cid").alias("cid_b"),
        F.col("nrm").alias("nb"),
    )

    pairs = with_pair_cosine(
        a.join(
            b,
            (a.cluster == b.cid_b) & (F.col("dup_of") < F.col("vec_id")),
        ),
        keep=["vec_id", "cluster", "dup_of"],
    ).filter(F.col("cosine") >= _TAU)
    wb = Window.partitionBy("vec_id").orderBy("dup_of")
    return (
        pairs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster", "dup_of", "cosine")
        .orderBy("vec_id")
    )


# --- exact duplicated substrings (suffix-array-style span dedup) -------------

_SUB_K = 32  # window chars
_SUB_STRIDE = 8


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(1, greatest(1, length(text) - {_SUB_K - 1}),
                               {_SUB_STRIDE}),
               i -> substr(text, CAST(i AS INT), {_SUB_K}))) AS gram
      FROM documents
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT g.source,
           CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_windows,
           CAST(SUM(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_windows,
           CAST(COUNT(DISTINCT CASE WHEN dup.gram IS NOT NULL
                                    THEN g.doc_id END)
                AS BIGINT) AS docs_with_dup,
           CAST(SUM(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) / COUNT(*) AS dup_ratio
    FROM g LEFT JOIN dup ON g.gram = dup.gram
    GROUP BY g.source ORDER BY g.source
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING detection (the suffix-array dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): slide a 32-char window at
    stride 8 over every document, find windows whose exact text occurs
    in >= 2 distinct documents, and report the duplicated-span load per
    source (window counts, affected docs, ratio). Unlike MinHash (whole
    -doc similarity) this catches long verbatim spans embedded in
    otherwise-different documents — licence blocks, quoted articles,
    templated boilerplate — the spans a span-removal pass would cut.

    Scale: windows are one map-side explode (no pairwise compare
    anywhere); the per-gram document-frequency agg and the gram join
    shuffle on the gram key with map-side partials. At 100 TB the gram
    TEXT key (32 B) is replaced by its 64-bit rolling hash
    (text_rolling_hash is the in-repo primitive) and the DF table by a
    bloom/count-min prefilter, shrinking shuffle width ~4x with a
    one-in-2^64 collision risk per pair; the text key is kept here so
    the DuckDB oracle can replay the join exactly. Stride trades recall
    for cost exactly as in the paper (a stride-s scan catches any
    duplicated span >= K + s - 1 chars)."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length(text) - {_SUB_K - 1}),"
                f" {_SUB_STRIDE}), i -> substring(text, i, {_SUB_K}))"
            )
        ).alias("gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram", F.lit(1).alias("is_dup"))
    )
    marked = grams.join(dup, "gram", "left")
    agg = marked.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("total_windows"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
        .cast("long")
        .alias("dup_windows"),
        F.countDistinct(
            F.when(F.col("is_dup").isNotNull(), F.col("doc_id"))
        )
        .cast("long")
        .alias("docs_with_dup"),
    )
    return agg.withColumn(
        "dup_ratio", F.col("dup_windows") / F.col("total_windows")
    ).orderBy("source")


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH mk AS (SELECT MAX(doc_id) AS m FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(1, length(text) - {_SUB_K - 1}),
                               {_SUB_STRIDE}),
               i -> substr(text, CAST(i AS INT), {_SUB_K}))) AS gram
      FROM documents
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
    j AS (
      SELECT g.doc_id,
             CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
      FROM g JOIN f ON g.gram = f.gram
    )
    SELECT CAST(j.doc_id * 10 // ((SELECT m FROM mk) + 1) AS BIGINT)
             AS decile,
           CAST(COUNT(DISTINCT j.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_windows,
           CAST(SUM(novel) AS BIGINT) AS novel_windows,
           CAST(SUM(novel) AS BIGINT) / COUNT(*) AS novelty_ratio
    FROM j GROUP BY decile ORDER BY decile
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: treating doc_id as ingestion order, the
    fraction of each decile's 32-char windows whose gram text was NEVER
    seen in an earlier document (first-occurrence attribution via
    min(doc_id) per gram). The crawl-cutoff signal: when marginal
    novelty flattens, more ingestion buys duplication, not data — the
    measured counterpart of the dedup family's removal rates.

    Scale: shares the span-dedup gram machinery (one map-side explode,
    gram-key shuffles); the decile is a PURE MAP expression —
    doc_id*10 div (max+1) against one broadcast max — deliberately not
    ntile(), whose global ordered window would funnel the corpus
    through one task at 100 TB. First-occurrence via min-aggregate is
    order-free and restatement-stable: re-running after an append
    keeps every old gram's first doc."""
    docs = load(spark, sf_dir, "documents")
    mk = docs.agg(F.max("doc_id").alias("m"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length(text) - {_SUB_K - 1}),"
                f" {_SUB_STRIDE}), i -> substring(text, i, {_SUB_K}))"
            )
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = grams.join(first, "gram").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("first_doc"), 1)
        .otherwise(0)
        .alias("novel"),
    )
    agg = (
        j.crossJoin(F.broadcast(mk))
        .groupBy(
            F.expr("doc_id * 10 div (m + 1)").cast("long").alias("decile")
        )
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("total_windows"),
            F.sum("novel").cast("long").alias("novel_windows"),
        )
    )
    return agg.withColumn(
        "novelty_ratio", F.col("novel_windows") / F.col("total_windows")
    ).orderBy("decile")
