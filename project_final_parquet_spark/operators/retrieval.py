"""Hybrid retrieval composition: reciprocal-rank fusion of lexical
(BM25) and semantic (embedding-cosine) rankings, and MMR diversity
re-ranking of an exact shortlist.

These are the two post-first-stage operators every production RAG /
retrieval pipeline runs on top of the index + ANN primitives this repo
already proves (text_bm25_rank, sim_topk_cosine and the quantized ANN
family): fuse heterogeneous rankings, then diversify the final slate.

Scale (100 TB):
- RRF fuses SHORTLISTS, not full rankings: each side is a
  TakeOrderedAndProject top-N (k rows per partition before the final
  merge), so the only unpartitioned window runs over N=50 rows. The
  fusion join is shortlist×shortlist — driver-negligible at any corpus
  size.
- MMR's corpus-scale step is the exact top-m shortlist (same
  TakeOrdered shape); the greedy re-rank is O(k·m²) over m=24 rows —
  per-query constant work. Shortlist + pair-sims are localCheckpointed
  once (this query executes at construction, like the other iterative
  queries — registry docstring contract note); each greedy step is a
  plan over those tiny materialized frames. The deliberate
  BroadcastNestedLoopJoin building the m×m sim matrix is bounded by
  the shortlist, never the corpus.

Determinism: ranks are integers from total orderings (score DESC, id
ASC); RRF adds two exact double divisions 1/(60+rank); MMR uses
λ=0.75 / (1-λ)=0.25 — both exact binary doubles — and relevance /
pair-similarities come from the same left fold (``vecmath.dot``) that
DuckDB's list fold reproduces bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ckpt import checkpoint, release
from ..registry import query
from ..tables import load
from .similarity import _DIM, _DOT_SQL, _NORM_SQL
from .text_index import BM25_BYDOC_SQL, BM25_SCORED_CTES, bm25_doc_scores
from .vecmath import dot, norm

_RRF_K = 60  # the standard RRF damping constant
_RRF_N = 50  # per-retriever shortlist depth
_RRF_OUT = 15

_COS_SQL = (
    f"{_DOT_SQL.format(dim=_DIM, a='e.embedding', b='q.qv')}"
    f" / ({_NORM_SQL.format(dim=_DIM, a='e.embedding')}"
    f" * {_NORM_SQL.format(dim=_DIM, a='q.qv')})"
)


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH {BM25_SCORED_CTES},
    bydoc AS ({BM25_BYDOC_SQL}),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rank_lex
      FROM bydoc WHERE doc_id <> 0
      ORDER BY score DESC, doc_id LIMIT {_RRF_N}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosd AS (
      SELECT e.vec_id AS doc_id, {_COS_SQL} AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                  AS BIGINT) AS rank_sem
      FROM cosd
      ORDER BY cosine DESC, doc_id LIMIT {_RRF_N}
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           COALESCE(l.rank_lex, 0) AS rank_lex,
           COALESCE(s.rank_sem, 0) AS rank_sem,
           COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + s.rank_sem), 0.0) AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT {_RRF_OUT}
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 top-50 and the cosine top-50
    against the shared query (terms {join, hash, vector}; vector
    vec_id=0): rrf = Σ 1/(60+rank), absent-from-shortlist contributes 0
    (rank reported as 0). Each shortlist is a scalable TakeOrdered; the
    row_number windows run over the 50-row shortlists only."""
    lex = (
        bm25_doc_scores(spark, sf_dir)
        .filter(F.col("doc_id") != 0)
        .orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_N)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("score"), "doc_id"))
            .cast("long")
            .alias("rank_lex"),
        )
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    cosine = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    sem = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_RRF_N)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("cosine"), "doc_id"))
            .cast("long")
            .alias("rank_sem"),
        )
    )

    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_sem")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).alias("rank_sem"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_OUT)
    )


# --- MMR diversification ----------------------------------------------------

_MMR_M = 24  # exact shortlist depth (first stage)
_MMR_K = 8  # diversified slate size
# λ=0.75: both λ and 1-λ are exact binary doubles, so the MMR score
# arithmetic is bit-identical across engines with no cast ceremony.
_LAM = "0.75"
_ONE_MINUS_LAM = "0.25"


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs (step i picks the argmax of
    λ·rel − (1−λ)·max-sim-to-picked over the not-yet-picked shortlist;
    ties break on vec_id). Generated programmatically so the SQL stays
    in lockstep with the Spark loop."""
    pair_cos = (
        f"{_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}"
        f" / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}"
        f" * {_NORM_SQL.format(dim=_DIM, a='b.embedding')})"
    )
    ctes = [
        f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sl AS MATERIALIZED (
      SELECT e.vec_id, {_COS_SQL} AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT {_MMR_M}
    ),
    slemb AS MATERIALIZED (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN sl ON e.vec_id = sl.vec_id
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, {pair_cos} AS sim
      FROM slemb a JOIN slemb b ON a.vec_id <> b.vec_id
    ),
    p1 AS MATERIALIZED (
      SELECT vec_id, {_LAM} * rel AS mmr_score FROM sl
      ORDER BY mmr_score DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, _MMR_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM p{j}" for j in range(1, i)
        )
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT s.vec_id,
             {_LAM} * s.rel - {_ONE_MINUS_LAM} * (
               SELECT MAX(p.sim) FROM pairs p
               WHERE p.va = s.vec_id AND p.vb IN ({picked})
             ) AS mmr_score
      FROM sl s
      WHERE s.vec_id NOT IN ({picked})
      ORDER BY mmr_score DESC, s.vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS pick_order, vec_id, mmr_score FROM p{i}"
        for i in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n{finals}\nORDER BY pick_order"
    )


@query("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: exact cosine top-24
    shortlist vs the vec_id=0 query, then greedy k=8 picks maximizing
    0.75·rel − 0.25·max-sim-to-selected (tie → lower vec_id). The
    corpus-scale step is the TakeOrdered shortlist; the greedy runs
    DRIVER-SIDE over the collected m=24-row shortlist (executes at
    construction — see the registry driver-side-state contract note,
    the ml_kmeans centroid precedent): the shortlist is CONSTANT-sized
    at any corpus scale, and the old per-pick Spark loop was pure job
    latency — measured 10.0 s / 44 jobs at sf0.1 vs ~1 s for the same
    arithmetic in the driver (optimization r13, guide §1.2 step 1:
    7×3 scheduled jobs over 24-row frames was the wrong distributed
    algorithm for a constant-size greedy). Bit-equality is preserved:
    the Python greedy replays the identical IEEE left-fold dot /
    norm / 0.75·rel − 0.25·maxsim arithmetic (Python floats ARE IEEE
    binary64, each op correctly rounded exactly like the JVM), and the
    oracle twin is untouched — the gate hash-checks it."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("nq")
    )
    rel = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    sl_rows = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_M)
        .collect()
    )
    picked = _driver_mmr(sl_rows, _MMR_K)
    return spark.createDataFrame(
        picked, "pick_order long, vec_id long, mmr_score double"
    ).orderBy("pick_order")


def _driver_mmr(sl_rows, k: int) -> list[tuple[int, int, float]]:
    """Greedy MMR over a collected constant-size shortlist — the exact
    IEEE arithmetic of the old per-pick Spark loop (left-fold dot,
    correctly-rounded sqrt/mul/sub, max over picked sims, tie → lower
    vec_id), replayed in the driver. Rows carry (vec_id, embedding,
    rel)."""
    import math

    ids = [r["vec_id"] for r in sl_rows]
    rels = {r["vec_id"]: r["rel"] for r in sl_rows}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in sl_rows}

    def _pydot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y  # the vecmath.dot left fold
        return acc

    norms = {v: math.sqrt(_pydot(vecs[v], vecs[v])) for v in ids}
    sims = {
        (va, vb): _pydot(vecs[va], vecs[vb]) / (norms[va] * norms[vb])
        for va in ids
        for vb in ids
        if va != vb
    }

    lam, oml = float(_LAM), float(_ONE_MINUS_LAM)
    picked: list[tuple[int, int, float]] = []  # (pick_order, vec_id, score)
    picked_ids: list[int] = []
    for i in range(1, k + 1):
        best = None
        for v in ids:
            if v in picked_ids:
                continue
            if i == 1:
                score = lam * rels[v]
            else:
                score = lam * rels[v] - oml * max(
                    sims[(v, p)] for p in picked_ids
                )
            # tie → lower vec_id (the ORDER BY mmr_score DESC, vec_id)
            if best is None or score > best[1] or (
                score == best[1] and v < best[0]
            ):
                best = (v, score)
        if best is None:
            break
        picked.append((i, best[0], best[1]))
        picked_ids.append(best[0])
    return picked


# --- k-center coreset selection ---------------------------------------------

_KC_K = 8  # coreset size (seed + 7 greedy farthest-point picks)


def _kc_dist_sql(m: str, p: str) -> str:
    """Cosine distance 1 - dot/(norm·norm) with PRE-HOISTED norms (nv
    carried on both frames — the same fold both engines run)."""
    return (
        f"1 - {_DOT_SQL.format(dim=_DIM, a=f'{m}.embedding', b=f'{p}.embedding')}"
        f" / ({m}.nv * {p}.nv)"
    )


def _kcenter_oracle() -> str:
    """Greedy farthest-point unrolled as MATERIALIZED chained CTEs (the
    sim_mmr_diversify lesson: inlined, each round re-expands the whole
    prefix exponentially)."""
    norm = _NORM_SQL.format(dim=_DIM, a="embedding")
    ctes = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {norm} AS nv"
        "  FROM embeddings)",
        "p1 AS MATERIALIZED (SELECT vec_id, embedding, nv FROM n"
        "  WHERE vec_id = 0)",
        f"m1 AS MATERIALIZED (SELECT m.vec_id, m.embedding, m.nv,"
        f"  {_kc_dist_sql('m', 'p')} AS mind"
        "  FROM n m, p1 p WHERE m.vec_id <> 0)",
    ]
    for i in range(2, _KC_K + 1):
        prev = f"m{i - 1}"
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT * FROM {prev}"
            f"  ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < _KC_K:
            ctes.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.embedding,"
                f"  m.nv, LEAST(m.mind, {_kc_dist_sql('m', 'p')}) AS mind"
                f"  FROM {prev} m, p{i} p WHERE m.vec_id <> p.vec_id)"
            )
    selects = [
        "SELECT CAST(1 AS BIGINT) AS pick_order,"
        " CAST(0 AS BIGINT) AS vec_id, CAST(0.0 AS DOUBLE) AS radius"
    ] + [
        f"SELECT CAST({i} AS BIGINT), CAST(vec_id AS BIGINT), mind"
        f" FROM p{i}"
        for i in range(2, _KC_K + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY pick_order"
    )


@query("sample_kcenter_coreset", oracle=_kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center coreset selection over the embedding corpus: greedy
    farthest-point traversal (seed vec_id=0, then 7 picks, each the
    vector MAXIMIZING its min cosine distance to everything selected;
    ties → lower vec_id). The emitted radius sequence is the coverage
    radius after each pick — the classic data-pruning diagnostic
    (coreset selection keeps the most-spread examples; the 2-approx
    guarantee of greedy k-center is why every curation stack uses it).
    Extends the sampling family (sample_*) with the geometry-aware
    selector the random/stratified samplers can't express.

    Each round is ONE corpus-wide aggregate: the running min-distance
    frame carries (vec_id, mind), the new pick broadcasts (1 row with
    its pre-hoisted norm), and the update is LEAST(mind, dist-to-pick)
    — O(k·N·dim) total work, no pairwise matrix anywhere. The running
    frame is localCheckpointed per round (the registry
    iterative-query contract — executes at construction); at cluster
    scale the same loop runs with checkpoint() and the argmax is a
    TakeOrdered(1). The oracle unrolls the identical greedy as
    MATERIALIZED chained CTEs (the sim_mmr_diversify lesson)."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nv"))
    seed = n.filter(F.col("vec_id") == 0)

    def dist_to_row(pick_row):
        # the picked vector re-enters the plan as LITERALS (its exact
        # collected doubles — optimization r13): the old shape
        # checkpointed the 1-row pick and broadcast-joined it into the
        # corpus frame, paying a checkpoint job + broadcast exchange +
        # anti-join per round; a TakeOrdered(1).first() collect of the
        # constant-size pick plus a literal-array distance and a
        # vec_id != literal filter computes the identical IEEE values
        # with NO join anywhere in the loop (31 -> ~17 jobs).
        pe = F.array(*[F.lit(float(x)) for x in pick_row["embedding"]])
        pn = F.lit(float(pick_row["nv"]))
        return 1 - dot(F.col("embedding"), pe) / (F.col("nv") * pn)

    seed_row = seed.first()
    if seed_row is None:  # degenerate slice without the seed vector
        return spark.createDataFrame(
            [], "pick_order long, vec_id long, radius double"
        )
    # m is CORPUS-sized (vec_id, embedding, nv, mind) — each round's
    # checkpoint supersedes the previous one, so release as we go and
    # free the last one after the final pick; the returned frame is
    # built from the driver-collected constant-size pick rows
    m = checkpoint(
        n.filter(F.col("vec_id") != 0).select(
            "vec_id", "embedding", "nv", dist_to_row(seed_row).alias("mind")
        )
    )
    picks = [(1, int(seed_row["vec_id"]), 0.0)]
    for i in range(2, _KC_K + 1):
        pick_row = m.orderBy(F.desc("mind"), "vec_id").limit(1).first()
        if pick_row is None:  # fewer vectors than picks
            break
        picks.append((i, int(pick_row["vec_id"]), float(pick_row["mind"])))
        if i < _KC_K:
            prev_m = m
            m = checkpoint(
                m.filter(F.col("vec_id") != int(pick_row["vec_id"])).select(
                    "vec_id",
                    "embedding",
                    "nv",
                    F.least(
                        F.col("mind"), dist_to_row(pick_row)
                    ).alias("mind"),
                )
            )
            release(prev_m)
    release(m)
    return spark.createDataFrame(
        picks, "pick_order long, vec_id long, radius double"
    ).orderBy("pick_order")


# --- end-to-end RAG retrieval flagship --------------------------------------

_RAG_OUT = 5  # final diversified slate


def _rag_oracle() -> str:
    """RRF fusion CTEs (verbatim from sim_hybrid_rrf) + unrolled greedy
    MMR over the fused top-15 — generated programmatically so the SQL
    stays in lockstep with the Spark composition.

    The MMR slate (``sl``) is EXPLICITLY restricted to fused docs that
    have an embedding row, matching the Spark side's inner join: MMR
    needs a vector to diversify against, and lexical-only BM25 hits
    (documents outnumber embeddings in this corpus) have none. Without
    the join here the two engines diverge silently — the oracle would
    keep embedding-less docs eligible for pick 1 via a NULL max-sim
    while Spark cannot pick them at all (round-7 ADVICE fix)."""
    pair_cos = (
        f"{_DOT_SQL.format(dim=_DIM, a='a.embedding', b='b.embedding')}"
        f" / ({_NORM_SQL.format(dim=_DIM, a='a.embedding')}"
        f" * {_NORM_SQL.format(dim=_DIM, a='b.embedding')})"
    )
    ctes = [
        f"""{BM25_SCORED_CTES},
    bydoc AS ({BM25_BYDOC_SQL}),
    lex AS MATERIALIZED (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rank_lex
      FROM bydoc WHERE doc_id <> 0
      ORDER BY score DESC, doc_id LIMIT {_RRF_N}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosd AS (
      SELECT e.vec_id AS doc_id, {_COS_SQL} AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    sem AS MATERIALIZED (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                  AS BIGINT) AS rank_sem
      FROM cosd
      ORDER BY cosine DESC, doc_id LIMIT {_RRF_N}
    ),
    fused AS MATERIALIZED (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + s.rank_sem), 0.0) AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
      ORDER BY rrf_score DESC, COALESCE(l.doc_id, s.doc_id)
      LIMIT {_RRF_OUT}
    ),
    sl AS MATERIALIZED (
      SELECT f.doc_id AS vec_id, f.rrf_score * 30.0 AS rel
      FROM fused f JOIN embeddings e ON e.vec_id = f.doc_id
    ),
    slemb AS MATERIALIZED (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN sl ON e.vec_id = sl.vec_id
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, {pair_cos} AS sim
      FROM slemb a JOIN slemb b ON a.vec_id <> b.vec_id
    ),
    p1 AS MATERIALIZED (
      SELECT vec_id, {_LAM} * rel AS mmr_score FROM sl
      ORDER BY mmr_score DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, _RAG_OUT + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM p{j}" for j in range(1, i)
        )
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT s.vec_id,
             {_LAM} * s.rel - {_ONE_MINUS_LAM} * (
               SELECT MAX(p.sim) FROM pairs p
               WHERE p.va = s.vec_id AND p.vb IN ({picked})
             ) AS mmr_score
      FROM sl s
      WHERE s.vec_id NOT IN ({picked})
      ORDER BY mmr_score DESC, s.vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS pick_order, vec_id AS doc_id,"
        f" mmr_score FROM p{i}"
        for i in range(1, _RAG_OUT + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n{finals}\nORDER BY pick_order"
    )


@query("pipeline_e2e_rag", oracle=_rag_oracle())
def pipeline_e2e_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval flagship: the full first-stage →
    fusion → diversification chain a production retrieval pipeline
    runs per query, composed from this repo's proven pieces — BM25
    lexical top-50 (text_bm25_rank's shared scorer) and exact cosine
    top-50 (sim_topk_cosine's fold) fused by reciprocal-rank fusion
    (sim_hybrid_rrf, k=60) into a top-15 slate, then greedy MMR
    (sim_mmr_diversify's loop, λ=0.75) re-ranks the slate to the final
    k=5 diversified picks. Relevance inside MMR is the fused score
    rescaled by 30 (an exact binary multiple) so both terms share a
    comparable range; similarity is pairwise cosine over the slate.

    Scale: both first stages are corpus-scale TakeOrdereds (the only
    big-data work); fusion and MMR run over 50/15-row frames. The
    fused slate + 15×15 sims are localCheckpointed once and the 5
    greedy steps are plans over those tiny frames (executes at
    construction — registry iterative-query contract). This is the
    second flagship composition next to pipeline_e2e_pretrain: it
    proves the retrieval primitives COMPOSE, not just pass in
    isolation.

    Determinism: integer ranks from total orderings, exact-double RRF
    and λ arithmetic, the shared fold for every dot/norm — identical
    in DuckDB's unrolled greedy (MATERIALIZED chained CTEs, as
    sim_mmr_diversify's oracle)."""
    emb = load(spark, sf_dir, "embeddings")
    # the MMR slate is the fused top-15 RESTRICTED to docs that have an
    # embedding row (lexical-only BM25 hits have no vector to diversify
    # against) — the oracle's sl CTE applies the same join explicitly.
    # ONE action runs the whole BM25+cosine+RRF chain and collects the
    # constant-size slate; the greedy runs driver-side (the
    # sim_mmr_diversify shape — was 46 scheduled jobs of 15-row frames,
    # optimization r13)
    sl_rows = (
        sim_hybrid_rrf(spark, sf_dir)
        .select(
            F.col("doc_id").alias("vec_id"),
            (F.col("rrf_score") * F.lit(30.0)).alias("rel"),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "rel", "embedding")
        .collect()
    )
    picked = _driver_mmr(sl_rows, _RAG_OUT)
    return spark.createDataFrame(
        picked, "pick_order long, doc_id long, mmr_score double"
    ).orderBy("pick_order")
