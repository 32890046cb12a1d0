"""Round-11 widening batch: retrieval ranking quality (NDCG@10),
threshold-robust classification quality (MCC), corpus-duplication
pressure per document (duplicated-n-gram coverage), weighted priority
sampling (Duffield–Lund–Thorup), and bipartite HITS authorities —
each a one-or-two-shuffle aggregate shape that survives 100 TB
(broadcast eval frames, n-gram-key shuffles with map-side combine,
bounded top-k), each oracle-paired under the registry's determinism
conventions (integer-scaled discounts instead of transcendentals,
BIGINT counts, total orderings, IEEE single-op divisions).

Not in the reference (no ranking/sampling surface — SURVEY.md §2.1);
extends the §2.3 LLM-pipeline mandate (eval metrics, corpus quality
signals, training-data sampling).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..ckpt import checkpoint
from ..registry import query
from ..tables import load
from .similarity import DIM, DOT_SQL, NORM_SQL
from .vecmath import dot, norm
from .vector_stats import PROBE_SCORED_CTES

# --- NDCG@10 over the shared retrieval-eval frame ---------------------------

_NDCG_K = 10
_N_QUERIES = 20  # the pipeline11 retrieval-eval query set: vec_id < 20

# log2 discounts as INTEGER literals (floor(1e9 / log2(rank + 1))),
# precomputed once in Python and embedded verbatim in BOTH engines —
# the registry's no-transcendentals rule for cross-engine hashing.
# _IDCG_CUM[i] = sum of the first i+1 discounts (the ideal DCG for
# i+1 relevant results in the top-k).
_DISC = [int(1e9 / math.log2(r + 1)) for r in range(1, _NDCG_K + 1)]
_IDCG_CUM = [sum(_DISC[: i + 1]) for i in range(_NDCG_K)]

_COS_QC = (
    f"{DOT_SQL.format(dim=DIM, a='q.qv', b='c.embedding')}"
    f" / ({NORM_SQL.format(dim=DIM, a='q.qv')}"
    f" * {NORM_SQL.format(dim=DIM, a='c.embedding')})"
)

_DISC_SQL = "[" + ", ".join(str(d) for d in _DISC) + "]"
_IDCG_SQL = "[" + ", ".join(str(c) for c in _IDCG_CUM) + "]"


@query(
    "ml_ndcg_at_k",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(label AS INT) AS qlabel, embedding AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    corpus AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding
      FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, q.qlabel, c.label,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid ORDER BY {_COS_QC} DESC, c.vec_id) AS rn
      FROM q JOIN corpus c ON TRUE
    ),
    per_q AS (
      SELECT qid,
             CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN label = qlabel AND rn <= {_NDCG_K}
                           THEN {_DISC_SQL}[rn] ELSE 0 END)
                  AS BIGINT) AS dcg_x1e9
      FROM scored GROUP BY qid
    )
    SELECT qid AS query_id, n_rel, dcg_x1e9,
           CASE WHEN n_rel = 0 THEN CAST(0 AS BIGINT)
                ELSE {_IDCG_SQL}[LEAST(n_rel, {_NDCG_K})] END
             AS idcg_x1e9,
           CASE WHEN n_rel = 0 THEN 0.0
                ELSE CAST(dcg_x1e9 AS DOUBLE)
                     / {_IDCG_SQL}[LEAST(n_rel, {_NDCG_K})] END AS ndcg
    FROM per_q ORDER BY query_id
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the embedding space as a retrieval index: each of the
    first 20 vectors queries the rest of the corpus under the exact
    cosine ranking (the ml_retrieval_mrr eval frame); gain is binary
    same-label relevance, the position discount is 1/log2(rank+1), and
    the score normalizes by the ideal DCG for that query's relevant
    count — the graded-ranking companion to MRR (first hit only) and
    topk-accuracy (set membership only): NDCG rewards putting EVERY
    relevant result early.

    Determinism: the log2 discounts are integer literals precomputed
    once (floor(1e9/log2(r+1))) and embedded identically in both
    engines — no transcendental is ever evaluated at query time; DCG
    and IDCG are exact BIGINT sums; ndcg is one IEEE division.
    Queries with no relevant corpus member report 0 (stated
    identically in both engines).

    Scale: the 20-query eval frame broadcasts; scoring is map-side
    over the corpus; one per-query rank window and a 20-row rollup.
    At production scale the exact ranking swaps for the gated ANN
    shortlists (sim_topk_adaptive et al.) in the same pipeline shape."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").cast("int").alias("qlabel"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("nq"),
    )
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        norm(F.col("embedding")).alias("nc"),
    )
    cosine = dot(F.col("qv"), F.col("embedding")) / (
        F.col("nq") * F.col("nc")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "qid",
        "qlabel",
        "label",
        "vec_id",
        cosine.alias("cosine"),
    )
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    )
    disc = F.array(*[F.lit(d) for d in _DISC])
    idcg = F.array(*[F.lit(c) for c in _IDCG_CUM])
    rel = F.col("label") == F.col("qlabel")
    per_q = (
        scored.withColumn("rn", rn)
        .groupBy("qid")
        .agg(
            F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_rel"),
            F.sum(
                F.when(
                    rel & (F.col("rn") <= _NDCG_K),
                    F.element_at(disc, F.col("rn").cast("int")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dcg_x1e9"),
        )
    )
    idcg_col = F.when(F.col("n_rel") == 0, F.lit(0).cast("long")).otherwise(
        F.element_at(
            idcg, F.least(F.col("n_rel"), F.lit(_NDCG_K)).cast("int")
        ).cast("long")
    )
    return (
        per_q.withColumn("idcg_x1e9", idcg_col)
        .select(
            F.col("qid").alias("query_id"),
            "n_rel",
            "dcg_x1e9",
            "idcg_x1e9",
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(
                F.col("dcg_x1e9").cast("double") / F.col("idcg_x1e9")
            )
            .alias("ndcg"),
        )
        .orderBy("query_id")
    )


# --- MCC at the shared top-p% operating points ------------------------------

_PCTS = (10, 25, 50)  # the ml_confusion_thresholds operating points


@query(
    "ml_mcc_at_thresholds",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rn,
             COUNT(*) OVER () AS n
      FROM scored
    ),
    pts AS (SELECT unnest([{", ".join(str(p) for p in _PCTS)}]) AS pct),
    cells AS (
      SELECT CAST(pct AS BIGINT) AS pct,
             CAST(SUM(CASE WHEN rn <= (n * pct) // 100
                            AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN rn <= (n * pct) // 100
                            AND label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN rn > (n * pct) // 100
                            AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN rn > (n * pct) // 100
                            AND label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM ranked CROSS JOIN pts
      GROUP BY 1
    )
    SELECT pct, tp, fp, fn, tn,
           CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
                  OR (tn + fp) = 0 OR (tn + fn) = 0 THEN 0.0
                ELSE (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                     / sqrt(((CAST(tp + fp AS DOUBLE) * (tp + fn))
                             * (tn + fp)) * (tn + fn))
           END AS mcc
    FROM cells ORDER BY pct
    """,
)
def ml_mcc_at_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the linear probe at the
    three top-p%% operating points ml_confusion_thresholds reports
    (predict positive = score rank within the top 10/25/50%%): MCC is
    the single confusion-matrix summary that stays honest under class
    imbalance (precision/recall/F1 all inflate when one class
    dominates — the usual state of a data-quality gate where most
    documents pass). MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)),
    0 when any margin is empty (the degenerate all-one-class split,
    stated identically in both engines).

    Determinism: the ranked frame is the shared total (score DESC,
    vec_id) order; cells are exact BIGINTs; the MCC arithmetic is a
    fixed sequence of IEEE double ops (products left-to-right, one
    sqrt — sqrt is a correctly-rounded IEEE-754 operation, not a
    transcendental) written in the same association order in both
    engines, so the doubles agree bit-for-bit even where the BIGINT
    product (~n⁴) would overflow.

    Scale: one global score sort shared with the AUC/threshold
    family, a 3× map-side replicated conditional aggregate, 3 output
    rows."""
    from .vector_stats import probe_scores

    scored = probe_scores(spark, sf_dir)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = scored.select(
        "label",
        F.row_number().over(W.orderBy(F.desc("score"), "vec_id")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    pts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _PCTS])).alias("pct")
    )
    sel = F.col("rn") <= F.expr("n * pct div 100")
    pos = F.col("label") == 0
    cells = (
        ranked.crossJoin(F.broadcast(pts))
        .groupBy(F.col("pct").cast("long").alias("pct"))
        .agg(
            F.sum(F.when(sel & pos, 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(sel & ~pos, 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(~sel & pos, 1).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(~sel & ~pos, 1).otherwise(0)).cast("long").alias("tn"),
        )
    )
    degenerate = (
        ((F.col("tp") + F.col("fp")) == 0)
        | ((F.col("tp") + F.col("fn")) == 0)
        | ((F.col("tn") + F.col("fp")) == 0)
        | ((F.col("tn") + F.col("fn")) == 0)
    )
    mcc = (
        F.col("tp").cast("double") * F.col("tn")
        - F.col("fp").cast("double") * F.col("fn")
    ) / F.sqrt(
        (
            (F.col("tp") + F.col("fp")).cast("double")
            * (F.col("tp") + F.col("fn"))
            * (F.col("tn") + F.col("fp"))
        )
        * (F.col("tn") + F.col("fn"))
    )
    return (
        cells.select(
            "pct",
            "tp",
            "fp",
            "fn",
            "tn",
            F.when(degenerate, F.lit(0.0)).otherwise(mcc).alias("mcc"),
        ).orderBy("pct")
    )


# --- duplicated-n-gram coverage per document --------------------------------

_DUP_N = 5  # n-gram width (word 5-grams — the boilerplate/dup signal)


@query(
    "text_dup_ngram_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ng AS (
      SELECT doc_id,
             t[u.i + 1] || ' ' || t[u.i + 2] || ' ' || t[u.i + 3]
               || ' ' || t[u.i + 4] || ' ' || t[u.i + 5] AS g
      FROM tok, LATERAL (
        SELECT unnest(range(len(t) - {_DUP_N - 1})) AS i
      ) u
      WHERE len(t) >= {_DUP_N}
    ),
    shared AS (
      SELECT g FROM ng GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT ng.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup
      FROM ng LEFT JOIN shared s ON s.g = ng.g
      GROUP BY ng.doc_id
    )
    SELECT doc_id, n_grams, n_dup,
           CAST(1000000 * n_dup // n_grams AS BIGINT) AS dup_ppm
    FROM per_doc ORDER BY doc_id
    """,
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-n-gram coverage: the fraction of a
    document's word 5-gram positions whose 5-gram also appears in at
    least one OTHER document — the within-corpus duplication-pressure
    signal the web-scale curation recipes (C4/RefinedWeb-style) filter
    on: high coverage flags boilerplate and templated near-dups that
    whole-document dedup (exact or MinHash) misses because the
    surrounding text differs. Documents shorter than 5 tokens emit no
    rows (no 5-gram positions — both engines agree by construction).

    Determinism: exact BIGINT counts; coverage is floor-divided ppm;
    grams join the raw-split token convention of the text family.

    Scale: one n-gram pass (map-side transform+explode), one gram-key
    distinct-doc rollup (map-side partial counts; the shared set is
    vocab-bounded, not position-bounded), ONE gram-key left join back,
    and a per-doc map-side-combinable rollup — the exact-dedup
    fingerprint shape, never a doc×doc comparison. A hot boilerplate
    gram concentrates its join fan-in on one key; at 100 TB the join
    rides AQE skew splitting (the gram key is high-cardinality, so
    residual skew is bounded by the most-copied template)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    ng = tok.filter(F.size("t") >= _DUP_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_DUP_N - 1}), j -> "
                "concat_ws(' ', t[j-1], t[j], t[j+1], t[j+2], t[j+3]))"
            )
        ).alias("g"),
    )
    shared = (
        ng.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        ng.join(shared, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup",
        F.expr("1000000 * n_dup div n_grams").cast("long").alias("dup_ppm"),
    ).orderBy("doc_id")


# --- weighted priority sampling (Duffield–Lund–Thorup) ----------------------

_PPS_K = 50
_PPS_SEED = "pps-r11"
_HEX15 = float(16**15)  # md5-prefix key space (the dedup.py convention)


@query(
    "sample_priority_pps",
    oracle=f"""
    WITH pri AS (
      SELECT o_orderkey, o_totalprice AS weight,
             (o_totalprice * {_HEX15!r})
               / (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                       || ':{_PPS_SEED}'), 1, 15)) AS BIGINT) + 1)
               AS priority
      FROM orders
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY priority DESC, o_orderkey) AS rn
      FROM pri
    ),
    tau AS (
      SELECT MAX(CASE WHEN rn = {_PPS_K + 1} THEN priority END) AS tau
      FROM ranked
    )
    SELECT r.o_orderkey, r.weight, r.priority,
           CASE WHEN t.tau IS NULL THEN r.weight
                WHEN r.weight > t.tau THEN r.weight ELSE t.tau END
             AS est_weight
    FROM ranked r CROSS JOIN tau t
    WHERE r.rn <= {_PPS_K}
    ORDER BY r.o_orderkey
    """,
)
def sample_priority_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sample of orders (Duffield–Lund–Thorup,
    JACM 2007): each row gets priority w/u with u a deterministic
    uniform from the row key, and the k=50 highest-priority rows are
    the sample. est_weight = max(w, τ) with τ the (k+1)-th priority is
    the DLT estimator — Σ est_weight over the sample is an unbiased,
    provably near-variance-optimal estimate of Σ w over the
    population, which is what makes this the production sampler for
    weighted subset-sum questions (revenue by any downstream slice)
    instead of ad-hoc top-k-by-weight. The training-data use: sample
    documents proportional to quality/length weights while keeping
    reweighting exact.

    Determinism: u = (md5-prefix(key:seed) + 1)/16^15 — the dedup.py
    hash-to-int convention, identical literals in both engines;
    priority = (w · 16^15)/(h + 1) is two IEEE double ops in the same
    association order; the sample set is total-ordered by
    (priority DESC, o_orderkey).

    Scale: priority is a map-side expression; the top-(k+1) selection
    is an ORDER BY + LIMIT, which Spark compiles to
    TakeOrderedAndProject (each partition keeps k+1 rows, the driver
    merges — NO global sort ever materializes; plan-asserted in
    tests); the rank window and τ then run over the 51-row frame."""
    orders = load(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(f":{_PPS_SEED}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    pri = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("weight"),
        (
            (F.col("o_totalprice") * F.lit(_HEX15))
            / (h + F.lit(1)).cast("double")
        ).alias("priority"),
    )
    top = pri.orderBy(F.desc("priority"), "o_orderkey").limit(_PPS_K + 1)
    ranked = top.withColumn(
        "rn",
        F.row_number().over(W.orderBy(F.desc("priority"), "o_orderkey")),
    )
    tau = ranked.filter(F.col("rn") == _PPS_K + 1).select(
        F.col("priority").alias("tau")
    )
    return (
        ranked.filter(F.col("rn") <= _PPS_K)
        .join(F.broadcast(tau), F.lit(True), "left")
        .select(
            "o_orderkey",
            "weight",
            "priority",
            F.when(F.col("tau").isNull(), F.col("weight"))
            .when(F.col("weight") > F.col("tau"), F.col("weight"))
            .otherwise(F.col("tau"))
            .alias("est_weight"),
        )
        .orderBy("o_orderkey")
    )


# --- bipartite HITS authorities ---------------------------------------------

_HITS_TOP = 20


@query(
    "graph_hits_authorities",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY part
    ),
    h1 AS (
      SELECT e.cust, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM edges e JOIN a1 ON a1.part = e.part GROUP BY e.cust
    ),
    a2 AS (
      SELECT e.part, CAST(SUM(h1.h) AS BIGINT) AS auth2
      FROM edges e JOIN h1 ON h1.cust = e.cust GROUP BY e.part
    )
    SELECT a2.part AS partkey, a1.a AS auth1, a2.auth2
    FROM a2 JOIN a1 ON a1.part = a2.part
    ORDER BY a2.auth2 DESC, a2.part LIMIT {_HITS_TOP}
    """,
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS iterations on the customer→part purchase bipartite
    graph (Kleinberg's hubs-and-authorities, unnormalized integer
    form): authority¹ = in-degree, hub¹(cust) = Σ authority¹ over the
    customer's parts, authority²(part) = Σ hub¹ over its buyers — the
    top-20 second-iteration authorities are the parts favored by
    BROAD-taste customers, which first-iteration popularity (raw
    degree, cf. graph_avg_neighbor_degree) cannot distinguish.
    Normalization constants cancel under ranking, so the scores stay
    exact BIGINTs (at web scale each iteration rescales by Σscore to
    stay in range — a 1-row broadcast, same plan).

    Determinism: exact integer sums; total (auth2 DESC, part) order on
    the limit.

    Scale: the edge list is ONE orders⋈lineitem join + distinct,
    materialized once (localCheckpoint — the triangle_corners /
    jaccard precedent, so this query executes its edge extraction at
    construction): FOUR consumers read it (a1, h1, a2, and the final
    a2⋈a1 re-probe of a1), and without the checkpoint each consumer
    replays the orders⋈lineitem shuffle + distinct — the r11 VERDICT's
    battery16 edge-rescan finding (3.7× at 10×; re-measured in SCALE.md
    §round-12 after this fix). Each HITS iteration is then one
    co-partitioned hash join against an already-aggregated (key, score)
    frame — score frames are vertex-bounded, never edge-bounded; the
    final top-20 is TakeOrdered. Iterations are a fixed constant (2),
    not a convergence loop — matching the eager pagerank's per-round
    materialization discipline."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    # 4 consumers (see docstring)
    edges = checkpoint(orders.join(li, "ok").select("cust", "part").distinct())
    a1 = edges.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        edges.join(a1, "part")
        .groupBy("cust")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        edges.join(h1, "cust")
        .groupBy("part")
        .agg(F.sum("h").cast("long").alias("auth2"))
    )
    return (
        a2.join(a1, "part")
        .select(
            F.col("part").alias("partkey"),
            F.col("a").alias("auth1"),
            "auth2",
        )
        .orderBy(F.desc("auth2"), "partkey")
        .limit(_HITS_TOP)
    )
