"""Round-8 analytics batch: retrieval/probe evaluation, link
prediction, audience overlap, lexical-richness curves, and repeat-
purchase lifecycle — each a one-or-two-shuffle aggregate shape that
survives 100 TB (bounded pair joins, map-side-combinable rollups,
broadcast singletons), each oracle-paired under the registry's
determinism conventions (decimal sums, BIGINT counts, total orderings,
no transcendentals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..ckpt import checkpoint
from ..registry import DAY_US, DSUM_SQL, HOUR_US, dsum, query
from ..tables import load
from .graph import copurchase_edges
from .similarity import DIM, DOT_SQL, NORM_SQL
from .vecmath import dot, norm
from .vector_stats import PROBE_SCORED_CTES, probe_scores

_N_QUERIES = 20  # retrieval-eval query set: vec_id < this

_COS = (
    f"{DOT_SQL.format(dim=DIM, a='q.qv', b='c.embedding')}"
    f" / ({NORM_SQL.format(dim=DIM, a='q.qv')}"
    f" * {NORM_SQL.format(dim=DIM, a='c.embedding')})"
)

# shared retrieval-eval CTEs: per-query rank of the first same-label
# corpus neighbor under the exact cosine ordering (ml_retrieval_mrr and
# ml_topk_accuracy read the same relation)
_HITS_CTES = f"""q AS (
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
               PARTITION BY q.qid ORDER BY {_COS} DESC, c.vec_id) AS rn
      FROM q JOIN corpus c ON TRUE
    ),
    hits AS (
      SELECT qid, CAST(MIN(rn) AS BIGINT) AS first_hit_rank
      FROM scored WHERE label = qlabel GROUP BY qid
    )"""


def _first_hit_ranks(spark: SparkSession, sf_dir: str):
    """Spark twin of _HITS_CTES: (query frame, per-query first-hit
    rank). The query set broadcasts; scoring is map-side; the rank is
    a window keyed by query id."""
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
        "qid", "qlabel", "label", "vec_id", cosine.alias("cosine")
    )
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    )
    hits = (
        scored.withColumn("rn", rn)
        .filter(F.col("label") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("rn").cast("long").alias("first_hit_rank"))
    )
    return q, hits


@query(
    "ml_retrieval_mrr",
    oracle=f"""
    WITH {_HITS_CTES}
    SELECT q.qid AS query_id, q.qlabel AS query_label,
           h.first_hit_rank,
           CAST(1.0 AS DOUBLE) / h.first_hit_rank AS rr
    FROM q LEFT JOIN hits h ON h.qid = q.qid
    ORDER BY query_id
    """,
)
def ml_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank audit of the embedding space as a
    retrieval index: each of the first {_N_QUERIES} vectors queries the
    rest of the corpus, and its reciprocal rank is 1/position of the
    first SAME-label neighbor in the exact cosine ranking — the
    retrieval-eval twin of ml_linear_probe_auc (there: global
    separability; here: per-query first-hit quality). One row per
    query; queries whose label never appears in the corpus report NULL.

    Determinism: shared left-fold cosine; ranking totally ordered by
    (cosine DESC, vec_id); rr is one exact double division.

    Scale: the query set broadcasts (it is the eval frame — the corpus
    side is never replicated); scoring is map-side; the per-query rank
    is a window keyed by query id over |queries|·|corpus| scored rows,
    and at production scale the exact ranking swaps for the gated ANN
    shortlists (sim_ann_lsh et al.) in the same pipeline shape."""
    q, hits = _first_hit_ranks(spark, sf_dir)
    return (
        q.select("qid", "qlabel")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").alias("query_label"),
            "first_hit_rank",
            (F.lit(1.0) / F.col("first_hit_rank")).alias("rr"),
        )
        .orderBy("query_id")
    )


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    binned AS (
      SELECT label, score,
             NTILE(10) OVER (ORDER BY score, vec_id) AS bin
      FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           {DSUM_SQL.format(expr='score')} / COUNT(*) AS mean_score,
           CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pos_rate
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the linear probe: scores binned into 10
    equal-population deciles (NTILE over the total (score, vec_id)
    order — rank bins, not float bin edges, so the binning is exact
    cross-engine), reporting per bin the population, the positive
    (label-0) count, the mean score, and the observed positive rate —
    the calibration curve a score consumer reads before trusting the
    probe's magnitudes (AUC alone only orders; ml_linear_probe_auc is
    the companion).

    Determinism: probe scores are the shared floor-scaled-centroid
    fold; NTILE follows the SQL-standard ceil-then-floor bucket sizing
    in both engines; mean_score uses the decimal-sum convention.

    Scale: one global sort of doubles (range-partitioned) + one
    10-key rollup; the centroid stage is the broadcast singleton from
    probe_scores."""
    scored = probe_scores(spark, sf_dir)
    binned = scored.select(
        "label",
        "score",
        F.ntile(10).over(W.orderBy("score", "vec_id")).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            (dsum(F.col("score")) / F.count(F.lit(1))).alias("mean_score"),
            (
                F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


_EDGES_CTE = """
    pairs AS (
      SELECT DISTINCT l1.l_orderkey AS ok, l1.l_partkey AS a,
             l2.l_partkey AS b
      FROM lineitem l1
      JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
    )"""


@query(
    "graph_resource_allocation_linkpred",
    oracle=f"""
    WITH {_EDGES_CTE},
    adj AS (
      SELECT a AS v, b AS w FROM edges
      UNION ALL SELECT b AS v, a AS w FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
    two_path AS (
      SELECT n1.w AS a, n2.w AS b, n1.v AS mid
      FROM adj n1 JOIN adj n2 ON n1.v = n2.v AND n1.w < n2.w
    ),
    ra AS (
      SELECT t.a, t.b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             {DSUM_SQL.format(expr='1.0 / deg.d')} AS ra_score
      FROM two_path t JOIN deg ON deg.v = t.mid
      GROUP BY t.a, t.b
    )
    SELECT r.a, r.b, r.n_common, r.ra_score
    FROM ra r LEFT JOIN edges e ON e.a = r.a AND e.b = r.b
    WHERE e.a IS NULL
    ORDER BY ra_score DESC, r.a, r.b
    LIMIT 20
    """,
)
def graph_resource_allocation_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Resource-allocation link prediction on the co-purchase graph
    (Zhou/Lü/Zhang's RA index): for every NON-edge pair with common
    neighbors, score Σ 1/deg(w) over the shared neighbors w — hubs
    contribute less than exclusive mutual friends, which beats raw
    common-neighbor counts and avoids Adamic-Adar's transcendental
    1/log(d) (RA is exact rational arithmetic, so the oracle is
    bit-deterministic under the decimal-sum convention). Top-20
    predicted edges by (score, a, b).

    Scale: the 2-path join is keyed on the shared MIDDLE vertex
    (Σ d(w)² wedge bound, never |V|²), degree joins in before the
    rollup so 1/d is map-side, the non-edge check is one left-anti
    probe of the tiny co-bought-twice edge list, and the top-20 is
    TakeOrderedAndProject. At a skewed 100× graph the wedge bound is
    capped the same way the triangle family is — drop max-degree
    middles first (they contribute least to RA by construction).

    Edge list checkpointed once (optimization r14): the two wedge
    sides, the degree frame, and the non-edge anti-join are four
    column-pruned consumers that re-derived copurchase_edges from
    parquet 14 times in the before-plan. EXECUTES the edge derivation
    at construction (registry contract note)."""
    edges = checkpoint(copurchase_edges(spark, sf_dir))
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("w")))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n1 = adj.select(F.col("v").alias("mid"), F.col("w").alias("a"))
    n2 = adj.select(F.col("v").alias("mid2"), F.col("w").alias("b"))
    two_path = n1.join(n2, F.col("mid2") == F.col("mid")).filter(
        F.col("a") < F.col("b")
    )
    ra = (
        two_path.join(deg, deg.v == two_path.mid)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            dsum(F.lit(1.0) / F.col("d")).alias("ra_score"),
        )
    )
    return (
        ra.join(edges, ["a", "b"], "left_anti")
        .select("a", "b", "n_common", "ra_score")
        .orderBy(F.desc("ra_score"), "a", "b")
        .limit(20)
    )


@query(
    "events_audience_overlap",
    oracle="""
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM tu GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, i.n_both,
           CAST(sa.n + sb.n - i.n_both AS BIGINT) AS n_either,
           CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every type pair, the
    number of users who did both, the union size, and the Jaccard
    overlap — the segmentation readout behind "do purchasers also
    search?" product questions and the feature-correlation check a
    training-data pipeline runs before treating event types as
    independent signals.

    Determinism: pure integer set sizes; Jaccard is one final double
    division.

    Scale: one (type, user) dedup shuffle, then a self-join keyed on
    user_id whose fan-out is bounded by distinct types per user
    (|types|² per user worst case, with |types| small and fixed);
    per-type sizes broadcast into the final readout."""
    tu = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("na") + F.col("nb") - F.col("n_both"))
            .cast("long")
            .alias("n_either"),
            (
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "text_ttr_length_curve",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types
      FROM tok WHERE token <> '' GROUP BY doc_id
    ),
    curved AS (
      SELECT CAST(length(bin(n_tokens)) AS INT) AS len_bucket,
             n_tokens, n_types,
             CAST(n_types AS DOUBLE) / n_tokens AS ttr
      FROM per_doc
    )
    SELECT len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(ttr AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) / COUNT(*) AS mean_ttr
    FROM curved GROUP BY len_bucket ORDER BY len_bucket
    """,
)
def text_ttr_length_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token-ratio curve by document length: per-doc lexical
    richness (distinct/total tokens) averaged within power-of-two
    length buckets — the curve is the classic TTR-decays-with-length
    diagnostic, and a flat or inverted curve flags templated/spammy
    strata a corpus filter should inspect. Buckets are the binary
    magnitude of the token count (length of bin(n) — identical string
    semantics in Spark and DuckDB; no transcendental log).

    Determinism: integer token/type counts; per-doc TTR is one double
    division; the bucket mean uses the decimal-sum convention.

    Scale: one (doc, token) explode feeding a per-doc count+distinct
    (map-side combinable on the doc key), then a ~60-key bucket
    rollup; nothing global but the final tiny sort."""
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("token").cast("long").alias("n_types"),
    )
    curved = per_doc.select(
        F.length(F.bin(F.col("n_tokens"))).cast("int").alias("len_bucket"),
        "n_tokens",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
    )
    return (
        curved.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (dsum(F.col("ttr")) / F.count(F.lit(1))).alias("mean_ttr"),
        )
        .orderBy("len_bucket")
    )


@query(
    "orders_repeat_purchase_curve",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey,
             epoch_us(o_orderdate) // {DAY_US} AS day,
             o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY epoch_us(o_orderdate) // {DAY_US}, o_orderkey
             ) AS purchase_idx,
             LAG(epoch_us(o_orderdate) // {DAY_US}) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch_us(o_orderdate) // {DAY_US}, o_orderkey
             ) AS prev_day
      FROM orders
    )
    SELECT CAST(purchase_idx AS INT) AS purchase_idx,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(day - prev_day) AS BIGINT) AS total_gap_days,
           CAST(SUM(day - prev_day) AS DOUBLE) / COUNT(*)
             AS mean_gap_days
    FROM seq
    WHERE purchase_idx BETWEEN 2 AND 10
    GROUP BY purchase_idx ORDER BY purchase_idx
    """,
)
def orders_repeat_purchase_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase cadence: for each customer's 2nd..10th order,
    the gap in days since their previous order, aggregated per
    purchase index — the "do repeat buyers accelerate?" lifecycle
    curve (a shrinking mean gap at higher indices is the retention
    signal LTV models feed on; orders_cohort_ltv is the revenue-side
    companion).

    Determinism: order sequence totally ordered by (day, o_orderkey);
    day is integer epoch-microseconds div day — exact in both engines;
    gaps and their sums stay BIGINT until the single final division.

    Scale: ONE shuffle on o_custkey serves both windows (row_number
    and lag share the partition+order), then a 9-key rollup —
    map-side combinable, no global sort but the final 9-row one."""
    # NTZ-safe epoch micros (tables.load convention: unix_micros needs
    # LTZ and an LTZ cast would route through the session timezone)
    day = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00',"
        f" o_orderdate) div {DAY_US}"
    )
    w = W.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    seq = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", day.alias("day"))
        .select(
            F.row_number().over(w).alias("purchase_idx"),
            (F.col("day") - F.lag("day").over(w)).alias("gap_days"),
        )
    )
    return (
        seq.filter(F.col("purchase_idx").between(2, 10))
        .groupBy(F.col("purchase_idx").cast("int").alias("purchase_idx"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("gap_days").cast("long").alias("total_gap_days"),
            (
                F.sum("gap_days").cast("double") / F.count(F.lit(1))
            ).alias("mean_gap_days"),
        )
        .orderBy("purchase_idx")
    )


@query(
    "ml_topk_accuracy",
    oracle=f"""
    WITH {_HITS_CTES},
    ks AS (SELECT unnest([1, 5, 10]) AS k)
    SELECT CAST(ks.k AS INT) AS k,
           CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN h.first_hit_rank <= ks.k
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN h.first_hit_rank <= ks.k
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / (SELECT COUNT(*) FROM q) AS hit_rate
    FROM ks CROSS JOIN hits h
    GROUP BY ks.k ORDER BY k
    """,
)
def ml_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit@k of the embedding space as a retrieval index (k = 1, 5,
    10): the fraction of eval queries whose first same-label neighbor
    sits inside the top-k of the exact cosine ranking — the companion
    readout to ml_retrieval_mrr (MRR weights by depth; hit@k is the
    serving SLA number: "recall at the shortlist size we actually
    return"). Shares the _HITS_CTES relation with MRR on both engines,
    so the two audits can never drift apart.

    Scale: the per-query rank frame is |queries| rows; the k fan-out
    is a 3-row broadcast. Everything heavy is the shared scoring pass
    (see _first_hit_ranks)."""
    q, hits = _first_hit_ranks(spark, sf_dir)
    n_q = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k")
    )
    return (
        hits.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").cast("int").alias("k"))
        .agg(
            F.sum(
                F.when(F.col("first_hit_rank") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
        .crossJoin(F.broadcast(n_q))
        .select(
            "k",
            "n_queries",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_queries")).alias(
                "hit_rate"
            ),
        )
        .orderBy("k")
    )


@query(
    "graph_2hop_reach",
    oracle=f"""
    WITH {_EDGES_CTE},
    adj AS (
      SELECT a AS v, b AS w FROM edges
      UNION ALL SELECT b AS v, a AS w FROM edges
    ),
    two_hop AS (
      SELECT n1.v, n2.w FROM adj n1 JOIN adj n2 ON n1.w = n2.v
      WHERE n2.w <> n1.v
    ),
    reach AS (
      SELECT v, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_reach
      FROM (SELECT v, w FROM adj UNION ALL SELECT v, w FROM two_hop)
      GROUP BY v
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY v)
    SELECT r.v AS node_id, d.degree, r.n_reach,
           CAST(r.n_reach - d.degree AS BIGINT) AS n_second_ring
    FROM reach r JOIN deg d ON d.v = r.v
    ORDER BY n_reach DESC, node_id
    LIMIT 20
    """,
)
def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach of the co-purchase graph: per node, the number of
    distinct vertices within distance ≤ 2 (friend-of-friend audience) —
    the spread estimate behind "if we promote this part, how much of
    the catalog co-sells within two referrals", and the second ring
    (reach minus direct degree) separates hub parts from parts whose
    influence is all first-hop. Top-20 by reach.

    Determinism: pure integer set sizes; top-20 totally ordered by
    (reach DESC, node id).

    Scale: the 2-hop expansion is the wedge join keyed on the shared
    middle vertex (Σ d(w)² — never |V|²); the distinct-union collapses
    it back to O(reach) rows per node before the count, and the top-20
    is TakeOrderedAndProject. At skewed production scale the same
    query runs on the degree-capped edge list (drop super-hub middles,
    the standard reach-estimate concession) — the plan shape is
    unchanged.

    Edge list checkpointed once (optimization r14): both wedge sides,
    the reach union, and the degree join re-derived copurchase_edges
    from parquet 16 times in the before-plan. EXECUTES the edge
    derivation at construction (registry contract note)."""
    edges = checkpoint(copurchase_edges(spark, sf_dir))
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("w")))
    n1 = adj.select(F.col("v").alias("v"), F.col("w").alias("mid"))
    n2 = adj.select(F.col("v").alias("mid"), F.col("w").alias("w"))
    two_hop = n1.join(n2, "mid").filter(F.col("w") != F.col("v")).select(
        "v", "w"
    )
    reach = (
        adj.select("v", "w")
        .unionAll(two_hop)
        .groupBy("v")
        .agg(F.countDistinct("w").cast("long").alias("n_reach"))
    )
    deg = adj.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return (
        reach.join(deg, "v")
        .select(
            F.col("v").alias("node_id"),
            "degree",
            "n_reach",
            (F.col("n_reach") - F.col("degree")).cast("long").alias(
                "n_second_ring"
            ),
        )
        .orderBy(F.desc("n_reach"), "node_id")
        .limit(20)
    )


# group-holdout split: md5 hex-prefix thresholds over the GROUP key
# (user_id), the split_train_val_test convention lifted from row to
# group granularity
_GRP_TRAIN_HI = "e6"  # ~90%
_GRP_VAL_HI = "f3"    # ~5%


@query(
    "sample_group_holdout_split",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id, event_id, event_type,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':grpsplit'),
                              1, 2) < '{_GRP_TRAIN_HI}' THEN 'train'
                  WHEN substr(md5(CAST(user_id AS VARCHAR) || ':grpsplit'),
                              1, 2) < '{_GRP_VAL_HI}' THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    ),
    leak AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_leaky_users
      FROM (SELECT user_id, COUNT(DISTINCT split) AS n_splits
            FROM assigned GROUP BY user_id)
    )
    SELECT split,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           l.n_leaky_users
    FROM assigned CROSS JOIN leak l
    GROUP BY split, l.n_leaky_users
    ORDER BY split
    """,
)
def sample_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level holdout split: every USER (not row) is assigned to
    train/val/test by a salted hash of the group key, so all of a
    user's events land in exactly one split — the leakage-safe split
    for behavioral models, where row-level splitting (the
    split_train_val_test shape, correct for i.i.d. documents) would
    leak a user's own history across the boundary. The query also
    COMPUTES the leakage count (users in >1 split) and reports it per
    row — 0 by construction, but measured, not assumed.

    Determinism: md5 is bytewise-identical cross-engine; assignment is
    a pure function of the group key (stable under reruns and corpus
    growth, same as the document split).

    Scale: assignment is map-side; the audit is one user-grain rollup
    + a 3-key readout; no joins but the broadcast leak singleton."""
    hp = F.substring(
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":grpsplit"))),
        1,
        2,
    )
    split = (
        F.when(hp < _GRP_TRAIN_HI, "train")
        .when(hp < _GRP_VAL_HI, "val")
        .otherwise("test")
    )
    assigned = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", split.alias("split"))
    )
    leak = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_leaky_users")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_users", "n_events", "n_leaky_users")
        .orderBy("split")
    )


@query(
    "orders_priority_mix_shift",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
               AS ym,
             o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT ym, CAST(SUM(n) AS BIGINT) AS n_month FROM monthly GROUP BY ym
    ),
    shares AS (
      SELECT m.ym, m.priority, m.n,
             CAST(m.n AS DOUBLE) / t.n_month AS share
      FROM monthly m JOIN tot t ON t.ym = m.ym
    )
    SELECT ym, priority, n, share,
           share - LAG(share) OVER (
             PARTITION BY priority ORDER BY ym) AS share_delta
    FROM shares ORDER BY ym, priority
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix by month with month-over-month share drift —
    the composition-shift monitor (a sudden priority-mix change flags
    an upstream process change long before totals move; the DQ sibling
    of dq_distribution_drift, here as a full time series instead of a
    two-window compare).

    Determinism: year/month field extraction is identical on naive
    timestamps in both engines; shares are one double division; the
    drift lag is totally ordered by (priority, ym).

    Scale: one (month, priority) rollup (map-side combinable), month
    totals joined back on the tiny month key, and a |priorities|-way
    partitioned lag window — nothing global."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = monthly.groupBy("ym").agg(
        F.sum("n").cast("long").alias("n_month")
    )
    shares = monthly.join(tot, "ym").select(
        "ym",
        "priority",
        "n",
        (F.col("n").cast("double") / F.col("n_month")).alias("share"),
    )
    w = W.partitionBy("priority").orderBy("ym")
    return shares.select(
        "ym",
        "priority",
        "n",
        "share",
        (F.col("share") - F.lag("share").over(w)).alias("share_delta"),
    ).orderBy("ym", "priority")


@query(
    "dq_uniqueness_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_orderkey' AS key,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS n_dup_rows
      FROM orders
      UNION ALL
      SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
      FROM customer
      UNION ALL
      SELECT 'events.event_id', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT event_id) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents.doc_id', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT doc_id) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'lineitem.(l_orderkey,l_linenumber-proxy)',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT l_orderkey * 100 + l_partkey % 100)
                  AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100
                  + l_partkey % 100) AS BIGINT)
      FROM lineitem
    ) ORDER BY key
    """,
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the corpus: per declared
    key, total rows vs distinct key values and the duplicate-row count
    — the first DQ gate any ingest pipeline runs (a nonzero dup count
    on a supposed PK breaks every downstream join's cardinality
    assumption; dq_referential_integrity is the FK-side companion).
    The lineitem row is a deliberately composite proxy key, exercising
    the expression-key path.

    Determinism: pure integer counts.

    Scale: each audit is one map-side-combinable distinct-count pass
    over its own table; the union is |keys| rows. At 100 TB the exact
    distincts swap for the gated HLL partials (q63_hll_sketch_union)
    in the same frame shape."""

    def one(tbl, key_name, expr):
        return (
            load(spark, sf_dir, tbl)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(expr).cast("long").alias("n_distinct"),
            )
            .select(
                F.lit(key_name).alias("key"),
                "n_rows",
                "n_distinct",
                (F.col("n_rows") - F.col("n_distinct"))
                .cast("long")
                .alias("n_dup_rows"),
            )
        )

    audits = [
        one("orders", "orders.o_orderkey", F.col("o_orderkey")),
        one("customer", "customer.c_custkey", F.col("c_custkey")),
        one("events", "events.event_id", F.col("event_id")),
        one("documents", "documents.doc_id", F.col("doc_id")),
        one(
            "lineitem",
            "lineitem.(l_orderkey,l_linenumber-proxy)",
            F.col("l_orderkey") * 100 + F.col("l_partkey") % 100,
        ),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("key")


@query(
    "events_dau_wau_stickiness",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day, user_id
      FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ),
    contrib AS (
      SELECT du.day + i.i AS d, du.user_id
      FROM du CROSS JOIN (SELECT unnest(range(7)) AS i) i
    ),
    wau AS (
      SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY d
    )
    SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day
    ORDER BY day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: daily active users over the
    trailing-7-day active users ending that day — the engagement
    ratio product analytics tracks (≈1 means the weekly audience shows
    up every day; low values mean a broad-but-casual audience). Days
    with zero activity emit no row (their DAU is 0 by definition).

    Determinism: pure integer distinct counts; stickiness is one
    double division.

    Scale: the trailing window is a BOUNDED map-side explode (each
    (day, user) row contributes to exactly 7 window-end days — the
    events_rolling_distinct pattern), so WAU is one distinct-count
    shuffle, never a range self-join; both counts combine map-side."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.expr(f"ts_us div {DAY_US}").alias("day"),
        "user_id",
    ).distinct()
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("long").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "events_conversion_window_sensitivity",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                 THEN epoch_us(ts) END) AS t_view
      FROM events GROUP BY user_id
    ),
    first_click AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) AS t_click
      FROM events e JOIN per_user p ON p.user_id = e.user_id
      WHERE e.event_type = 'click' AND p.t_view IS NOT NULL
        AND epoch_us(e.ts) > p.t_view
      GROUP BY e.user_id
    ),
    joined AS (
      SELECT p.user_id, p.t_view, f.t_click
      FROM per_user p LEFT JOIN first_click f ON f.user_id = p.user_id
      WHERE p.t_view IS NOT NULL
    ),
    ws AS (SELECT unnest([1, 6, 24]) AS w_hours)
    SELECT CAST(w.w_hours AS INT) AS w_hours,
           CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(CASE WHEN j.t_click IS NOT NULL
                    AND j.t_click <= j.t_view + w.w_hours * {HOUR_US}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN j.t_click IS NOT NULL
                    AND j.t_click <= j.t_view + w.w_hours * {HOUR_US}
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS conversion_rate
    FROM ws w CROSS JOIN joined j
    GROUP BY w.w_hours ORDER BY w_hours
    """,
)
def events_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window sensitivity of the view→click conversion
    rate: the same funnel measured at 1 h / 6 h / 24 h windows after
    each user's FIRST view — the robustness check behind every
    conversion metric (a rate that doubles from 1 h to 24 h is mostly
    slow organic re-visits, not campaign response; events_funnel and
    events_funnel_windowed fix one window, this sweeps it).

    Determinism: integer epoch-microsecond comparisons; the rate is
    one double division; windows are a 3-row broadcast fan-out.

    Scale: two user-grain aggregates (first view, then first
    qualifying click) on the SAME user_id shuffle key, a 3× broadcast
    fan-out, and a 3-key rollup — no window functions, no range
    join."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).alias("t_view")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us"
    )
    first_click = (
        clicks.join(per_user, "user_id")
        .filter(
            F.col("t_view").isNotNull() & (F.col("ts_us") > F.col("t_view"))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    joined = (
        per_user.filter(F.col("t_view").isNotNull())
        .join(first_click, "user_id", "left")
        .select("t_view", "t_click")
    )
    ws = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(6), F.lit(24))).alias("w_hours")
    )
    converted = F.col("t_click").isNotNull() & (
        F.col("t_click") <= F.col("t_view") + F.col("w_hours") * HOUR_US
    )
    return (
        joined.crossJoin(F.broadcast(ws))
        .groupBy(F.col("w_hours").cast("int").alias("w_hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_viewers"),
            F.sum(F.when(converted, 1).otherwise(0))
            .cast("long")
            .alias("n_converted"),
            (
                F.sum(F.when(converted, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("conversion_rate"),
        )
        .orderBy("w_hours")
    )


@query(
    "events_funnel_by_segment",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                 THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    seg AS (
      SELECT p.user_id, c.c_mktsegment AS segment, p.t_view,
             p.t_purchase
      FROM per_user p JOIN customer c ON c.c_custkey = p.user_id
      WHERE p.t_view IS NOT NULL
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL
                    AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchasers,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL
                    AND t_purchase > t_view THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS conversion_rate
    FROM seg GROUP BY segment ORDER BY segment
    """,
)
def events_funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion by customer market segment: the
    behavioral funnel joined to the customer dimension (user_id is
    c_custkey — the skew-join family's join contract), answering "which
    segment converts" instead of the global rate. The funnel rule is
    first view, any later purchase.

    Determinism: integer epoch-microsecond comparisons; one double
    division per segment.

    Scale: one user-grain conditional aggregate (map-side combinable),
    a BROADCAST dimension join (customer segments are the small side),
    and a |segments|-key rollup. The dimension join never shuffles the
    fact side."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).alias("t_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("t_purchase"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = per_user.filter(F.col("t_view").isNotNull()).join(
        F.broadcast(cust), "user_id"
    )
    converted = F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_view")
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_viewers"),
            F.sum(F.when(converted, 1).otherwise(0))
            .cast("long")
            .alias("n_purchasers"),
            (
                F.sum(F.when(converted, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("conversion_rate"),
        )
        .orderBy("segment")
    )


@query(
    "dedup_cross_source_overlap",
    oracle="""
    WITH fp AS (
      SELECT md5(text) AS fingerprint,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents GROUP BY md5(text)
    )
    SELECT n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_contents,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_redundant_docs
    FROM fp GROUP BY n_sources ORDER BY n_sources
    """,
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication profile: exact-duplicate content
    grouped by HOW MANY sources carry it — the governance readout that
    separates within-crawler re-fetches (n_sources = 1) from true
    syndication (n_sources ≥ 2, the class that silently over-weights a
    document family however the source mix is tuned). Companion to
    pipeline_dedup_impact (per-source loss) and text_source_jaccard
    (vocabulary overlap); this is content-identity overlap.

    Determinism: md5 fingerprints and pure integer counts.

    Scale: ONE content-fingerprint shuffle (the dedup_exact key),
    map-side combinable, then a ≤|sources|-key rollup. Never pairwise."""
    docs = load(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        fp.groupBy("n_sources")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_contents"),
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.sum(F.col("n_copies") - 1).cast("long").alias(
                "n_redundant_docs"
            ),
        )
        .orderBy("n_sources")
    )


@query(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH {_EDGES_CTE},
    adj AS (
      SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v)
    SELECT CAST(length(bin(d)) AS INT) AS degree_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(SUM(d) AS BIGINT) AS endpoint_mass,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1 ORDER BY degree_bucket
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in power-of-two
    buckets (binary magnitude of the degree — no transcendental log),
    with per-bucket vertex counts and endpoint mass — the heavy-tail
    profile that decides every scale strategy downstream: how much
    edge mass the top bucket holds is exactly how much a skew-salted
    join or a degree-capped wedge bound has to absorb. Companion to
    graph_degree_assortativity (mixing) and the triangle family's
    arboricity argument.

    Determinism: integer degrees, integer buckets.

    Scale: one edge-endpoint rollup + a ~log(max_degree)-key
    aggregate; nothing grows with |V| after the degree count.

    Endpoint rollup via explode, not union (optimization r14): the
    unionAll's two sides each re-derived copurchase_edges from parquet
    (4 scans in the before-plan); exploding array(a, b) emits both
    endpoints from ONE evaluation of the edge subtree and keeps the
    query fully lazy — same multiset, identical degrees."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return (
        deg.groupBy(
            F.length(F.bin(F.col("d"))).cast("int").alias("degree_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum("d").cast("long").alias("endpoint_mass"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
        .orderBy("degree_bucket")
    )


# hourly error-rate SLA: breach when errors/events > 25% — integer
# cross-multiplied (4*errors > events), no float threshold
_SLA_NUM = 4


@query(
    "events_error_rate_sla",
    oracle=f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // {HOUR_US} AS hour_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT CAST(hour_bucket AS BIGINT) AS hour_bucket, n_events, n_errors,
           CAST(n_errors AS DOUBLE) / n_events AS error_rate,
           {_SLA_NUM} * n_errors > n_events AS sla_breach
    FROM hourly
    ORDER BY n_errors DESC, hour_bucket
    LIMIT 24
    """,
)
def events_error_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate SLA monitor: per hour bucket, event volume,
    error count, error rate, and a breach flag at the 25% budget — the
    operational health readout every event pipeline alerts on. Top-24
    worst hours by error count (hour tiebreak).

    Determinism: the breach flag is an INTEGER cross-multiplication
    (4·errors > events) — no float-ulp boundary flips; the rate column
    is display-only division.

    Scale: one (hour) rollup with map-side combine — conditional
    integer sums only; top-24 is TakeOrderedAndProject."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr(f"ts_us div {HOUR_US}").alias("hour_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    return (
        hourly.select(
            "hour_bucket",
            "n_events",
            "n_errors",
            (F.col("n_errors").cast("double") / F.col("n_events")).alias(
                "error_rate"
            ),
            (F.lit(_SLA_NUM) * F.col("n_errors") > F.col("n_events")).alias(
                "sla_breach"
            ),
        )
        .orderBy(F.desc("n_errors"), "hour_bucket")
        .limit(24)
    )


@query(
    "orders_seasonality_yoy",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
               AS ym,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {DSUM_SQL.format(expr='o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT ym, n_orders, revenue,
           LAG(revenue, 12) OVER (ORDER BY ym) AS revenue_prev_year,
           (revenue - LAG(revenue, 12) OVER (ORDER BY ym))
             / LAG(revenue, 12) OVER (ORDER BY ym) AS yoy_growth
    FROM monthly ORDER BY ym
    """,
)
def orders_seasonality_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth (lag-12 over the
    month series) — the seasonality-adjusted growth readout that a
    raw month-over-month delta can't give (December vs November is
    seasonality; December vs last December is growth). First-year
    months report NULL growth. Companion to orders_priority_mix_shift
    (composition) and events_seasonality_profile (within-week shape).

    Determinism: exact decimal revenue sums cast to double once; the
    lag is totally ordered by the integer ym key; growth is two double
    ops.

    Scale: one (month) rollup with map-side combine, then a single
    |months|-row window — the series frame is bounded by the calendar,
    not the data."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )
    w = W.orderBy("ym")
    prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        "ym",
        "n_orders",
        "revenue",
        prev.alias("revenue_prev_year"),
        ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
    ).orderBy("ym")


@query(
    "events_weekday_weekend_lift",
    oracle=f"""
    WITH typed AS (
      SELECT event_type, value,
             ((epoch_us(ts) // {DAY_US}) + 4) % 7 AS dow
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN dow IN (0, 6) THEN 0 ELSE 1 END) AS BIGINT)
             AS weekday_events,
           CAST(SUM(CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
             AS weekend_events,
           {DSUM_SQL.format(expr='CASE WHEN dow IN (0, 6) THEN NULL ELSE value END')}
             / SUM(CASE WHEN dow IN (0, 6) THEN 0 ELSE 1 END)
             AS weekday_avg_value,
           {DSUM_SQL.format(expr='CASE WHEN dow IN (0, 6) THEN value ELSE NULL END')}
             / SUM(CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END)
             AS weekend_avg_value
    FROM typed GROUP BY event_type ORDER BY event_type
    """,
)
def events_weekday_weekend_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday vs weekend behavior split per event type: event volumes
    and average event values on business days vs weekends — the
    day-mix check behind any weekly metric (a KPI that moves because
    the weekday/weekend MIX moved is not a product change; the
    companions are events_anova_dow for the significance test and
    events_seasonality_profile for the full shape).

    Determinism: day-of-week is pure integer arithmetic on epoch days
    ((day+4) % 7, 0=Sunday — no timezone/calendar library); value
    averages use the decimal-sum convention.

    Scale: one (event_type) rollup, all conditional sums map-side
    combinable; |types| rows out."""
    ev = load(spark, sf_dir, "events")
    dow = (F.expr(f"ts_us div {DAY_US}") + 4) % 7
    weekend = dow.isin(0, 6)
    typed = ev.select("event_type", "value", weekend.alias("is_we"))
    return (
        typed.groupBy("event_type")
        .agg(
            F.sum(F.when(~F.col("is_we"), 1).otherwise(0))
            .cast("long")
            .alias("weekday_events"),
            F.sum(F.when(F.col("is_we"), 1).otherwise(0))
            .cast("long")
            .alias("weekend_events"),
            # try_divide (r13 division audit): a type seen only on
            # weekdays (or only weekends) zeroes one side's count —
            # legal. The NULL numerator already short-circuits ANSI
            # (NULL/0 is NULL, verified), so this is belt-and-
            # suspenders against a future non-null numerator edit.
            F.try_divide(
                dsum(F.when(~F.col("is_we"), F.col("value"))),
                F.sum(F.when(~F.col("is_we"), 1).otherwise(0)),
            ).alias("weekday_avg_value"),
            F.try_divide(
                dsum(F.when(F.col("is_we"), F.col("value"))),
                F.sum(F.when(F.col("is_we"), 1).otherwise(0)),
            ).alias("weekend_avg_value"),
        )
        .orderBy("event_type")
    )


@query(
    "text_sentence_length_profile",
    oracle="""
    WITH sent AS (
      SELECT doc_id, source,
             unnest(string_split(text, '. ')) AS sentence
      FROM documents
    ),
    per_sent AS (
      SELECT doc_id, source,
             CAST(length(sentence)
                  - length(replace(sentence, ' ', '')) + 1 AS BIGINT)
               AS n_tokens
      FROM sent WHERE sentence <> ''
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)
             AS mean_sentence_tokens,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id)
             AS sentences_per_doc
    FROM per_sent GROUP BY source ORDER BY source
    """,
)
def text_sentence_length_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sentence-length profile per source: sentences (split on '. '),
    tokens per sentence, and sentences per document — the readability/
    structure fingerprint that separates prose sources from listy or
    machine-generated ones (abnormally uniform or extreme sentence
    lengths are a classic low-quality-stratum tell; text_quality_score
    gates per-doc, this profiles per-source).

    Determinism: the sentence split and the space-count token count
    are exact string operations with identical semantics in both
    engines; means are single divisions of exact integers.

    Scale: one explode + a (source)-key rollup with map-side combine
    (the distinct-doc count is the only two-phase piece); |sources|
    rows out."""
    docs = load(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", "\\. ")).alias("sentence"),
    ).filter(F.col("sentence") != "")
    per_sent = sent.select(
        "doc_id",
        "source",
        (
            F.length("sentence")
            - F.length(F.replace(F.col("sentence"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return (
        per_sent.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (
                F.sum("n_tokens").cast("double") / F.count(F.lit(1))
            ).alias("mean_sentence_tokens"),
            (
                F.count(F.lit(1)).cast("double")
                / F.countDistinct("doc_id")
            ).alias("sentences_per_doc"),
        )
        .orderBy("source")
    )
