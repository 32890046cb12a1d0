"""Model-evaluation tables over the linear-probe score stream: the
decile lift/reliability table and the thresholded confusion matrix —
the two artifacts an eval harness materializes next to the AUC when
deciding whether an embedding space (or a trained filter model) is
good enough to gate data with — plus the embedding-drift monitor a
continuous-ingest pipeline runs per batch.

Not in the reference (no ML surface there, SURVEY.md §2.1); extends
the vector_stats.py evaluation family (ml_linear_probe_auc) — all
three queries here rank from the IDENTICAL probe-score stream via the
shared probe_scores / PROBE_SCORED_CTES pair, so the AUC, the decile
table, and the confusion table are mutually consistent by
construction.

Determinism: scores are bit-identical cross-engine (floor-scaled
BIGINT centroid, shared left-fold dot — vector_stats.py module
docstring); ranks tie-break by vec_id; every derived statistic is
counts + rational arithmetic, with DSUM only over per-bin score sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DSUM_SQL, dsum, query
from ..tables import load
from .similarity import DIM
from .vector_stats import PROBE_SCORED_CTES, VSCALE, probe_scores

# Knuth-hash batch split shared with dedup_incremental /
# dq_distribution_drift (pipeline4.py) — the SAME 20% "new batch"
# definition, applied to vec_id, so the drift monitors across text and
# embedding modalities audit one consistent ingest batch.
from .pipeline4 import INC_HASH, INC_MOD, INC_THRESH

_N_DECILES = 10
_PCTS = [10, 25, 50]  # top-p% operating points for the confusion table


@query(
    "ml_score_deciles_lift",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    bins AS (
      SELECT label, score,
             CAST(NTILE({_N_DECILES})
                  OVER (ORDER BY score DESC, vec_id) AS BIGINT) AS decile
      FROM scored
    ),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             {DSUM_SQL.format(expr="score")} AS sum_score
      FROM bins GROUP BY decile
    )
    SELECT decile, n_rows, n_pos,
           CAST(n_pos AS DOUBLE) / n_rows AS pos_rate,
           (CAST(n_pos AS DOUBLE) / n_rows)
             / (CAST(SUM(n_pos) OVER () AS DOUBLE)
                / CAST(SUM(n_rows) OVER () AS BIGINT)) AS lift,
           sum_score / n_rows AS mean_score
    FROM agg ORDER BY decile
    """,
)
def ml_score_deciles_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of the linear-probe classifier: rank every
    vector by probe score (descending, vec_id tiebreak), cut into 10
    equal-population bins, and report each decile's positive rate
    against the global base rate — the reliability/lift artifact that
    shows WHERE the score separates (a good filter concentrates
    positives in decile 1-2 and starves 9-10), which the scalar AUC
    cannot show.

    Scale: scoring is map-side (broadcast centroid); the global rank is
    the one sort — a single range-partitioned sort of doubles, the same
    contract as ml_linear_probe_auc; NTILE binning needs no separate
    count pass, so the scored stream is derived ONCE (plan-asserted:
    two embedding scans total — centroid branch + scoring branch). The
    decile aggregate is map-side combined into 10 rows; the global base
    rate comes from a window over THAT 10-row frame, not a second
    corpus pass. At corpus scale the exact rank swaps for the
    binned-histogram rank in the same shape."""
    scored = probe_scores(spark, sf_dir)
    bins = scored.select(
        "label",
        "score",
        F.ntile(_N_DECILES)
        .over(W.orderBy(F.desc("score"), "vec_id"))
        .cast("long")
        .alias("decile"),
    )
    agg = bins.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        dsum(F.col("score")).alias("sum_score"),
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    pos_rate = F.col("n_pos").cast("double") / F.col("n_rows")
    base_rate = F.sum("n_pos").over(w_all).cast("double") / F.sum(
        "n_rows"
    ).over(w_all)
    return agg.select(
        "decile",
        "n_rows",
        "n_pos",
        pos_rate.alias("pos_rate"),
        (pos_rate / base_rate).alias("lift"),
        (F.col("sum_score") / F.col("n_rows")).alias("mean_score"),
    ).orderBy("decile")


@query(
    "ml_confusion_thresholds",
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
             (n * pct) // 100 AS n_sel,
             CAST(SUM(CASE WHEN rn <= (n * pct) // 100
                            AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN rn <= (n * pct) // 100
                            AND label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN rn > (n * pct) // 100
                            AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN rn > (n * pct) // 100
                            AND label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM ranked CROSS JOIN pts
      GROUP BY 1, 2
    )
    SELECT pct, CAST(n_sel AS BIGINT) AS n_selected, tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / n_sel AS precision_at,
           CAST(tp AS DOUBLE) / (tp + fn) AS recall_at,
           CASE WHEN tp = 0 THEN NULL
                ELSE 2.0 * (CAST(tp AS DOUBLE) / n_sel)
                     * (CAST(tp AS DOUBLE) / (tp + fn))
                     / (CAST(tp AS DOUBLE) / n_sel
                        + CAST(tp AS DOUBLE) / (tp + fn))
           END AS f1_at
    FROM cells ORDER BY pct
    """,
)
def ml_confusion_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the linear probe at three top-p%% operating
    points (predict positive = score rank within the top 10/25/50%%):
    TP/FP/FN/TN plus precision@p, recall@p, F1@p — the table that turns
    the AUC into an actionable filter threshold (a data-quality gate
    ships at ONE operating point, and this is how it gets picked).

    Scale: one global score sort (shared contract with the AUC), then a
    3x map-side replicated conditional aggregate — the percent frame is
    a 3-row broadcast and the total count rides the already-sorted
    stream as a window aggregate (no second corpus pass; the scored
    lineage is derived ONCE, plan-asserted). F1 is NULL when tp = 0
    (0/0 undefined), stated identically in both engines."""
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
    with_sel = ranked.crossJoin(F.broadcast(pts)).select(
        F.col("pct").cast("long").alias("pct"),
        F.expr("(n * pct) div 100").alias("n_sel"),
        "rn",
        "label",
    )
    sel = F.col("rn") <= F.col("n_sel")
    pos = F.col("label") == 0
    cells = with_sel.groupBy("pct", "n_sel").agg(
        F.sum(F.when(sel & pos, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(sel & ~pos, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~sel & pos, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~sel & ~pos, 1).otherwise(0)).cast("long").alias("tn"),
    )
    # try_divide (r13 division audit): n_sel = n·pct div 100 is 0 on a
    # sub-100-row corpus, and tp+fn = 0 when no positive labels exist —
    # both legal; the metrics are undefined there => NULL (DuckDB's
    # native double division-by-zero NULL). Inside the f1 branch tp>0
    # implies n_sel >= tp > 0 and tp+fn > 0, so prec+rec stays safe.
    prec = F.try_divide(F.col("tp").cast("double"), F.col("n_sel"))
    rec = F.try_divide(
        F.col("tp").cast("double"), F.col("tp") + F.col("fn")
    )
    f1 = F.when(F.col("tp") == 0, F.lit(None).cast("double")).otherwise(
        F.lit(2.0) * prec * rec / (prec + rec)
    )
    return cells.select(
        "pct",
        F.col("n_sel").cast("long").alias("n_selected"),
        "tp",
        "fp",
        "fn",
        "tn",
        prec.alias("precision_at"),
        rec.alias("recall_at"),
        f1.alias("f1_at"),
    ).orderBy("pct")


@query(
    "ml_cohens_kappa",
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
             CAST(MAX(n) AS BIGINT) AS n,
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
           CAST(tp + tn AS DOUBLE) / n AS po,
           (CAST(tp + fp AS DOUBLE) * (tp + fn)
            + CAST(fn + tn AS DOUBLE) * (fp + tn))
             / (CAST(n AS DOUBLE) * n) AS pe,
           (CAST(tp + tn AS DOUBLE) / n
            - (CAST(tp + fp AS DOUBLE) * (tp + fn)
               + CAST(fn + tn AS DOUBLE) * (fp + tn))
              / (CAST(n AS DOUBLE) * n))
           / (1 - (CAST(tp + fp AS DOUBLE) * (tp + fn)
                   + CAST(fn + tn AS DOUBLE) * (fp + tn))
                  / (CAST(n AS DOUBLE) * n)) AS kappa
    FROM cells ORDER BY pct
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the linear probe at the same three top-p%%
    operating points as ml_confusion_thresholds: chance-corrected
    agreement between the thresholded prediction and the label,
    κ = (p_o − p_e)/(1 − p_e). Raw accuracy (p_o) flatters any
    imbalanced gate (predict-all-negative scores high); κ is the
    number to compare filter models across corpora with different
    base rates.

    Determinism: the confusion cells are exact integers off the shared
    probe rank; p_o, p_e, κ are the SAME sequence of IEEE double ops in
    both engines (the expressions are written out identically — no
    engine-side algebraic rewrite is possible on opaque doubles).

    Scale: identical to the confusion table — one shared global score
    sort, a 3× replicated conditional aggregate, output 3 rows."""
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
    with_sel = ranked.crossJoin(F.broadcast(pts)).select(
        F.col("pct").cast("long").alias("pct"),
        F.expr("(n * pct) div 100").alias("n_sel"),
        "rn",
        "label",
        "n",
    )
    sel = F.col("rn") <= F.col("n_sel")
    pos = F.col("label") == 0
    cells = with_sel.groupBy("pct").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.when(sel & pos, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(sel & ~pos, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~sel & pos, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~sel & ~pos, 1).otherwise(0)).cast("long").alias("tn"),
    )
    po = (F.col("tp") + F.col("tn")).cast("double") / F.col("n")
    pe = (
        (F.col("tp") + F.col("fp")).cast("double") * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")).cast("double")
        * (F.col("fp") + F.col("tn"))
    ) / (F.col("n").cast("double") * F.col("n"))
    kappa = (po - pe) / (F.lit(1) - pe)
    return cells.select(
        "pct", "tp", "fp", "fn", "tn",
        po.alias("po"), pe.alias("pe"), kappa.alias("kappa"),
    ).orderBy("pct")


@query(
    "embeddings_centroid_drift",
    oracle=f"""
    WITH flat AS (
      SELECT label, i AS dim,
             CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE)
                        * {VSCALE}) AS BIGINT) AS fv,
             ((vec_id % {INC_MOD}) * {INC_HASH}) % {INC_MOD}
               < {INC_THRESH} AS is_batch
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({DIM})) AS i) idx
    ),
    per AS (
      SELECT label, dim,
        CAST(SUM(CASE WHEN is_batch THEN 0 ELSE fv END) AS BIGINT) AS s_h,
        CAST(SUM(CASE WHEN is_batch THEN fv ELSE 0 END) AS BIGINT) AS s_b,
        CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS n_h,
        CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM flat GROUP BY label, dim
    ),
    dims AS (
      SELECT label, n_h, n_b,
             CAST(s_h AS DOUBLE) / n_h / {VSCALE} AS ch,
             CAST(s_b AS DOUBLE) / n_b / {VSCALE} AS cb
      FROM per WHERE n_h > 0 AND n_b > 0
    )
    SELECT CAST(label AS INT) AS label,
           MAX(n_h) AS n_hist, MAX(n_b) AS n_batch,
           sqrt({DSUM_SQL.format(expr="(cb - ch) * (cb - ch)")}) AS l2_drift,
           {DSUM_SQL.format(expr="ch * cb")}
             / (sqrt({DSUM_SQL.format(expr="ch * ch")})
                * sqrt({DSUM_SQL.format(expr="cb * cb")})) AS cos_sim
    FROM dims GROUP BY label ORDER BY label
    """,
)
def embeddings_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor for continuous ingest: split the corpus
    into settled history vs the 20%% new batch (the SAME Knuth-hash
    split dedup_incremental / dq_distribution_drift audit, applied to
    vec_id), compute both halves' per-label centroids, and report each
    label's centroid shift — L2 drift and cosine similarity. An
    upstream encoder change (retrained model, silent version bump)
    moves these before it shows up in downstream recall; this is the
    check that catches it at ingest time.

    Scale: ONE pass — posexplode to (label, dim) with conditional
    floor-scaled BIGINT sums for both halves (map-side combined,
    |labels|x64 keys), then per-label DSUM folds over 64 centroid rows.
    No vector ever shuffles; the drift frame is |labels| rows at any
    corpus size. Centroid coordinates are exact-integer ratios, the
    64-term reductions are order-independent decimal sums, so every
    output double is bit-identical cross-engine."""
    emb = load(spark, sf_dir, "embeddings")
    is_batch = (
        (F.col("vec_id") % INC_MOD) * F.lit(INC_HASH)
    ) % F.lit(INC_MOD) < F.lit(INC_THRESH)
    flat = emb.select(
        "label",
        is_batch.alias("is_batch"),
        F.posexplode("embedding").alias("dim", "vf"),
    ).select(
        "label",
        "dim",
        "is_batch",
        F.floor(F.col("vf").cast("double") * VSCALE).cast("long").alias("fv"),
    )
    per = flat.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_batch"), 0).otherwise(F.col("fv")))
        .cast("long")
        .alias("s_h"),
        F.sum(F.when(F.col("is_batch"), F.col("fv")).otherwise(0))
        .cast("long")
        .alias("s_b"),
        F.sum(F.when(F.col("is_batch"), 0).otherwise(1))
        .cast("long")
        .alias("n_h"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    dims = per.filter((F.col("n_h") > 0) & (F.col("n_b") > 0)).select(
        "label",
        "n_h",
        "n_b",
        (F.col("s_h").cast("double") / F.col("n_h") / VSCALE).alias("ch"),
        (F.col("s_b").cast("double") / F.col("n_b") / VSCALE).alias("cb"),
    )
    diff = F.col("cb") - F.col("ch")
    return (
        dims.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.max("n_h").alias("n_hist"),
            F.max("n_b").alias("n_batch"),
            F.sqrt(dsum(diff * diff)).alias("l2_drift"),
            (
                dsum(F.col("ch") * F.col("cb"))
                / (
                    F.sqrt(dsum(F.col("ch") * F.col("ch")))
                    * F.sqrt(dsum(F.col("cb") * F.col("cb")))
                )
            ).alias("cos_sim"),
        )
        .orderBy("label")
    )


@query(
    "pipeline_e2e_eval_harness",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rn
      FROM scored
    ),
    run AS (
      SELECT rn, label,
             SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cp,
             SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) OVER () AS p,
             COUNT(*) OVER () AS n
      FROM ranked
    ),
    agg AS (
      SELECT CAST(MAX(p) AS BIGINT) AS p,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(n) - MAX(p) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN label = 0 THEN rn ELSE 0 END) AS BIGINT)
               AS rank_sum_desc,
             {DSUM_SQL.format(
                 expr="CASE WHEN label = 0 "
                 "THEN CAST(cp AS DOUBLE) / rn ELSE 0.0 END"
             )} AS ap_sum,
             CAST(MAX(ABS(cp * (n - p) - (rn - cp) * p)) AS BIGINT)
               AS ks_num,
             MAX(2.0 * cp / (rn + p)) AS best_f1,
             CAST(MAX(CASE WHEN rn = p THEN cp END) AS BIGINT) AS cp_at_p
      FROM run
    )
    SELECT metric, value FROM (
      SELECT 'auc' AS metric,
             CAST(p * (n + 1) - rank_sum_desc
                  - (p * (p + 1)) // 2 AS DOUBLE) / (p * nn) AS value
      FROM agg
      UNION ALL
      SELECT 'average_precision', ap_sum / p FROM agg
      UNION ALL
      SELECT 'ks_statistic', CAST(ks_num AS DOUBLE) / (p * nn) FROM agg
      UNION ALL
      SELECT 'best_f1', best_f1 FROM agg
      UNION ALL
      SELECT 'r_precision', CAST(cp_at_p AS DOUBLE) / p FROM agg
      UNION ALL
      SELECT 'base_rate', CAST(p AS DOUBLE) / n FROM agg
    ) ORDER BY metric
    """,
)
def pipeline_e2e_eval_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition #3 — the model-eval harness as ONE pass:
    every ranking metric an embedding/filter eval reports (ROC-AUC,
    average precision, KS separation, best-F1 over all thresholds,
    R-precision, base rate) computed from a SINGLE sorted sweep of the
    shared probe-score stream. The standalone queries
    (ml_linear_probe_auc, ml_average_precision, ml_confusion_thresholds)
    each pay the probe sort for one artifact; a real eval harness pays
    it ONCE and derives the whole report — this query IS that shape,
    and its oracle cross-checks all six numbers simultaneously (AUC by
    the rank-sum identity on the SAME descending rank, AP by the
    running-precision sum, KS/best-F1/R-precision off the one running
    positive count).

    Determinism: one global rank (score DESC, vec_id), one running
    integer window (cum positives), then pure-integer identities —
    AUC from the descending rank sum, KS as a maximized |integer
    cross-product|, best-F1 as a MAX of identical IEEE divisions,
    ap_sum the only DSUM. Output is a 6-row (metric, value) report.

    Scale: scoring is map-side against the broadcast centroid; the
    rank and the running window share ONE sort (same ordering key, no
    second exchange); the final aggregate is map-side combinable to a
    single row. Embeddings are scanned exactly twice (centroid branch +
    scoring branch — the probe_scores contract, plan-asserted). The
    integer cross-products stay under int64 up to ~3·10^9 rows per
    class; past that the same sweep runs on the binned-histogram rank
    like the standalone AUC."""
    scored = probe_scores(spark, sf_dir)
    ranked = scored.select(
        "label",
        F.row_number().over(W.orderBy(F.desc("score"), "vec_id")).alias("rn"),
    )
    pos = F.when(F.col("label") == 0, 1).otherwise(0)
    w_run = W.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    run = ranked.select(
        "rn",
        "label",
        F.sum(pos).over(w_run).alias("cp"),
        F.sum(pos).over(w_all).alias("p"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    agg = run.agg(
        F.max("p").cast("long").alias("p"),
        F.max("n").cast("long").alias("n"),
        (F.max("n") - F.max("p")).cast("long").alias("nn"),
        F.sum(F.when(F.col("label") == 0, F.col("rn")).otherwise(0))
        .cast("long")
        .alias("rank_sum_desc"),
        dsum(
            F.when(
                F.col("label") == 0,
                F.col("cp").cast("double") / F.col("rn"),
            ).otherwise(F.lit(0.0))
        ).alias("ap_sum"),
        F.max(
            F.abs(
                F.col("cp") * (F.col("n") - F.col("p"))
                - (F.col("rn") - F.col("cp")) * F.col("p")
            )
        )
        .cast("long")
        .alias("ks_num"),
        F.max(
            F.lit(2.0) * F.col("cp") / (F.col("rn") + F.col("p"))
        ).alias("best_f1"),
        F.max(F.when(F.col("rn") == F.col("p"), F.col("cp")))
        .cast("long")
        .alias("cp_at_p"),
    )
    # try_divide (r13 division audit): a single-class corpus (p = 0 or
    # nn = 0 — legal) zeroes the p·nn and p denominators and ANSI
    # would abort; the rank metrics are undefined there => NULL
    # (DuckDB's native double division-by-zero NULL).
    auc = F.try_divide(
        (
            F.col("p") * (F.col("n") + 1)
            - F.col("rank_sum_desc")
            - F.expr("(p * (p + 1)) div 2")
        ).cast("double"),
        F.col("p") * F.col("nn"),
    )
    vals = agg.select(
        auc.alias("v_auc"),
        F.try_divide(F.col("ap_sum"), F.col("p")).alias("v_ap"),
        F.try_divide(
            F.col("ks_num").cast("double"), F.col("p") * F.col("nn")
        ).alias("v_ks"),
        F.col("best_f1").alias("v_f1"),
        F.try_divide(F.col("cp_at_p").cast("double"), F.col("p")).alias(
            "v_rp"
        ),
        (F.col("p").cast("double") / F.col("n")).alias("v_br"),
    )
    return vals.select(
        F.expr(
            "stack(6, "
            "'auc', v_auc, "
            "'average_precision', v_ap, "
            "'ks_statistic', v_ks, "
            "'best_f1', v_f1, "
            "'r_precision', v_rp, "
            "'base_rate', v_br"
            ") AS (metric, value)"
        )
    ).orderBy("metric")


@query(
    "ml_expected_calibration_error",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored),
    conf AS (
      SELECT label, vec_id, score,
             (score - lo) / (hi - lo) AS c
      FROM scored CROSS JOIN mm
    ),
    binned AS (
      SELECT label, c,
             NTILE(10) OVER (ORDER BY c, vec_id) AS bin
      FROM conf
    ),
    per_bin AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             {DSUM_SQL.format(expr="c")} / COUNT(*) AS mean_conf,
             CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS pos_rate
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM per_bin)
    SELECT big_n AS n,
           {DSUM_SQL.format(
               expr="(CAST(n AS DOUBLE) / big_n)"
               " * abs(pos_rate - mean_conf)"
           )} AS ece,
           MAX(abs(pos_rate - mean_conf)) AS max_gap
    FROM per_bin CROSS JOIN tot
    GROUP BY big_n
    """,
)
def ml_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected Calibration Error of the min-max-normalized probe
    score: scores map to [0,1] confidences (one exact min/max
    aggregate, broadcast), 10 equal-population rank bins (the
    ml_calibration_bins NTILE convention — no float bin edges), and
    ECE = Σ (n_b/N)·|pos_rate_b − mean_conf_b| plus the worst single
    bin gap. The reliability TABLE says where the score lies; this is
    the scalar a training loop tracks per checkpoint (and the number a
    temperature-scaling pass drives to zero).

    Determinism: min/max are exact selections; each confidence is one
    IEEE affine map; bin means are decimal folds; ECE is a DSUM over
    the 10-row frame.

    Scale: one global rank sort (shared with every probe-eval query) +
    a 10-key rollup; the normalizer rides a 1-row broadcast."""
    scored = probe_scores(spark, sf_dir)
    mm = scored.agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    )
    conf = scored.crossJoin(F.broadcast(mm)).select(
        "label",
        "vec_id",
        # try_divide (r13 division audit): constant scores (legal —
        # e.g. a degenerate probe) zero the min-max range; NULL, not
        # an ANSI abort (DuckDB double /0 is natively NULL).
        F.try_divide(
            F.col("score") - F.col("lo"), F.col("hi") - F.col("lo")
        ).alias(
            "c"
        ),
    )
    binned = conf.select(
        "label",
        "c",
        F.ntile(10).over(W.orderBy("c", "vec_id")).alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum(F.col("c")) / F.count(F.lit(1))).alias("mean_conf"),
        (
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("pos_rate"),
    )
    tot = per_bin.agg(F.sum("n").cast("long").alias("big_n"))
    gap = F.abs(F.col("pos_rate") - F.col("mean_conf"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy(F.col("big_n").alias("n"))
        .agg(
            dsum((F.col("n").cast("double") / F.col("big_n")) * gap).alias(
                "ece"
            ),
            F.max(gap).alias("max_gap"),
        )
    )


@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored),
    conf AS (
      SELECT vec_id,
             CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y,
             (score - lo) / (hi - lo) AS c
      FROM scored CROSS JOIN mm
    ),
    binned AS (
      SELECT y, c, NTILE(10) OVER (ORDER BY c, vec_id) AS bin
      FROM conf
    ),
    per_bin AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             {DSUM_SQL.format(expr="c")} / COUNT(*) AS mean_conf,
             {DSUM_SQL.format(expr="y")} / COUNT(*) AS pos_rate
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS big_n,
             {DSUM_SQL.format(expr="(c - y) * (c - y)")} / COUNT(*)
               AS brier,
             {DSUM_SQL.format(expr="y")} / COUNT(*) AS base_rate
      FROM conf
    )
    SELECT big_n AS n, brier,
           {DSUM_SQL.format(
               expr="(CAST(per_bin.n AS DOUBLE) / big_n)"
               " * (mean_conf - pos_rate) * (mean_conf - pos_rate)"
           )} AS reliability,
           {DSUM_SQL.format(
               expr="(CAST(per_bin.n AS DOUBLE) / big_n)"
               " * (pos_rate - base_rate) * (pos_rate - base_rate)"
           )} AS resolution,
           MAX(base_rate * (1 - base_rate)) AS uncertainty
    FROM per_bin CROSS JOIN tot
    GROUP BY big_n, brier
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the min-max-normalized probe confidence plus its
    Murphy decomposition terms over the shared 10 rank bins:
    reliability (bin confidence vs observed rate, the miscalibration
    mass), resolution (how far bin outcomes spread from the base
    rate — the score's discriminative value), and uncertainty
    (base_rate·(1−base_rate), the irreducible floor). Complements
    ml_expected_calibration_error: ECE is the L1 reliability view,
    Brier the proper-scoring-rule view a forecasting consumer
    optimizes. (With rank bins the three terms approximate the exact
    Murphy identity — forecasts vary within a bin — so all three are
    reported next to the direct Brier mean rather than summed.)

    Determinism: the ECE normalization exactly (min/max broadcast,
    one IEEE affine map per row), squares written x·x, all means
    decimal folds; bins are the shared NTILE rank convention.

    Scale: one global rank sort (shared with every probe-eval query),
    one 10-key rollup, one 1-row corpus fold."""
    scored = probe_scores(spark, sf_dir)
    mm = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    conf = scored.crossJoin(F.broadcast(mm)).select(
        "vec_id",
        F.when(F.col("label") == 0, 1.0).otherwise(0.0).alias("y"),
        # try_divide (r13 division audit): constant scores (legal —
        # e.g. a degenerate probe) zero the min-max range; NULL, not
        # an ANSI abort (DuckDB double /0 is natively NULL).
        F.try_divide(
            F.col("score") - F.col("lo"), F.col("hi") - F.col("lo")
        ).alias(
            "c"
        ),
    )
    binned = conf.select(
        "y", "c", F.ntile(10).over(W.orderBy("c", "vec_id")).alias("bin")
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        (dsum(F.col("c")) / F.count(F.lit(1))).alias("mean_conf"),
        (dsum(F.col("y")) / F.count(F.lit(1))).alias("pos_rate"),
    )
    tot = conf.agg(
        F.count(F.lit(1)).cast("long").alias("big_n"),
        (
            dsum((F.col("c") - F.col("y")) * (F.col("c") - F.col("y")))
            / F.count(F.lit(1))
        ).alias("brier"),
        (dsum(F.col("y")) / F.count(F.lit(1))).alias("base_rate"),
    )
    w = F.col("nb").cast("double") / F.col("big_n")
    rel = (F.col("mean_conf") - F.col("pos_rate")) * (
        F.col("mean_conf") - F.col("pos_rate")
    )
    res = (F.col("pos_rate") - F.col("base_rate")) * (
        F.col("pos_rate") - F.col("base_rate")
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy(F.col("big_n").alias("n"), "brier")
        .agg(
            dsum(w * rel).alias("reliability"),
            dsum(w * res).alias("resolution"),
            F.max(F.col("base_rate") * (1 - F.col("base_rate"))).alias(
                "uncertainty"
            ),
        )
    )
