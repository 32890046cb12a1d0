"""Round-7 pipeline operators: cohort retention, gap sessionization,
RFM segmentation, revenue concentration (Pareto deciles), exact
stratified sampling, and structural schema-profile drift.

Not in the reference (no analytics surface at all, SURVEY.md §2.1 —
its entire query capability is selective decryption,
src/parquet_reader.cpp:92-101); these extend the events_analytics /
profiling / sampling families with the user-lifecycle and
data-profiling artifacts a production warehouse materializes daily.

Determinism conventions (registry docstring): epoch time math is pure
integer over NTZ-safe epoch microseconds (the pipeline5 recipe), every
ratio is either an exact integer ppm (floor of a nonneg integer
division — identical `//`/`div` semantics) or a double produced from
DSUM/exact BIGINTs, NTILE tie-breaks carry a unique key, and signed
deltas stay integer subtraction (never signed integer division, whose
floor-vs-truncate semantics differ across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DAY_US, DSUM_SQL, EPOCH_US_SQL, dsum, fsum, query
from ..tables import load
from .pipeline4 import INC_HASH, INC_MOD, INC_THRESH
from .pipeline8 import FSUM_BARE_SQL

_WEEK_US = 7 * DAY_US
_GAP_US = 30 * 60 * 1_000_000  # 30-min session gap


@query(
    "events_retention_cohorts",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week
      FROM events
    ),
    coh AS (SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY user_id),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM coh GROUP BY cohort
    ),
    act AS (
      SELECT coh.cohort, uw.week - coh.cohort AS off,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM uw JOIN coh ON uw.user_id = coh.user_id
      GROUP BY coh.cohort, uw.week - coh.cohort
    )
    SELECT CAST(act.cohort AS BIGINT) AS cohort_week,
           CAST(act.off AS BIGINT) AS week_offset,
           act.n_active, sizes.n_cohort,
           CAST((1000000 * act.n_active) // sizes.n_cohort AS BIGINT)
             AS retention_ppm
    FROM act JOIN sizes ON act.cohort = sizes.cohort
    ORDER BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first active
    epoch-week, and each (cohort, week-offset) cell counts how many of
    the cohort were active that week — retention as exact ppm. The
    product-health artifact every activity warehouse materializes; on a
    training-data pipeline the same shape audits contributor/source
    retention across ingest waves.

    Scale: one (user, week) distinct (map-side pre-aggregated keyed
    shuffle), one user-grain MIN for the cohort, one co-partitioned
    user-key join back, then a (cohort, offset) count — every frame
    after the join is bounded by weeks², not users. Pure integer math
    throughout (epoch-week floor division, ppm floor division)."""
    ev = load(spark, sf_dir, "events")
    week = F.expr(f"{EPOCH_US_SQL.format(col='ts')} div {_WEEK_US}")
    uw = ev.select("user_id", week.alias("week")).distinct()
    coh = uw.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sizes = coh.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    act = (
        uw.join(coh, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("off"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return (
        act.join(sizes, "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort_week"),
            F.col("off").cast("long").alias("week_offset"),
            "n_active",
            "n_cohort",
            F.expr("1000000 * n_active div n_cohort")
            .cast("long")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_sessionize_gap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    lagd AS (
      SELECT user_id, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev,
             event_id
      FROM e
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(CASE WHEN prev IS NULL OR ts_us - prev > {_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM lagd
    ),
    per AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(ts_us) - MIN(ts_us) AS span_us
      FROM sess GROUP BY user_id, sid
    ),
    hist AS (
      SELECT CASE WHEN n_ev = 1 THEN '1'
                  WHEN n_ev = 2 THEN '2'
                  WHEN n_ev <= 5 THEN '3-5'
                  ELSE '6+' END AS size_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(n_ev) AS BIGINT) AS n_events,
             CAST(SUM(span_us) // COUNT(*) AS BIGINT) AS avg_span_us,
             CAST(MAX(span_us) AS BIGINT) AS max_span_us
      FROM per GROUP BY 1
    )
    SELECT size_bucket, n_sessions, n_events, avg_span_us, max_span_us
    FROM hist ORDER BY size_bucket
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) —
    the canonical event-stream operator: per user, order events by
    (timestamp, event_id), flag gaps > 30 min, session id = running
    flag sum, then report the session-size histogram (1 / 2 / 3-5 / 6+
    events) with exact average and max session spans. The per-user
    two-window chain is the exact shape streaming session windows use,
    expressed batch-side and oracle-checked.

    Scale: both windows partition BY USER (keyed shuffle, arbitrarily
    parallel — never a global sort); the session aggregate is one
    (user, sid) keyed shuffle and the histogram is 4 rows. Timestamps
    are integer epoch-µs, spans and averages integer division — no
    float anywhere."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.expr(EPOCH_US_SQL.format(col="ts")).alias("ts_us"),
    )
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagd = e.select(
        "user_id",
        "ts_us",
        "event_id",
        F.lag("ts_us").over(wo).alias("prev"),
    )
    new_s = F.when(
        F.col("prev").isNull() | (F.col("ts_us") - F.col("prev") > _GAP_US),
        1,
    ).otherwise(0)
    sess = lagd.select(
        "user_id",
        "ts_us",
        F.sum(new_s)
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
    )
    bucket = (
        F.when(F.col("n_ev") == 1, "1")
        .when(F.col("n_ev") == 2, "2")
        .when(F.col("n_ev") <= 5, "3-5")
        .otherwise("6+")
    )
    return (
        per.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.expr("sum(span_us) div count(1)")
            .cast("long")
            .alias("avg_span_us"),
            F.max("span_us").cast("long").alias("max_span_us"),
        )
        .orderBy("size_bucket")
    )


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate) // {DAY_US}) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             {DSUM_SQL.format(expr="o_totalprice")} AS monetary
      FROM orders GROUP BY o_custkey
    ),
    obs AS (SELECT MAX(last_day) AS end_day FROM per),
    scored AS (
      SELECT o_custkey, end_day - last_day AS recency_days, freq, monetary,
        CAST(NTILE(4) OVER (ORDER BY end_day - last_day, o_custkey)
             AS BIGINT) AS r_q,
        CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q,
        CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey)
             AS BIGINT) AS m_q
      FROM per CROSS JOIN obs
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(recency_days) AS BIGINT) AS min_recency_days,
           CAST(MAX(freq) AS BIGINT) AS max_freq,
           {FSUM_BARE_SQL.format(expr="monetary")} AS cell_revenue
    FROM scored GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the order-customer base: per customer,
    Recency (days since last order vs corpus end), Frequency (order
    count), Monetary (exact-decimal total spend); each dimension cut
    into quartiles (NTILE, tie-break by custkey — best quartile 1),
    then the 64-cell segment grid with per-cell counts and revenue.
    The standard lifecycle-marketing segmentation, and on a data
    pipeline the template for any contributor-value segmentation.

    Scale: ONE customer-grain shuffle builds the RFM triple; the three
    quartile cuts are the probe-sort contract (a single sort of the
    customer-grain frame per dimension — at corpus scale swap NTILE for
    approx-percentile cutoffs in the same shape, exactly as the exact
    rank in ml_linear_probe_auc gives way to the binned estimator).
    Cell aggregation is map-side combined into ≤64 rows. Monetary uses
    DSUM end-to-end; quartile boundaries are deterministic because
    every ORDER BY carries the unique custkey."""
    o = load(spark, sf_dir, "orders")
    day = F.expr(f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}")
    per = o.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    obs = per.agg(F.max("last_day").alias("end_day"))
    scored = per.crossJoin(F.broadcast(obs)).select(
        "o_custkey",
        (F.col("end_day") - F.col("last_day")).alias("recency_days"),
        "freq",
        "monetary",
        F.ntile(4)
        .over(
            W.orderBy(
                (F.col("end_day") - F.col("last_day")), F.col("o_custkey")
            )
        )
        .cast("long")
        .alias("r_q"),
        F.ntile(4)
        .over(W.orderBy(F.desc("freq"), "o_custkey"))
        .cast("long")
        .alias("f_q"),
        F.ntile(4)
        .over(W.orderBy(F.desc("monetary"), "o_custkey"))
        .cast("long")
        .alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("recency_days").cast("long").alias("min_recency_days"),
            F.max("freq").cast("long").alias("max_freq"),
            # fsum, not dsum: monetary is a COMPUTED double, and
            # CAST(x AS DECIMAL(38,10)) can land on a half-ulp where the
            # engines' rounding modes disagree (SCALE.md cross-engine
            # note; caught by the gate on this very query)
            fsum(F.col("monetary")).alias("cell_revenue"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@query(
    "profile_pareto_revenue",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey, {DSUM_SQL.format(expr="o_totalprice")} AS spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT spend,
             CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey)
                  AS BIGINT) AS decile
      FROM per
    ),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             {FSUM_BARE_SQL.format(expr="spend")} AS revenue
      FROM ranked GROUP BY decile
    ),
    tot AS (
      SELECT {FSUM_BARE_SQL.format(expr="spend")} AS total_rev FROM ranked
    )
    SELECT decile, n_customers, revenue,
           revenue / total_rev AS revenue_share,
           SUM(revenue) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / total_rev AS cum_share
    FROM agg CROSS JOIN tot ORDER BY decile
    """,
)
def profile_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration curve (the 80/20 audit): customers ranked
    by exact-decimal total spend, cut into deciles, each decile's
    revenue share and the cumulative share — the concentration artifact
    behind skew decisions (a corpus where decile 1 holds 60% of volume
    needs hot-key handling everywhere). The data-pipeline twin is
    source/domain concentration before sampling.

    Scale: one customer-grain shuffle, one decile sort (the probe-sort
    contract; histogram quantiles at corpus scale), then ALL window
    math runs over the 10-row decile frame. Shares divide DSUM-exact
    doubles; the cumulative window is ordered by the unique decile."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("spend")
    )
    ranked = per.select(
        "spend",
        F.ntile(10)
        .over(W.orderBy(F.desc("spend"), "o_custkey"))
        .cast("long")
        .alias("decile"),
    )
    # fsum for the decile/total revenue (spend is a COMPUTED double —
    # the decimal-cast tie hazard, SCALE.md cross-engine note); the
    # total is an exact broadcast singleton, NOT an unordered window sum
    # of doubles (whose accumulation order differs across engines). The
    # cumulative sum stays a window: it is ORDERED by decile, so both
    # engines fold the same 10 doubles in the same sequence.
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        fsum(F.col("spend")).alias("revenue"),
    )
    tot = ranked.agg(fsum(F.col("spend")).alias("total_rev"))
    w_cum = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "revenue",
            (F.col("revenue") / F.col("total_rev")).alias("revenue_share"),
            (F.sum("revenue").over(w_cum) / F.col("total_rev")).alias(
                "cum_share"
            ),
        )
        .orderBy("decile")
    )


@query(
    "sample_stratified_exact",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    n AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST((COUNT(*) + 9) // 10 AS BIGINT) AS quota
      FROM r GROUP BY lang
    ),
    rk AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      FROM r
    ),
    sel AS (
      SELECT rk.lang, rk.doc_id
      FROM rk JOIN n ON rk.lang = n.lang AND rk.rn <= n.quota
    )
    SELECT n.lang, n.n_total, n.quota,
           CAST(COUNT(sel.doc_id) AS BIGINT) AS n_taken,
           CAST(COALESCE(SUM(sel.doc_id), 0) AS BIGINT) AS id_checksum
    FROM n LEFT JOIN sel ON n.lang = sel.lang
    GROUP BY n.lang, n.n_total, n.quota
    ORDER BY n.lang
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: per language stratum, take EXACTLY
    ceil(10%) of documents, chosen by deterministic md5(doc_id) order —
    the reproducible eval-split sampler (Bernoulli sampling only hits
    the rate in expectation; a per-stratum quota is exact by
    construction, which is what a frozen eval set requires). Reported
    per stratum: population, quota, taken (== quota, the invariant),
    and the selected-id checksum so two runs — or two engines — can be
    compared without materializing the sample.

    Scale: one hash projection map-side, per-stratum ROW_NUMBER windows
    (partitioned by lang — keyed shuffle, arbitrarily parallel), one
    broadcastable quota join. At corpus scale the same shape holds;
    only a skewed mega-stratum would motivate a two-phase
    (per-partition pre-rank) refinement."""
    docs = load(spark, sf_dir, "documents")
    r = docs.select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    n = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.expr("CAST((count(1) + 9) div 10 AS BIGINT)").alias("quota"),
    )
    rk = r.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(W.partitionBy("lang").orderBy("h", "doc_id"))
        .alias("rn"),
    )
    sel = rk.join(n, "lang").filter(F.col("rn") <= F.col("quota")).select(
        "lang", "doc_id"
    )
    return (
        n.join(sel, "lang", "left")
        .groupBy("lang", "n_total", "quota")
        .agg(
            F.count(F.col("doc_id")).cast("long").alias("n_taken"),
            F.coalesce(F.sum("doc_id"), F.lit(0))
            .cast("long")
            .alias("id_checksum"),
        )
        .orderBy("lang")
    )


@query(
    "dq_schema_drift",
    oracle=f"""
    WITH flagged AS (
      SELECT *,
             ((doc_id % {INC_MOD}) * {INC_HASH}) % {INC_MOD}
               < {INC_THRESH} AS is_batch
      FROM documents
    ),
    wide AS (
      SELECT
        CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS n_h,
        CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN NOT is_batch AND (text IS NULL OR text = '')
                 THEN 1 ELSE 0 END) AS BIGINT) AS text_empty_h,
        CAST(SUM(CASE WHEN is_batch AND (text IS NULL OR text = '')
                 THEN 1 ELSE 0 END) AS BIGINT) AS text_empty_b,
        CAST(1000 * SUM(CASE WHEN is_batch THEN 0
                 ELSE length(text) END)
             // SUM(CASE WHEN is_batch THEN 0 ELSE 1 END)
             AS BIGINT) AS text_len_x1000_h,
        CAST(1000 * SUM(CASE WHEN is_batch THEN length(text) ELSE 0 END)
             // SUM(CASE WHEN is_batch THEN 1 ELSE 0 END)
             AS BIGINT) AS text_len_x1000_b,
        CAST(COUNT(DISTINCT CASE WHEN NOT is_batch THEN lang END)
             AS BIGINT) AS lang_distinct_h,
        CAST(COUNT(DISTINCT CASE WHEN is_batch THEN lang END)
             AS BIGINT) AS lang_distinct_b,
        CAST(COUNT(DISTINCT CASE WHEN NOT is_batch THEN source END)
             AS BIGINT) AS source_distinct_h,
        CAST(COUNT(DISTINCT CASE WHEN is_batch THEN source END)
             AS BIGINT) AS source_distinct_b,
        CAST(MIN(CASE WHEN NOT is_batch THEN n_chars END)
             AS BIGINT) AS nchars_min_h,
        CAST(MIN(CASE WHEN is_batch THEN n_chars END)
             AS BIGINT) AS nchars_min_b,
        CAST(MAX(CASE WHEN NOT is_batch THEN n_chars END)
             AS BIGINT) AS nchars_max_h,
        CAST(MAX(CASE WHEN is_batch THEN n_chars END)
             AS BIGINT) AS nchars_max_b
      FROM flagged
    )
    SELECT * FROM (
      SELECT 'rows' AS column_name, 'count' AS metric,
             n_h AS hist_value, n_b AS batch_value, n_b - n_h AS delta
      FROM wide
      UNION ALL
      SELECT 'text', 'null_or_empty', text_empty_h, text_empty_b,
             text_empty_b - text_empty_h FROM wide
      UNION ALL
      SELECT 'text', 'avg_len_x1000', text_len_x1000_h, text_len_x1000_b,
             text_len_x1000_b - text_len_x1000_h FROM wide
      UNION ALL
      SELECT 'lang', 'distinct', lang_distinct_h, lang_distinct_b,
             lang_distinct_b - lang_distinct_h FROM wide
      UNION ALL
      SELECT 'source', 'distinct', source_distinct_h, source_distinct_b,
             source_distinct_b - source_distinct_h FROM wide
      UNION ALL
      SELECT 'n_chars', 'min', nchars_min_h, nchars_min_b,
             nchars_min_b - nchars_min_h FROM wide
      UNION ALL
      SELECT 'n_chars', 'max', nchars_max_h, nchars_max_b,
             nchars_max_b - nchars_max_h FROM wide
    ) ORDER BY column_name, metric
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural schema-profile drift between settled history and the
    20% ingest batch (the SAME Knuth-hash split dedup_incremental /
    dq_distribution_drift / embeddings_centroid_drift audit): per
    column, the profile a schema registry tracks — row counts,
    null-or-empty counts, average text length (×1000 integer), distinct
    cardinality of the categorical columns, numeric min/max — each as
    (history, batch, signed delta) rows. dq_distribution_drift watches
    VALUE distributions; this watches SHAPE (a upstream producer change
    that starts emitting empty text or a new source enum lands here
    first).

    Scale: ONE pass over documents — a single wide conditional
    aggregate (map-side combined; the two DISTINCT columns are
    low-cardinality enums so the distinct partials stay tiny), then a
    7-row literal unpivot. Deltas are integer subtraction — never
    signed integer division, whose floor-vs-truncate semantics differ
    cross-engine."""
    docs = load(spark, sf_dir, "documents")
    is_batch = (
        (F.col("doc_id") % INC_MOD) * F.lit(INC_HASH)
    ) % F.lit(INC_MOD) < F.lit(INC_THRESH)
    flagged = docs.withColumn("is_batch", is_batch)
    b = F.col("is_batch")
    empty = F.col("text").isNull() | (F.col("text") == "")
    wide = flagged.agg(
        F.sum(F.when(b, 0).otherwise(1)).cast("long").alias("n_h"),
        F.sum(F.when(b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~b & empty, 1).otherwise(0))
        .cast("long")
        .alias("text_empty_h"),
        F.sum(F.when(b & empty, 1).otherwise(0))
        .cast("long")
        .alias("text_empty_b"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN is_batch THEN 0 ELSE length(text) "
            "END) div sum(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("text_len_x1000_h"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN is_batch THEN length(text) ELSE 0 "
            "END) div sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("text_len_x1000_b"),
        F.count_distinct(F.when(~b, F.col("lang")))
        .cast("long")
        .alias("lang_distinct_h"),
        F.count_distinct(F.when(b, F.col("lang")))
        .cast("long")
        .alias("lang_distinct_b"),
        F.count_distinct(F.when(~b, F.col("source")))
        .cast("long")
        .alias("source_distinct_h"),
        F.count_distinct(F.when(b, F.col("source")))
        .cast("long")
        .alias("source_distinct_b"),
        F.min(F.when(~b, F.col("n_chars"))).cast("long").alias("nchars_min_h"),
        F.min(F.when(b, F.col("n_chars"))).cast("long").alias("nchars_min_b"),
        F.max(F.when(~b, F.col("n_chars"))).cast("long").alias("nchars_max_h"),
        F.max(F.when(b, F.col("n_chars"))).cast("long").alias("nchars_max_b"),
    )
    rows = wide.select(
        F.expr(
            "stack(7, "
            "'rows', 'count', n_h, n_b, "
            "'text', 'null_or_empty', text_empty_h, text_empty_b, "
            "'text', 'avg_len_x1000', text_len_x1000_h, text_len_x1000_b, "
            "'lang', 'distinct', lang_distinct_h, lang_distinct_b, "
            "'source', 'distinct', source_distinct_h, source_distinct_b, "
            "'n_chars', 'min', nchars_min_h, nchars_min_b, "
            "'n_chars', 'max', nchars_max_h, nchars_max_b"
            ") AS (column_name, metric, hist_value, batch_value)"
        )
    )
    return rows.select(
        "column_name",
        "metric",
        "hist_value",
        "batch_value",
        (F.col("batch_value") - F.col("hist_value")).alias("delta"),
    ).orderBy("column_name", "metric")
