"""Round-7 batch-2 operators: Kaplan-Meier survival curve, lead-lag
cross-correlation, funnel time-to-convert percentiles, and the
Heaps-law vocabulary-growth curve.

Not in the reference (no analytics surface, SURVEY.md §2.1 — its
entire query capability is selective decryption,
src/parquet_reader.cpp:92-101); these deepen the events-analytics and
text-analysis families with the survival/diagnostic artifacts a
warehouse and a corpus-prep pipeline actually materialize.

Determinism conventions (registry docstring): epoch time math is pure
integer over NTZ-safe epoch microseconds, percentile selection is
rank-based pass-through (never interpolation), and the one cumulative
PRODUCT in the KM curve is an ordered left fold over an identically
ordered bounded list in both engines (Spark ``F.aggregate`` over a
windowed ``collect_list``, DuckDB ``list_reduce`` over a windowed
``list``) — same multiply order, bit-identical IEEE doubles. No
transcendental log/exp anywhere (house rule since text_index's BM25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DAY_US, DSUM_SQL, EPOCH_US_SQL, HOUR_US, dsum, query
from ..tables import load
from .pipeline5 import CHURN_WINDOW_DAYS

# lead-lag sweep for the daily view→purchase cross-correlation
_XCORR_MAX_LAG = 7
# Heaps-law vocabulary checkpoints (token-count prefix sizes); both
# engines keep only checkpoints <= the corpus token total, so the row
# set adapts to SF without any engine-side branching.
_HEAPS_CHECKPOINTS = [
    1000, 2000, 4000, 8000, 16000, 32000, 64000, 128000,
    256000, 512000, 1024000,
]
_FUNNEL_PCTS = [25, 50, 75, 90]


@query(
    "events_survival_km",
    oracle=f"""
    WITH u AS (
      SELECT o_custkey,
             MIN(epoch_us(o_orderdate) // {DAY_US}) AS f,
             MAX(epoch_us(o_orderdate) // {DAY_US}) AS l
      FROM orders GROUP BY o_custkey
    ),
    obs AS (SELECT MAX(l) AS end_day FROM u),
    lt AS (
      SELECT (l - f) // 7 AS dur,
             (l < end_day - {CHURN_WINDOW_DAYS - 1}) AS churned
      FROM u CROSS JOIN obs
    ),
    g AS (
      SELECT dur,
             CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
      FROM lt GROUP BY dur
    ),
    r AS (
      SELECT dur, d, c,
             SUM(d + c) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
      FROM g
    ),
    fct AS (
      SELECT dur, d, c, at_risk,
             CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / at_risk AS km_factor
      FROM r
    ),
    s AS (
      SELECT dur, d, c, at_risk, km_factor,
             list_reduce(
               list(km_factor) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (a, b) -> a * b) AS survival
      FROM fct
    )
    SELECT CAST(dur AS BIGINT) AS duration_weeks,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           d AS n_churned, c AS n_censored,
           km_factor, survival
    FROM s WHERE d > 0 ORDER BY duration_weeks
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer order lifetimes — the
    integral of events_churn_hazard's life table (pipeline5.py:152,
    same lifetime/censoring framing: lifetime = last−first order day in
    weeks, censored when the last order falls in the corpus's final 90
    days). Per event week t: the KM factor (1 − d_t/n_t) and the
    survival estimate S(t) = Π_{{t'≤t}} (1 − d_t'/n_t') — the curve a
    retention dashboard plots and the quantity whose medians get
    compared across cohorts.

    Determinism: the cumulative product is an ordered LEFT FOLD over
    the per-week factors (Spark ``F.aggregate`` on a running
    ``collect_list`` window, DuckDB ``list_reduce`` on a running
    ``list``) — both engines multiply the SAME doubles in the SAME
    ascending-week order, so every S(t) is bit-identical; no
    exp(sum(ln)) anywhere. Zero-event weeks contribute an exact 1.0
    factor (multiplicative identity — bitwise no-op) and are dropped
    from the output like the hazard table's d>0 rule.

    Scale: ONE customer-grain shuffle (min/max order day per key,
    map-side combined); every later frame is |distinct lifetime weeks|
    rows (bounded by the corpus date span, ~350 at any corpus size),
    so the descending at-risk window, the running product list, and
    the fold all run single-partition over that bounded frame by
    design — the same bounded-frame argument as events_churn_hazard."""
    ev = load(spark, sf_dir, "orders")
    day = f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
    u = (
        ev.select("o_custkey", F.expr(day).alias("day"))
        .groupBy("o_custkey")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
    )
    obs = u.agg(F.max("l").alias("end_day"))
    lt = u.crossJoin(F.broadcast(obs)).select(
        F.expr("(l - f) div 7").alias("dur"),
        (F.col("l") < F.col("end_day") - (CHURN_WINDOW_DAYS - 1)).alias(
            "churned"
        ),
    )
    g = lt.groupBy("dur").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1)).cast("long").alias("c"),
    )
    w_desc = W.orderBy(F.desc("dur")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = g.select(
        "dur", "d", "c", F.sum(F.col("d") + F.col("c")).over(w_desc).alias(
            "at_risk"
        )
    )
    fct = r.select(
        "dur",
        "d",
        "c",
        "at_risk",
        (
            F.lit(1.0) - F.col("d").cast("double") / F.col("at_risk")
        ).alias("km_factor"),
    )
    w_asc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    s = fct.select(
        "dur",
        "d",
        "c",
        "at_risk",
        "km_factor",
        F.aggregate(
            F.collect_list("km_factor").over(w_asc),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("survival"),
    )
    return (
        s.filter(F.col("d") > 0)
        .select(
            F.col("dur").cast("long").alias("duration_weeks"),
            F.col("at_risk").cast("long").alias("n_at_risk"),
            F.col("d").alias("n_churned"),
            F.col("c").alias("n_censored"),
            "km_factor",
            "survival",
        )
        .orderBy("duration_weeks")
    )


@query(
    "events_cross_correlation",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // {DAY_US} AS day, event_type FROM events
    ),
    b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM e),
    spine AS (SELECT unnest(range(mn, mx + 1)) AS day FROM b),
    d AS (
      SELECT spine.day,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS y
      FROM spine LEFT JOIN e ON e.day = spine.day
      GROUP BY spine.day
    ),
    lags AS (SELECT unnest(range(0, {_XCORR_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT lags.lag, dx.x, dy.y
      FROM lags
      JOIN d dx ON TRUE
      JOIN d dy ON dy.day = dx.day + lags.lag
    ),
    agg AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_days, n_days,
           CASE WHEN (n_days * sxx - sx * sx) = 0
                  OR (n_days * syy - sy * sy) = 0 THEN NULL
                ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
           END AS xcorr
    FROM agg ORDER BY lag_days
    """,
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily 'view' and
    'purchase' count series: Pearson r between x_t (views on day t)
    and y_{{t+L}} (purchases L days later) for L = 0..7 — the
    diagnostic that answers "how many days does engagement lead
    revenue", sibling of events_order_autocorr's ACF but across TWO
    series. Days with no events count as exact zeros via the dense
    min..max day spine (dropping them would bias r toward bursts).

    Determinism: the daily counts and all five sufficient statistics
    (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs; r is one double
    division over two sqrt's of exact-integer-valued doubles — IEEE
    division and sqrt are correctly rounded, so r is bit-identical
    cross-engine. Degenerate (zero-variance) windows yield NULL,
    stated identically on both sides. Int64 headroom: the products
    overflow only past ~3e9 events/day (Σ(x·y) over a ~month of days);
    beyond that the same shape runs with DECIMAL(38,0) partials.

    Scale: ONE conditional-aggregate pass over events (map-side
    combined to |days| rows); the spine, the lag table, and the
    shifted self-join all operate on that bounded daily frame (~30
    rows here, ~3650 for a decade — never corpus-sized), so the
    join is a broadcast no matter the corpus size."""
    ev = load(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {DAY_US}").alias("day"), "event_type"
    )
    b = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = b.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day")
    )
    counts = ev.groupBy("day").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    d = (
        spine.join(counts, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        )
    )
    lags = spark.range(_XCORR_MAX_LAG + 1).select(F.col("id").alias("lag"))
    dx = d.select(F.col("day").alias("dx_day"), F.col("x"))
    dy = d.select(F.col("day").alias("dy_day"), F.col("y"))
    pairs = (
        dx.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(dy),
            F.col("dy_day") == F.col("dx_day") + F.col("lag"),
        )
        .select("lag", "x", "y")
    )
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    varx = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when((varx == 0) | (vary == 0), F.lit(None).cast("double")).otherwise(
        num.cast("double")
        / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag_days"),
        "n_days",
        r.alias("xcorr"),
    ).orderBy("lag_days")


@query(
    "events_funnel_time_to_convert",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_type, epoch_us(ts) AS t,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    c AS (
      SELECT user_id, event_type, t, t_view,
             MIN(CASE WHEN event_type = 'click' AND t > t_view THEN t END)
               OVER (PARTITION BY user_id) AS t_click
      FROM v
    ),
    p AS (
      SELECT user_id, t_view, t_click,
             MIN(CASE WHEN event_type = 'purchase' AND t > t_click
                      THEN t END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM c
    ),
    u AS (SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM p),
    delays AS (
      SELECT user_id, 'view_to_click' AS step,
             t_click - t_view AS delay_us
      FROM u WHERE t_click IS NOT NULL
      UNION ALL
      SELECT user_id, 'click_to_purchase' AS step,
             t_purchase - t_click AS delay_us
      FROM u WHERE t_purchase IS NOT NULL
    ),
    ranked AS (
      SELECT step, delay_us,
             ROW_NUMBER() OVER (
               PARTITION BY step ORDER BY delay_us, user_id) AS rn,
             COUNT(*) OVER (PARTITION BY step) AS n
      FROM delays
    )
    SELECT step,
           CAST(MAX(n) AS BIGINT) AS n_users,
           {" ".join(
               f"CAST(MAX(CASE WHEN rn = ({p} * n + 99) // 100"
               f" THEN delay_us END) AS BIGINT) AS p{p}_us,"
               for p in _FUNNEL_PCTS
           )}
           {DSUM_SQL.format(expr="CAST(delay_us AS DOUBLE)")} / MAX(n)
             AS mean_us
    FROM ranked GROUP BY step ORDER BY step
    """,
)
def events_funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution for each adjacent funnel step
    (view→click, click→purchase, the events_funnel step chain without
    its 1-hour cutoff): per step, the exact p25/p50/p75/p90 of the
    per-user conversion delay plus the mean — the latency profile that
    tells a growth team WHERE the funnel stalls, which the step-count
    funnel cannot show. Delays are first-view to first-qualifying-
    click to first-qualifying-purchase, strictly ordered per user.

    Determinism: step times come from chained conditional window
    minima over exact epoch-µs integers (the events_funnel recipe);
    delays are integer subtraction;
    percentiles are rank-selected pass-through values (ceil(p·n) by
    integer arithmetic, user_id tiebreak — the events_percentiles_exact
    recipe); the mean is DSUM / n.

    Scale: the three chained windows share the user_id partitioning —
    ONE user shuffle, windows evaluated in sequence on the sorted run;
    the delay frame is ≤2 rows per user; the percentile rank within
    each of the 2 step partitions is the distributed sort an exact
    percentile fundamentally needs (approx path: q42's
    approx_percentile)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts_us").alias("t")
    )
    w = W.partitionBy("user_id")
    v = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w),
    )
    c = v.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("t") > F.col("t_view")),
                F.col("t"),
            )
        ).over(w),
    )
    p = c.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t") > F.col("t_click")),
                F.col("t"),
            )
        ).over(w),
    )
    u = p.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    delays = u.selectExpr(
        "user_id",
        "stack(2, "
        "'view_to_click', t_click - t_view, "
        "'click_to_purchase', t_purchase - t_click"
        ") AS (step, delay_us)",
    ).filter(F.col("delay_us").isNotNull())
    ws = W.partitionBy("step")
    ranked = delays.select(
        "step",
        "delay_us",
        F.row_number().over(ws.orderBy("delay_us", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )

    def pick(pct: int):
        idx = F.expr(f"({pct} * n + 99) div 100")
        return (
            F.max(F.when(F.col("rn") == idx, F.col("delay_us")))
            .cast("long")
            .alias(f"p{pct}_us")
        )

    return (
        ranked.groupBy("step")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            *[pick(pct) for pct in _FUNNEL_PCTS],
            (
                dsum(F.col("delay_us").cast("double")) / F.max("n")
            ).alias("mean_us"),
        )
        .orderBy("step")
    )


@query(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    w AS (
      SELECT doc_id, u.i, t[u.i + 1] AS token
      FROM tok, LATERAL (SELECT unnest(range(len(t))) AS i) u
    ),
    nz AS (SELECT doc_id, i, token FROM w WHERE token <> ''),
    idx AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY doc_id, i) AS gidx
      FROM nz
    ),
    frst AS (SELECT token, MIN(gidx) AS fi FROM idx GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    chk AS (
      SELECT unnest([{", ".join(str(c) for c in _HEAPS_CHECKPOINTS)}])
        AS n_tokens
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens_seen,
           CAST(SUM(CASE WHEN fi <= n_tokens THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_size
    FROM frst CROSS JOIN chk CROSS JOIN tot
    WHERE n_tokens <= n
    GROUP BY n_tokens
    ORDER BY n_tokens_seen
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token count after
    the first N corpus tokens (N = 1k, 2k, 4k, ... capped at the corpus
    total), reading the corpus in (doc_id, position) order — the
    diagnostic that tells a tokenizer/vocab team whether vocabulary is
    still growing (fresh data) or saturating (dup-heavy crawl), and the
    empirical curve V(N) ≈ K·N^β whose flattening is a dedup health
    signal. Checkpoints beyond the corpus size are dropped identically
    in both engines, so the row set adapts to SF with no branching.

    Determinism: token order is total ((doc_id, pos) — split positions
    are assigned BEFORE the empty-token filter in both engines); the
    global index is a ROW_NUMBER over that total order; first-occurrence
    index and all checkpoint counts are exact integers.

    Scale: the corpus-order global index is the one big operation — a
    range-partitioned sort keyed by (doc_id, pos), the same contract as
    the engine's other global ranks; first-occurrence is one map-side-
    combinable MIN per token; the checkpoint grid is a broadcast
    ~11-row frame. At 100 TB the curve is computed on a bounded prefix
    (the checkpoints cap N), so a scan-and-stop over doc_id-ordered
    shards reads only the prefix — the full-corpus sort here is the
    exact-gate shape, not the production one."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w_tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "token"),
    )
    nz = w_tok.filter(F.col("token") != "")
    idx = nz.select(
        "token",
        F.row_number().over(W.orderBy("doc_id", "i")).alias("gidx"),
    )
    frst = idx.groupBy("token").agg(F.min("gidx").alias("fi"))
    tot = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    chk = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c) for c in _HEAPS_CHECKPOINTS])
        ).alias("n_tokens")
    )
    return (
        frst.crossJoin(F.broadcast(chk))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_tokens") <= F.col("n"))
        .groupBy("n_tokens")
        .agg(
            F.sum(F.when(F.col("fi") <= F.col("n_tokens"), 1).otherwise(0))
            .cast("long")
            .alias("vocab_size")
        )
        .select(
            F.col("n_tokens").cast("long").alias("n_tokens_seen"),
            "vocab_size",
        )
        .orderBy("n_tokens_seen")
    )


@query(
    "orders_cohort_ltv",
    oracle=f"""
    WITH om AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
             o_totalprice
      FROM orders
    ),
    coh AS (SELECT o_custkey, MIN(m) AS cm FROM om GROUP BY o_custkey),
    sizes AS (
      SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM coh GROUP BY cm
    ),
    rev AS (
      SELECT coh.cm, om.m - coh.cm AS off,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(om.o_totalprice AS DECIMAL(38,10))) AS rev_dec
      FROM om JOIN coh ON om.o_custkey = coh.o_custkey
      GROUP BY coh.cm, om.m - coh.cm
    ),
    cum AS (
      SELECT cm, off, n_orders, rev_dec,
             SUM(rev_dec) OVER (PARTITION BY cm ORDER BY off
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
      FROM rev
    )
    SELECT CAST(cum.cm AS BIGINT) AS cohort_month,
           CAST(cum.off AS BIGINT) AS month_offset,
           sizes.n_customers, cum.n_orders,
           CAST(CAST(cum.rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(CAST(cum.cum_dec AS VARCHAR) AS DOUBLE)
             / sizes.n_customers AS cum_ltv_per_user
    FROM cum JOIN sizes ON cum.cm = sizes.cm
    ORDER BY cohort_month, month_offset
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by FIRST-order
    month, each cohort's revenue tracked by month offset since
    acquisition, cumulated into LTV-per-user — the revenue-side
    companion of events_retention_cohorts (which counts activity, not
    value) and the curve a growth model fits payback periods on.
    Month index is the pure-integer year·12+month−1 (calendar fields of
    NTZ timestamps — no date arithmetic whose week/month rules could
    diverge).

    Determinism: the cumulative revenue is windowed over
    DECIMAL(38,10) — exact and ORDER-FREE, so it is immune to the
    engines' different windowed-sum accumulation orders (DuckDB's
    segment tree vs Spark's running frame — a double cum-sum here
    would be last-ulp unstable); the only doubles are final casts and
    one division by the exact cohort size.

    Scale: one customer-grain shuffle for cohorts, one co-partitioned
    join back on custkey, a (cohort × offset)-grain aggregate with
    map-side combine — the window then runs over that bounded frame
    (≤ span² ≈ 7k rows for 7 years, at any corpus size), partitioned
    by cohort."""
    om = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        "o_totalprice",
    )
    coh = om.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    sizes = coh.groupBy("cm").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    rev = (
        om.join(coh, "o_custkey")
        .groupBy("cm", (F.col("m") - F.col("cm")).alias("off"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias(
                "rev_dec"
            ),
        )
    )
    w_cum = (
        W.partitionBy("cm")
        .orderBy("off")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = rev.select(
        "cm",
        "off",
        "n_orders",
        "rev_dec",
        F.sum("rev_dec").over(w_cum).alias("cum_dec"),
    )
    return (
        cum.join(sizes, "cm")
        .select(
            F.col("cm").cast("long").alias("cohort_month"),
            F.col("off").cast("long").alias("month_offset"),
            "n_customers",
            "n_orders",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("cum_dec").cast("double") / F.col("n_customers")
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@query(
    "events_new_vs_returning",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ),
    ud AS (SELECT DISTINCT user_id, day FROM e),
    frst AS (SELECT user_id, MIN(day) AS f FROM ud GROUP BY user_id)
    SELECT CAST(ud.day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN frst.f = ud.day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN frst.f = ud.day THEN 0 ELSE 1 END)
                AS BIGINT) AS n_returning,
           CAST((1000000 * SUM(CASE WHEN frst.f = ud.day THEN 1 ELSE 0
                               END)) // COUNT(*) AS BIGINT) AS new_ppm
    FROM ud JOIN frst ON ud.user_id = frst.user_id
    GROUP BY ud.day ORDER BY day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users decomposed into NEW (first-ever-seen today)
    vs RETURNING — the growth-accounting split every DAU dashboard
    leads with (a flat DAU can hide collapsing acquisition masked by
    retention, and vice versa); new_ppm is the acquisition share as an
    exact integer ppm.

    Determinism: pure integer day bucketing (epoch-µs div), exact
    counts, floor ppm — no floats anywhere.

    Scale: one (user, day) dedup shuffle, one user-grain MIN (map-side
    combined), one co-partitioned join back on user_id, then a
    |days|-row aggregate. The first-seen frame is the incremental
    state a production pipeline keeps as a keyed table — this query is
    its full-recompute spec."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    )
    ud = e.distinct()
    frst = ud.groupBy("user_id").agg(F.min("day").alias("f"))
    flagged = ud.join(frst, "user_id").select(
        "day", (F.col("f") == F.col("day")).alias("is_new")
    )
    return (
        flagged.groupBy(F.col("day").cast("long").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("is_new"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("is_new"), 0).otherwise(1))
            .cast("long")
            .alias("n_returning"),
            F.expr(
                "(1000000 * sum(case when is_new then 1 else 0 end))"
                " div count(*)"
            )
            .cast("long")
            .alias("new_ppm"),
        )
        .orderBy("day")
    )


@query(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS gap_us
      FROM events
    ),
    gg AS (SELECT user_id, event_id, gap_us FROM g
           WHERE gap_us IS NOT NULL),
    r AS (
      SELECT gap_us,
             ROW_NUMBER() OVER (ORDER BY gap_us, user_id, event_id)
               AS rn,
             COUNT(*) OVER () AS n
      FROM gg
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100
                         THEN gap_us END) AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100
                         THEN gap_us END) AS BIGINT) AS p90_us,
           CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100
                         THEN gap_us END) AS BIGINT) AS p99_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us,
           CAST(SUM(gap_us) AS BIGINT) / CAST(MAX(n) AS DOUBLE)
             AS mean_us
    FROM r
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution: per-user consecutive event
    gaps (event-time order, event_id tiebreak), summarized as exact
    p50/p90/p99/max/mean — the statistic that CALIBRATES the
    sessionization gap threshold (where events_sessionize_gap's
    30-minute cut falls in this distribution decides how aggressively
    sessions fragment) and feeds arrival-process models.

    Determinism: gaps are exact integer µs from a per-user LAG;
    percentiles are rank-selected pass-through integers (the
    events_percentiles_exact recipe with a (gap, user, event) total
    order); the mean is an exact BIGINT sum over a double count.

    Scale: one user_id shuffle for the LAG window, then ONE global
    rank over the gap stream — the distributed sort an exact global
    percentile fundamentally needs (approx path: q42). The final
    aggregate is a single row."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    wu = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        "user_id",
        "event_id",
        (F.col("ts_us") - F.lag("ts_us").over(wu)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = g.select(
        "gap_us",
        F.row_number()
        .over(W.orderBy("gap_us", "user_id", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )

    def pick(p: int):
        idx = F.expr(f"({p} * n + 99) div 100")
        return (
            F.max(F.when(F.col("rn") == idx, F.col("gap_us")))
            .cast("long")
            .alias(f"p{p}_us")
        )

    return r.agg(
        F.max("n").cast("long").alias("n_gaps"),
        pick(50),
        pick(90),
        pick(99),
        F.max("gap_us").cast("long").alias("max_us"),
        (
            F.sum("gap_us").cast("long") / F.max("n").cast("double")
        ).alias("mean_us"),
    )


_BASE_WEEKS = 3  # baseline window for the seasonal-residual monitor


@query(
    "events_seasonal_residual_anomaly",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // ({DAY_US} * 7) AS week,
             (epoch_us(ts) // {DAY_US} + 3) % 7 AS dow,
             (epoch_us(ts) // {HOUR_US}) % 24 AS hour
      FROM events
    ),
    mn AS (SELECT MIN(week) AS w0 FROM e),
    cells AS (
      SELECT week, dow, hour, CAST(COUNT(*) AS BIGINT) AS x
      FROM e GROUP BY week, dow, hour
    ),
    base AS (
      SELECT dow, hour,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM cells CROSS JOIN mn
      WHERE week < w0 + {_BASE_WEEKS}
      GROUP BY dow, hour
    ),
    ev AS (
      SELECT cells.week, cells.dow, cells.hour, cells.x,
             base.nb, base.s, base.ss
      FROM cells CROSS JOIN mn
      JOIN base ON cells.dow = base.dow AND cells.hour = base.hour
      WHERE cells.week >= mn.w0 + {_BASE_WEEKS}
    )
    SELECT CAST(week AS BIGINT) AS week,
           CAST(dow AS BIGINT) AS dow,
           CAST(hour AS BIGINT) AS hour,
           x AS n_events,
           CAST(s AS DOUBLE) / nb AS baseline_mean,
           CAST(nb * x - s AS DOUBLE) / sqrt(CAST(nb * ss - s * s
                                                  AS DOUBLE)) AS z
    FROM ev
    WHERE nb * ss > s * s
      AND (nb * x - s) * (nb * x - s) > 4 * (nb * ss - s * s)
    ORDER BY week, dow, hour
    """,
)
def events_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-aware volume anomalies: hourly event counts in the
    evaluation weeks are z-scored against the SAME (dow, hour) cell's
    baseline (first {_BASE_WEEKS} corpus weeks) — the residual monitor
    that doesn't page on every Monday-morning spike the way a flat
    threshold (events_anomaly_zscore's per-user variant) would.
    Flagged: |z| > 2 with positive baseline variance.

    Determinism: the flag decision is PURE INTEGER — the |z| > 2 test
    cross-multiplies to (nb·x − s)² > 4·(nb·ss − s²) before any
    division, so no borderline cell can flip on a float ulp; the
    reported z re-derives the same quantity as one double division
    over an IEEE sqrt of an exact integer.

    Scale: one map-side bucketing pass into (week × 168) cells; the
    baseline aggregate and the join both run on that bounded frame
    (weeks·168 rows at any event volume). The production form keeps
    the 168-cell baseline as a broadcast dimension updated weekly."""
    e = load(spark, sf_dir, "events").select(
        F.expr(f"ts_us div ({DAY_US} * 7)").alias("week"),
        ((F.expr(f"ts_us div {DAY_US}") + 3) % 7).alias("dow"),
        (F.expr(f"ts_us div {HOUR_US}") % 24).alias("hour"),
    )
    mn = e.agg(F.min("week").alias("w0"))
    cells = e.groupBy("week", "dow", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    cm = cells.crossJoin(F.broadcast(mn))
    base = (
        cm.filter(F.col("week") < F.col("w0") + _BASE_WEEKS)
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
        )
    )
    ev = (
        cm.filter(F.col("week") >= F.col("w0") + _BASE_WEEKS)
        .join(F.broadcast(base), ["dow", "hour"])
    )
    var_n2 = F.col("nb") * F.col("ss") - F.col("s") * F.col("s")
    dev_n = F.col("nb") * F.col("x") - F.col("s")
    return (
        ev.filter((var_n2 > 0) & (dev_n * dev_n > 4 * var_n2))
        .select(
            F.col("week").cast("long").alias("week"),
            F.col("dow").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
            F.col("x").alias("n_events"),
            (F.col("s").cast("double") / F.col("nb")).alias(
                "baseline_mean"
            ),
            (dev_n.cast("double") / F.sqrt(var_n2.cast("double"))).alias(
                "z"
            ),
        )
        .orderBy("week", "dow", "hour")
    )


_ATTR_WINDOW_US = 7 * DAY_US  # attribution lookback


@query(
    "events_attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS pid, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_type, epoch_us(ts) AS tt
      FROM events WHERE event_type <> 'purchase'
    ),
    touch AS (
      SELECT p.pid, t.event_type
      FROM p JOIN t ON t.user_id = p.user_id
                   AND t.tt < p.pt AND t.tt >= p.pt - {_ATTR_WINDOW_US}
    ),
    per AS (
      SELECT pid, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM touch GROUP BY pid, event_type
    ),
    tot AS (SELECT pid, CAST(SUM(c) AS BIGINT) AS n FROM per GROUP BY pid),
    npur AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases FROM p),
    credit AS (
      SELECT per.event_type, per.c,
             CAST(per.c AS DOUBLE) / tot.n AS w
      FROM per JOIN tot ON per.pid = tot.pid
    )
    SELECT event_type AS channel,
           CAST(SUM(c) AS BIGINT) AS n_touches,
           CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
           {DSUM_SQL.format(expr="w")} AS credit,
           n_purchases
    FROM credit CROSS JOIN npur
    GROUP BY event_type, n_purchases ORDER BY channel
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: every
    non-purchase touch in the 7 days before a purchase shares that
    purchase's credit equally — the standard counterweight to
    events_attribution_last_touch (last-touch over-credits the final
    click; linear spreads it over the journey). Per channel: touch
    volume, purchases reached, and summed fractional credit; total
    credit across channels equals the number of attributed purchases
    (conservation — test-pinned).

    Determinism: per-(purchase, channel) counts and per-purchase
    totals are exact integers; each weight c/n is one double division
    done identically in both engines; the channel rollup is a DSUM.

    Scale: the touch join is a per-user RANGE join (same shape as the
    as-of family — co-partitioned on user_id, time-bounded so the
    per-user pair fan-out is window-bounded, never history-unbounded);
    everything after is (purchase, channel)-grain with map-side
    combine. At production scale the range join becomes the bucketed
    interval join the asof operators document."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts_us").alias("pt")
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", F.col("ts_us").alias("tt")
    )
    touch = p.join(t, "user_id").filter(
        (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - _ATTR_WINDOW_US)
    )
    per = touch.groupBy("pid", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = per.groupBy("pid").agg(F.sum("c").cast("long").alias("n"))
    npur = p.agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    credit = per.join(tot, "pid").select(
        "event_type",
        "c",
        (F.col("c").cast("double") / F.col("n")).alias("w"),
    )
    return (
        credit.crossJoin(F.broadcast(npur))
        .groupBy(F.col("event_type").alias("channel"), F.col("n_purchases"))
        .agg(
            F.sum("c").cast("long").alias("n_touches"),
            F.count(F.lit(1)).cast("long").alias("n_purchases_touched"),
            dsum(F.col("w")).alias("credit"),
        )
        .select(
            "channel",
            "n_touches",
            "n_purchases_touched",
            "credit",
            "n_purchases",
        )
        .orderBy("channel")
    )


# Holt's linear-trend smoothing constants; written as the literals
# "0.5"/"0.3" in BOTH engines so the parsed doubles are identical
_HOLT_ALPHA = "0.5"
_HOLT_BETA = "0.3"


@query(
    "events_holt_linear_forecast",
    # The oracle iterates the recursion as a RECURSIVE CTE rather than
    # a list_reduce struct fold: DuckDB's struct_pack-in-lambda rebinds
    # already-assigned field names for later fields (assigning l :=
    # makes subsequent acc.l resolve to the NEW l), which silently
    # corrupts any 2-component state recursion. The CTE is plain scalar
    # SQL — no shadowing — and applies the SAME double expressions in
    # the SAME order as the Spark fold.
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM (
        SELECT epoch_us(ts) // {DAY_US} AS day,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY day
      )
    ),
    rec AS (
      SELECT rn, day, x, x AS l, CAST(0 AS DOUBLE) AS b
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.rn, d.day, d.x,
             CAST({_HOLT_ALPHA} AS DOUBLE) * d.x
               + CAST({1} - {_HOLT_ALPHA} AS DOUBLE)
                 * (rec.l + rec.b),
             CAST({_HOLT_BETA} AS DOUBLE)
               * (CAST({_HOLT_ALPHA} AS DOUBLE) * d.x
                  + CAST({1} - {_HOLT_ALPHA} AS DOUBLE)
                    * (rec.l + rec.b) - rec.l)
               + CAST({1} - {_HOLT_BETA} AS DOUBLE) * rec.b
      FROM rec JOIN d ON d.rn = rec.rn + 1
    )
    SELECT CAST(day AS BIGINT) AS day, x AS n_events,
           l AS level, b AS trend, l + b AS forecast_next
    FROM rec ORDER BY day
    """,
)
def events_holt_linear_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the daily
    event-count series: level and trend state per day plus the
    one-step-ahead forecast — the trend-aware upgrade of events_ewma
    (single smoothing lags any drifting series by design) and the
    classic capacity-planning forecaster. State recursion:
    l_t = αx_t + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b, seeded
    (l₁, b₁) = (x₁, 0).

    Determinism: the recursion is an ordered LEFT FOLD over the day
    series — Spark ``F.aggregate`` with a struct accumulator over a
    running ``collect_list`` window, DuckDB ``list_reduce`` over a
    windowed ``list`` of structs; both engines seed from the first
    element and apply the SAME double expressions in the SAME order
    (the events_survival_km product-fold pattern generalized to
    2-component state). α, β enter as identical text literals.

    Scale: one map-side day bucketing; the fold runs on the bounded
    |days| frame (single partition by design — same argument as every
    day-grain series op). The production streaming form carries
    (l, b) as applyInPandasWithState state with identical update
    arithmetic."""
    d = (
        load(spark, sf_dir, "events")
        .select(F.expr(f"ts_us div {DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    xs = F.collect_list("x").over(w)
    a, b = _HOLT_ALPHA, _HOLT_BETA
    step = (
        f"(acc, e) -> named_struct("
        f"'l', {a} * e + (1 - {a}) * (acc.l + acc.b), "
        f"'b', {b} * ({a} * e + (1 - {a}) * (acc.l + acc.b) - acc.l)"
        f" + (1 - {b}) * acc.b)"
    )
    # bind the windowed list under a fixed name for the fold expr
    st = (
        d.withColumn("xs_", xs)
        .select(
            "day",
            "x",
            F.expr(
                "aggregate(slice(xs_, 2, greatest(size(xs_) - 1, 0)), "
                "named_struct('l', element_at(xs_, 1), "
                "'b', cast(0 as double)), "
                f"{step})"
            ).alias("s"),
        )
    )
    return st.select(
        F.col("day").cast("long").alias("day"),
        F.col("x").alias("n_events"),
        F.col("s.l").alias("level"),
        F.col("s.b").alias("trend"),
        (F.col("s.l") + F.col("s.b")).alias("forecast_next"),
    ).orderBy("day")


@query(
    "pipeline_dedup_impact",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, text,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    surv AS (
      SELECT text, MIN(doc_id) AS sid FROM documents GROUP BY text
    ),
    flagged AS (
      SELECT tok.source, tok.n_tok,
             tok.doc_id = surv.sid AS kept
      FROM tok JOIN surv ON tok.text = surv.text
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_after,
           CAST((1000000 * SUM(CASE WHEN kept THEN 0 ELSE 1 END))
                // COUNT(*) AS BIGINT) AS dup_doc_ppm
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def pipeline_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report BY SOURCE: how many documents and tokens
    each ingest source loses to exact dedup (global keep-lowest-id
    survivors, the dedup_exact rule) — the accounting a data-sourcing
    team reads before renegotiating a crawl (a source that is 40%
    duplicates of the corpus is paying for bytes the pipeline throws
    away), and the per-source companion of the corpus-level
    pipeline_e2e_pretrain manifest.

    Determinism: survivor choice is MIN(doc_id) per exact text; token
    counts use the house whitespace/non-empty convention; dup share is
    floor ppm — all exact integers.

    Scale: one content-grain aggregate (at 100 TB the group key is
    sha2(text) — the dedup_exact note), one co-partitioned join back
    on the content key, one |sources|-row rollup with map-side
    combine."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tok = docs.withColumn(
        "n_tok",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast(
            "long"
        ),
    )
    surv = docs.groupBy("text").agg(F.min("doc_id").alias("sid"))
    flagged = tok.join(surv, "text").select(
        "source", "n_tok", (F.col("doc_id") == F.col("sid")).alias("kept")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_before"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("docs_after"),
            F.sum("n_tok").cast("long").alias("tokens_before"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_after"),
            F.expr(
                "(1000000 * sum(case when kept then 0 else 1 end))"
                " div count(*)"
            )
            .cast("long")
            .alias("dup_doc_ppm"),
        )
        .orderBy("source")
    )


_COVISIT_GAP_US = 30 * 60 * 1_000_000  # shared 30-min session cut


@query(
    "events_covisitation_matrix",
    oracle=f"""
    WITH lagd AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(json_extract_string(props, '$.k') AS VARCHAR)
               AS item,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS prev
      FROM events WHERE event_type = 'view'
    ),
    sess AS (
      SELECT user_id, item,
             SUM(CASE WHEN prev IS NULL OR ts_us - prev > {_COVISIT_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM lagd
    ),
    si AS (
      SELECT DISTINCT user_id, sid, item FROM sess
      WHERE item IS NOT NULL
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM si a JOIN si b
        ON a.user_id = b.user_id AND a.sid = b.sid AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT item_a, item_b, n_sessions
    FROM pairs
    ORDER BY n_sessions DESC, item_a, item_b
    LIMIT 20
    """,
)
def events_covisitation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session co-visitation matrix: pairs of pages viewed within the
    SAME 30-minute session (the events_sessionize_gap cut applied to
    'view' events, item = the props JSON's k field) ranked by co-session
    count — the classic candidate-generation structure behind
    "viewed-together" recommenders (the event-session sibling of
    basket_part_pairs' order-basket co-occurrence). Top-20 pairs,
    oriented item_a < item_b.

    Determinism: session ids are the exact running gap-flag sum (same
    total order as sessionize); the per-session item set is DISTINCT,
    so the pair count is exact; ranking is totally ordered by
    (count DESC, pair).

    Scale: one user shuffle for the two chained windows; the pair join
    is WITHIN-(user, session) only — fan-out bounded by per-session
    distinct items (the basket-bound argument), never corpus²; the
    pair aggregate is map-side combinable and the top-20 is
    TakeOrdered. The production form at catalog scale salts hot items
    exactly like skew_salted_join."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.get_json_object("props", "$.k").alias("item"),
        )
    )
    wu = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagd = ev.withColumn("prev", F.lag("ts_us").over(wu))
    flag = F.when(
        F.col("prev").isNull()
        | (F.col("ts_us") - F.col("prev") > _COVISIT_GAP_US),
        1,
    ).otherwise(0)
    sess = lagd.withColumn(
        "sid",
        F.sum(flag).over(
            wu.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    si = (
        sess.filter(F.col("item").isNotNull())
        .select("user_id", "sid", "item")
        .distinct()
    )
    a = si.select("user_id", "sid", F.col("item").alias("item_a"))
    b = si.select("user_id", "sid", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return pairs.orderBy(
        F.desc("n_sessions"), "item_a", "item_b"
    ).limit(20)


# time-based split: train < cutoff day <= test (80th percentile day)
_TSPLIT_PCT = 80


@query(
    "sample_time_split_leakage",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ),
    days AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n
      FROM (SELECT DISTINCT day FROM e)
    ),
    cut AS (
      SELECT day AS cutoff FROM days
      WHERE rn = ({_TSPLIT_PCT} * n + 99) // 100
    ),
    lab AS (
      SELECT user_id, day,
             CASE WHEN day < cutoff THEN 'train' ELSE 'test' END AS split
      FROM e CROSS JOIN cut
    ),
    per AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM lab GROUP BY split
    ),
    overlap AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap FROM (
        SELECT user_id FROM lab GROUP BY user_id
        HAVING COUNT(DISTINCT split) = 2
      )
    )
    SELECT per.split, per.n_events, per.n_users, overlap.n_overlap,
           CAST((1000000 * overlap.n_overlap) // per.n_users AS BIGINT)
             AS overlap_ppm
    FROM per CROSS JOIN overlap
    ORDER BY split
    """,
)
def sample_time_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with a LEAKAGE audit: events before
    the 80th-percentile distinct day go to train, the rest to test —
    the split an event-sequence model must use (random splits leak the
    future) — and the audit counts users appearing in BOTH halves
    (entity overlap: legitimate for per-user forecasting, fatal for
    user-level generalization claims; either way the number must be
    REPORTED, which is this query). Per split: events, users, plus the
    shared overlap count and its ppm of the split's users.

    Determinism: the cutoff is a rank-selected distinct day (exact
    integer arithmetic); all counts exact; ppm is floor division.

    Scale: the distinct-day frame is date-span-bounded; labeling is a
    broadcast 1-row cutoff; the overlap audit is one user-grain
    aggregate with map-side distinct — nothing after the (user, split)
    dedup is corpus-sized."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    )
    days = (
        e.select("day")
        .distinct()
        .select(
            "day",
            F.row_number().over(W.orderBy("day")).alias("rn"),
            F.count(F.lit(1))
            .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias("n"),
        )
    )
    cut = days.filter(
        F.col("rn") == F.expr(f"({_TSPLIT_PCT} * n + 99) div 100")
    ).select(F.col("day").alias("cutoff"))
    lab = e.crossJoin(F.broadcast(cut)).select(
        "user_id",
        F.when(F.col("day") < F.col("cutoff"), "train")
        .otherwise("test")
        .alias("split"),
    )
    per = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    overlap = (
        lab.select("user_id", "split")
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        per.crossJoin(F.broadcast(overlap))
        .select(
            "split",
            "n_events",
            "n_users",
            "n_overlap",
            F.expr("(1000000 * n_overlap) div n_users")
            .cast("long")
            .alias("overlap_ppm"),
        )
        .orderBy("split")
    )
