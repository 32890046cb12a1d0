"""Product analytics over the ``events`` stream: funnels, cohort
retention, transitions and Markov stationary distributions,
sessionization, rolling and distinct-user windows, streaks, RFM,
attribution, anomaly and change-point detection, A/B checks, forecasts
and distribution statistics.

All time math is integer epoch microseconds (``ts_us``, and
``registry.DAY_US``/``HOUR_US``), so results do not depend on the
session time zone. Per-user work is a window or aggregation partitioned
on user_id: the family costs one user_id (or day) shuffle and scales
with events per user, never events².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..ckpt import checkpoint, release
from ..registry import DAY_US, DSUM_SQL, HOUR_US, dsum, query
from ..tables import load


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    c AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND epoch_us(ts) > t_view
                          AND epoch_us(ts) <= t_view + 3600000000
                         THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM v
    ),
    p AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase'
                          AND epoch_us(ts) > t_click
                          AND epoch_us(ts) <= t_click + 3600000000
                         THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id) AS t_purchase
      FROM c
    ),
    u AS (
      SELECT DISTINCT user_id,
             CASE WHEN t_purchase IS NOT NULL THEN 3
                  WHEN t_click IS NOT NULL THEN 2
                  WHEN t_view IS NOT NULL THEN 1
                  ELSE 0 END AS funnel_step
      FROM p
    )
    SELECT funnel_step, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY funnel_step ORDER BY funnel_step
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, each step
    strictly after the previous and within a 1-hour conversion
    window): per-user step times via chained
    conditional window minima — all three windows share the user_id
    partitioning, so Catalyst plans ONE shuffle and evaluates the
    windows in sequence on the sorted runs. The final per-step count
    shuffles 150 user rows, not 10k events."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    v = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
    )
    c = v.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_us") > F.col("t_view"))
                & (F.col("ts_us") <= F.col("t_view") + HOUR_US),
                F.col("ts_us"),
            )
        ).over(w),
    )
    p = c.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("t_click"))
                & (F.col("ts_us") <= F.col("t_click") + HOUR_US),
                F.col("ts_us"),
            )
        ).over(w),
    )
    step = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    u = p.select("user_id", step.alias("funnel_step")).distinct()
    return (
        u.groupBy("funnel_step")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("funnel_step")
    )


@query(
    "events_cohort_retention",
    oracle=f"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
    )
    SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_active
    FROM d JOIN firsts f USING (user_id)
    GROUP BY f.cohort_day, day_offset
    ORDER BY f.cohort_day, day_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted distinct per (cohort, day-offset). The cohort assignment is
    a window min over the SAME user_id partitioning the activity rows
    already shuffle on — one shuffle feeds both steps, and the final
    (cohort × offset) grid is tiny at any corpus size."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    )
    w = W.partitionBy("user_id")
    joined = d.withColumn("cohort_day", F.min("day").over(w))
    return (
        joined.groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "events_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (the Markov view of user paths):
    consecutive event pairs per user via LEAD over (ts, event_id) —
    the unique tiebreaker keeps the sequence engine-deterministic —
    then a count per (from, to). One user_id shuffle for the window;
    the 5×5 transition matrix is the only thing aggregated."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "next_type")
    )


@query(
    "events_gap_fill",
    oracle=f"""
    WITH hours AS (
      SELECT user_id, epoch_us(ts) // {HOUR_US} AS h
      FROM events GROUP BY user_id, h
    ),
    spans AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hours GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM spans
    ),
    missing AS (
      SELECT g.user_id, g.h FROM grid g
      LEFT JOIN hours a ON g.user_id = a.user_id AND g.h = a.h
      WHERE a.h IS NULL
    ),
    runs AS (
      SELECT user_id, h,
             h - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY h) AS run
      FROM missing
    ),
    runlen AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM runs GROUP BY user_id, run
    )
    SELECT s.user_id,
           CAST(s.h1 - s.h0 + 1 AS BIGINT) AS n_hours_span,
           CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_missing,
           CAST(COALESCE(m.max_gap_run, 0) AS BIGINT) AS max_gap_run
    FROM spans s LEFT JOIN (
      SELECT user_id, SUM(len) AS n_missing, MAX(len) AS max_gap_run
      FROM runlen GROUP BY user_id
    ) m ON s.user_id = m.user_id
    ORDER BY s.user_id
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap analysis (gaps-and-islands): build each user's
    dense hourly grid with sequence+explode, anti-match the observed
    hours, then find the longest consecutive missing run via the
    h − row_number() islands trick. Everything partitions on user_id —
    the grid explode is map-side from a 1-row-per-user span table, so
    the generated grid (users × span) never inflates the shuffle
    beyond the missing-hour rows themselves."""
    ev = load(spark, sf_dir, "events")
    hours = (
        ev.select("user_id", F.expr(f"ts_us div {HOUR_US}").alias("h"))
        .distinct()
    )
    spans = hours.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    missing = grid.join(hours, ["user_id", "h"], "left_anti")
    runs = missing.withColumn(
        "run",
        F.col("h")
        - F.row_number().over(W.partitionBy("user_id").orderBy("h")),
    )
    runlen = runs.groupBy("user_id", "run").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    per_user = runlen.groupBy("user_id").agg(
        F.sum("len").alias("n_missing"), F.max("len").alias("max_gap_run")
    )
    return (
        spans.join(per_user, "user_id", "left")
        .select(
            "user_id",
            (F.col("h1") - F.col("h0") + 1).cast("long").alias("n_hours_span"),
            F.coalesce("n_missing", F.lit(0)).cast("long").alias("n_missing"),
            F.coalesce("max_gap_run", F.lit(0))
            .cast("long")
            .alias("max_gap_run"),
        )
        .orderBy("user_id")
    )


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM events GROUP BY user_id, day
    ),
    s AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(c AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS sxx
      FROM d GROUP BY user_id
    )
    SELECT d.user_id, CAST(d.day AS BIGINT) AS day, CAST(d.c AS BIGINT)
             AS n_events,
           (d.c - s.sx / s.n)
             / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS z
    FROM d JOIN s USING (user_id)
    WHERE s.n > 1 AND (s.sxx - s.sx * s.sx / s.n) > 0
      AND abs((d.c - s.sx / s.n)
              / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))) > 2
    ORDER BY d.user_id, day
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity anomalies: daily event counts z-scored against
    the user's own mean/stddev (power-sum form — exact decimal sums
    combined in deterministic double math, same discipline as
    q59_stat_moments), keeping |z| > 2 days. Both aggregations and the
    join partition on user_id — one logical shuffle; the flagged-day
    output is a vanishing fraction of the input at any scale."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("user_id", F.expr(f"ts_us div {DAY_US}").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    dec = lambda c: c.cast("decimal(38,10)")  # noqa: E731
    s = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("c"))).cast("double").alias("sx"),
        F.sum(dec(F.col("c") * F.col("c"))).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = (sxx - sx * sx / n) / (n - 1)
    z = (F.col("c") - sx / n) / F.sqrt(var)
    return (
        d.join(s, "user_id")
        .filter((n > 1) & ((sxx - sx * sx / n) > 0) & (F.abs(z) > 2))
        .select(
            "user_id",
            F.col("day").cast("long").alias("day"),
            F.col("c").cast("long").alias("n_events"),
            z.alias("z"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "events_percentiles_exact",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS p50,
           MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95,
           MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
    FROM r
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of value per event type by rank selection
    (ceil(p·n) via pure integer arithmetic, row_number with event_id
    tiebreak) — no interpolation, no engine-specific percentile
    semantics: the selected values are rows passed through untouched,
    so they compare bit-for-bit. One event_type shuffle; the window
    sort is the distributed sort an exact percentile fundamentally
    needs (the approximate path for 100 TB is q42's approx_percentile,
    gated with epsilon bounds)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )

    def pick(p: int):
        idx = F.expr(f"({p} * n + 99) div 100")
        return F.max(F.when(F.col("rn") == idx, F.col("value"))).alias(
            f"p{p}"
        )

    return (
        r.groupBy("event_type")
        .agg(F.max("n").alias("n"), pick(50), pick(95), pick(99))
        .orderBy("event_type")
    )


@query(
    "events_rolling_1h",
    oracle="""
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER w AS VARCHAR)
                AS DOUBLE) AS sum_1h
    FROM events
    WHERE user_id < 5
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_us, event_id
    """,
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour count and sum via a RANGE frame over
    epoch-µs — the time-series moving aggregate (rate limiting, rolling
    usage) as one window over the user_id shuffle, no self-join. The
    frame bound is integer µs so both engines resolve identical peer
    sets; the windowed double sum uses the decimal convention (frame
    accumulation order is engine-internal). Restricted to 5 users for
    the gate; the plan is user-count-independent."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "ts_us",
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .over(w)
            .cast("double")
            .alias("sum_1h"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "events_value_histogram",
    oracle="""
    WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    b AS (
      SELECT LEAST(CAST(floor((value - mn) / ((mx - mn) / 20.0))
                        AS BIGINT), 19) AS bin,
             mn, mx
      FROM events CROSS JOIN s
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(mn + bin * ((mx - mn) / 20.0)) AS bin_lo,
           MAX(mn + (bin + 1) * ((mx - mn) / 20.0)) AS bin_hi
    FROM b
    GROUP BY bin
    ORDER BY bin
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values: global min/max from
    one agg (broadcast as a 1-row frame), bin assignment map-side by
    floor division on identical doubles, one bin shuffle for counts —
    the distribution profile behind skew diagnosis and outlier caps.
    The top edge folds into bin 19 (LEAST), the standard closed-last-
    bucket convention."""
    ev = load(spark, sf_dir, "events").select("value")
    s = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    b = ev.crossJoin(F.broadcast(s)).select(
        F.least(
            F.floor((F.col("value") - F.col("mn")) / width).cast("long"),
            F.lit(19),
        ).alias("bin"),
        "mn",
        "mx",
    )
    width2 = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("mn") + F.col("bin") * width2).alias("bin_lo"),
            F.max(F.col("mn") + (F.col("bin") + 1) * width2).alias("bin_hi"),
        )
        .orderBy("bin")
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
      FROM events
    ),
    attributed AS (
      SELECT user_id, event_id, value, t, last_click_us
      FROM tagged
      WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(CASE WHEN last_click_us IS NOT NULL
                            AND t - last_click_us <= 3600000000
                           THEN 1 END) AS BIGINT) AS n_attributed,
           {dsum} AS attributed_value
    FROM attributed
    GROUP BY user_id
    ORDER BY user_id
    """.format(
        dsum=DSUM_SQL.format(
            expr="""CASE WHEN last_click_us IS NOT NULL
                         AND t - last_click_us <= 3600000000
                        THEN value ELSE 0.0 END"""
        )
    ),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent PRECEDING click if it happened within 1 hour (the as-of-join
    pattern expressed as a running MAX over a ROWS frame ending at
    1 PRECEDING — no self-join, one user_id shuffle). Emits per-user
    purchase counts, attributed counts, and attributed revenue."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("ts_us").alias("t"),
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts_us"))
        ).over(w).alias("last_click_us"),
    )
    attributed = tagged.filter(F.col("event_type") == "purchase")
    hit = F.col("last_click_us").isNotNull() & (
        F.col("t") - F.col("last_click_us") <= 3_600_000_000
    )
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count(F.when(hit, F.lit(1))).alias("n_attributed"),
            dsum(F.when(hit, F.col("value")).otherwise(F.lit(0.0))).alias(
                "attributed_value"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "events_value_deciles",
    oracle="""
    WITH t AS (
      SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM t GROUP BY decile ORDER BY decile
    """,
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram via NTILE(10) over a total order — the
    complement of events_value_histogram's equi-width bins (feature
    binning / quantile bucketing for model inputs). Bucket boundaries
    are selected row values passed through untouched. The global NTILE
    needs one total sort; at 100 TB the same binning is done with
    approx quantile cutpoints + a map-side bucket join (q42's sketch
    family), trading exactness for no global sort."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t = ev.select(
        "value",
        F.ntile(10).over(W.orderBy("value", "event_id")).alias("decile"),
    )
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("decile")
    )


@query(
    "events_late_data_metrics",
    oracle="""
    WITH arr AS (
      SELECT event_type, event_id, epoch_us(ts) AS t,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN hwm - t > 600000000 THEN 1 END) AS BIGINT)
             AS n_late,
           CAST(MAX(hwm - t) AS BIGINT) AS max_lateness_us
    FROM arr
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-design diagnostic: replay each type's stream in arrival
    order (event_id), track the event-time high-water mark, and measure
    how many events arrive more than 10 minutes behind it and the worst
    observed lateness — exactly the numbers that justify a
    withWatermark delay (too small drops these rows; too large holds
    state). One running max per type partition, one shuffle."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    arr = ev.select(
        "event_type",
        F.col("ts_us").alias("t"),
        F.max("ts_us").over(w).alias("hwm"),
    )
    late = F.col("hwm") - F.col("t") > 600_000_000
    return (
        arr.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(late, F.lit(1))).alias("n_late"),
            F.max(F.col("hwm") - F.col("t")).alias("max_lateness_us"),
        )
        .orderBy("event_type")
    )


@query(
    "events_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS back_t,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS fwd_t
      FROM events WHERE user_id < 20
    )
    SELECT user_id, event_id,
           CAST(CASE
             WHEN back_t IS NULL AND fwd_t IS NULL THEN NULL
             WHEN back_t IS NULL THEN fwd_t - t
             WHEN fwd_t IS NULL THEN back_t - t
             WHEN t - back_t <= fwd_t - t THEN back_t - t
             ELSE fwd_t - t END AS BIGINT) AS nearest_click_delta_us
    FROM tagged
    WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of: each purchase finds its closest click in
    EITHER time direction (backward wins ties) — the merge_asof
    direction='nearest' semantics, built from two frame-bounded window
    extrema over one user shuffle instead of two joins. Signed delta:
    negative = click before purchase."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    base = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    click_t = F.when(F.col("event_type") == "click", F.col("ts_us"))
    tagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts_us").alias("t"),
        F.max(click_t)
        .over(base.rowsBetween(W.unboundedPreceding, -1))
        .alias("back_t"),
        F.min(click_t)
        .over(base.rowsBetween(1, W.unboundedFollowing))
        .alias("fwd_t"),
    )
    back, fwd, t = F.col("back_t"), F.col("fwd_t"), F.col("t")
    delta = (
        F.when(back.isNull() & fwd.isNull(), F.lit(None))
        .when(back.isNull(), fwd - t)
        .when(fwd.isNull(), back - t)
        .when(t - back <= fwd - t, back - t)
        .otherwise(fwd - t)
        .cast("long")
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", delta.alias("nearest_click_delta_us"))
        .orderBy("user_id", "event_id")
    )


@query(
    "events_user_rfm",
    oracle=f"""
    WITH g AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
    base AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_us,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS frequency,
             {DSUM_SQL.format(
                 expr="CASE WHEN event_type = 'purchase' "
                      "THEN value ELSE 0.0 END")} AS monetary
      FROM events GROUP BY user_id
    ),
    rfm AS (
      SELECT user_id,
             CAST((g.now_us - last_us) // 86400000000 AS BIGINT)
               AS recency_days,
             frequency, monetary,
             NTILE(5) OVER (ORDER BY last_us DESC, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
      FROM base CROSS JOIN g
    )
    SELECT user_id, recency_days, frequency, monetary,
           concat_ws('-', r_score, f_score, m_score) AS segment
    FROM rfm
    ORDER BY user_id
    """,
)
def events_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation per user —
    the classic customer-scoring aggregate: one user shuffle for the
    base stats, then three NTILE quintile ranks over the USER-level
    aggregate (150 rows here; user-count-sized at any corpus scale, so
    the global sorts are over the small frame, not the event log).
    Deterministic tiebreak by user_id in every quintile ordering."""
    ev = load(spark, sf_dir, "events")
    g = ev.agg(F.max("ts_us").alias("now_us"))
    is_p = F.col("event_type") == "purchase"
    base = ev.groupBy("user_id").agg(
        F.max("ts_us").alias("last_us"),
        F.count(F.when(is_p, F.lit(1))).alias("frequency"),
        dsum(F.when(is_p, F.col("value")).otherwise(F.lit(0.0))).alias(
            "monetary"
        ),
    )
    rfm = base.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.expr("(now_us - last_us) div 86400000000").alias("recency_days"),
        "frequency",
        "monetary",
        F.ntile(5)
        .over(W.orderBy(F.desc("last_us"), "user_id"))
        .alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), "user_id"))
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary"), "user_id"))
        .alias("m_score"),
    )
    return rfm.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    ).orderBy("user_id")


@query(
    "events_winsorized_stats",
    oracle=f"""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    cuts AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS p5,
             MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95
      FROM r GROUP BY event_type
    ),
    clipped AS (
      SELECT e.event_type,
             CASE WHEN e.value < c.p5 THEN c.p5
                  WHEN e.value > c.p95 THEN c.p95
                  ELSE e.value END AS wv,
             CASE WHEN e.value < c.p5 OR e.value > c.p95
                  THEN 1 ELSE 0 END AS clipped
      FROM events e JOIN cuts c ON e.event_type = c.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           {DSUM_SQL.format(expr="wv")} AS winsorized_sum
    FROM clipped
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics via winsorizing: clip each type's values at
    its exact p5/p95 (rank-selected, no interpolation) and aggregate
    the clipped series — the outlier-capping every metrics pipeline
    applies before averaging telemetry. Cutpoints come from the same
    rank-selection machinery as events_percentiles_exact; the clip is
    a broadcast join of the tiny per-type cutpoint table + a map-side
    CASE; sums follow the decimal convention."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )

    def cut(p: int):
        idx = F.expr(f"({p} * n + 99) div 100")
        return F.max(F.when(F.col("rn") == idx, F.col("value"))).alias(
            f"p{p}"
        )

    cuts = r.groupBy("event_type").agg(cut(5), cut(95))
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("p5"), F.col("p5"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
        .alias("wv"),
        F.when(
            (F.col("value") < F.col("p5")) | (F.col("value") > F.col("p95")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("clipped"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clipped").alias("n_clipped"),
            dsum(F.col("wv")).alias("winsorized_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "events_time_weighted_avg",
    oracle=f"""
    WITH seg AS (
      SELECT user_id, value, epoch_us(ts) AS t, event_id,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS t_next
      FROM events
    ),
    held AS (
      SELECT user_id, value, t_next - t AS dur_us
      FROM seg WHERE t_next IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(dur_us) AS BIGINT) AS total_held_us,
           CAST(SUM(CAST(floor(value * (CAST(dur_us AS DOUBLE)
                / 3600000000.0) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS weighted_sum,
           (CAST(SUM(CAST(floor(value * (CAST(dur_us AS DOUBLE)
                / 3600000000.0) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0)
             / (CAST(SUM(dur_us) AS DOUBLE) / 3600000000.0) AS twap
    FROM held
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user: each event's value is
    held until the user's next event (lead), weighted by the integer µs
    holding duration — the correct mean for irregularly-sampled series
    (sensor states, position marks), where the arithmetic mean
    over-weights bursts. One user shuffle; weights are exact integers,
    the weighted sum uses the decimal convention, and the final
    division is one double op on identical operands."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        F.col("ts_us").alias("t"),
        F.lead("ts_us").over(w).alias("t_next"),
    )
    held = seg.filter(F.col("t_next").isNotNull()).select(
        "user_id",
        "value",
        (F.col("t_next") - F.col("t")).alias("dur_us"),
    )
    # fixed-point (1e-6) integer quantization of the per-row value·hours
    # weight, NOT the decimal-sum convention: these weights are division
    # results with full 53-bit mantissas, where DuckDB's double→DECIMAL
    # conversion (double-arithmetic ×10^10 then round) can disagree with
    # Spark's exact BigDecimal expansion in the last decimal ulp. floor
    # of an identical double is identical everywhere; integer sums are
    # exact (same resolution as graph_pagerank's contributions).
    whrs = F.col("value") * (
        F.col("dur_us").cast("double") / F.lit(3600000000.0)
    )
    q = F.floor(whrs * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    wsum = F.sum(q).cast("double") / F.lit(1000000.0)
    return (
        held.groupBy("user_id")
        .agg(
            F.sum("dur_us").alias("total_held_us"),
            wsum.alias("weighted_sum"),
            # try_divide (r13 division audit): a user whose holds all
            # have zero duration (legal — back-to-back events) makes
            # the hour total exactly 0.0 with a non-null 0.0 numerator
            # and ANSI would abort on the 0/0; TWAP is undefined there
            # => NULL (DuckDB double /0 is natively NULL).
            F.try_divide(
                wsum,
                F.sum("dur_us").cast("double") / F.lit(3600000000.0),
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


@query(
    "events_quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_id, event_type,
           (CAST(rn AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) AS qnorm
    FROM r
    WHERE event_id < 500
    ORDER BY event_id
    """,
)
def events_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a feature column: value →
    (rank − 0.5)/n within its event-type distribution, mapping any
    distribution onto uniform(0,1) — the robust feature-scaling
    transform (immune to outliers, unlike z-scores). Rank is integer,
    the map is one division on identical operands; one type shuffle.
    Output limited to event_id < 500 for the gate."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = W.partitionBy("event_type")
    r = ev.select(
        "event_id",
        "event_type",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        r.filter(F.col("event_id") < 500)
        .select(
            "event_id",
            "event_type",
            (
                (F.col("rn").cast("double") - F.lit(0.5))
                / F.col("n").cast("double")
            ).alias("qnorm"),
        )
        .orderBy("event_id")
    )


@query(
    "events_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS g
      FROM days
    ),
    streaks AS (
      SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len,
             CAST(MIN(day) AS BIGINT) AS start_day
      FROM grp GROUP BY user_id, g
    ),
    best AS (
      SELECT user_id, len, start_day,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY len DESC, start_day) AS rn
      FROM streaks
    )
    SELECT user_id, len AS longest_streak_days, start_day
    FROM best WHERE rn = 1
    ORDER BY user_id
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active DAYS per user — engagement
    streaks via the classic day − row_number() grouping trick (runs of
    consecutive integers share the difference), entirely integer
    arithmetic on epoch-day numbers. Two window passes over one user
    shuffle; ties between equal-length streaks break on the earliest
    start."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("ts_us div 86400000000").alias("day")
    ).distinct()
    grp = days.withColumn(
        "g",
        F.col("day")
        - F.row_number().over(W.partitionBy("user_id").orderBy("day")),
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    best = streaks.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.desc("len"), "start_day")
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            "start_day",
        )
        .orderBy("user_id")
    )


@query(
    "events_abtest_lift",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    conv AS (
      SELECT a.variant, e.user_id,
             CASE WHEN COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END)
                       > COUNT(CASE WHEN e.event_type = 'click' THEN 1 END)
                  THEN 1 ELSE 0 END AS converted
      FROM events e JOIN assign a ON e.user_id = a.user_id
      GROUP BY a.variant, e.user_id
    ),
    s AS (
      SELECT variant,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(converted) AS DOUBLE) AS conv
      FROM conv GROUP BY variant
    ),
    wide AS (
      SELECT MAX(CASE WHEN variant = 'A' THEN n END) AS na,
             MAX(CASE WHEN variant = 'A' THEN conv END) AS ca,
             MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
             MAX(CASE WHEN variant = 'B' THEN conv END) AS cb
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           ca / na AS rate_a,
           cb / nb AS rate_b,
           CASE WHEN (ca + cb) = 0 OR (ca + cb) = (na + nb) THEN NULL
                ELSE (cb / nb - ca / na)
                  / sqrt(((ca + cb) / (na + nb))
                         * (1.0 - (ca + cb) / (na + nb))
                         * (1.0 / na + 1.0 / nb)) END AS z_score
    FROM wide
    """,
)
def events_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test on user conversion (here: more
    purchases than clicks — a criterion that actually splits this
    corpus; purchase-ever is degenerate at rate 1.0): variants assigned
    by user-id parity (the deterministic stand-in for an experiment
    bucketing hash), pooled-proportion z-score in closed form, NULL
    when the pooled rate is degenerate (0 or 1 — the statistic is
    undefined, and ANSI mode would otherwise raise on the 0/0). sqrt is
    IEEE-correctly-rounded, so the statistic is bit-identical
    cross-engine (same rule that lets q59 use stddev). One user shuffle
    for per-user conversion, then constant-size arithmetic."""
    ev = load(spark, sf_dir, "events")
    variant = F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
    conv = (
        ev.select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.when(
                F.count(F.when(F.col("event_type") == "purchase", 1))
                > F.count(F.when(F.col("event_type") == "click", 1)),
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(variant.alias("variant"), "converted")
    )
    s = conv.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("conv"),
    )
    wide = s.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("cb"),
    )
    na, ca, nb, cb = (F.col(c) for c in ("na", "ca", "nb", "cb"))
    pooled = (ca + cb) / (na + nb)
    z = F.when(
        ((ca + cb) == 0) | ((ca + cb) == (na + nb)), F.lit(None)
    ).otherwise(
        (cb / nb - ca / na)
        / F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.lit(1.0) / na + F.lit(1.0) / nb)
        )
    )
    return wide.select(
        na.cast("long").alias("n_a"),
        ca.cast("long").alias("conv_a"),
        nb.cast("long").alias("n_b"),
        cb.cast("long").alias("conv_b"),
        (ca / na).alias("rate_a"),
        (cb / nb).alias("rate_b"),
        z.alias("z_score"),
    )


@query(
    "events_active_users",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM d GROUP BY day
    ),
    span AS (
      SELECT day, dau,
             CAST((SELECT COUNT(DISTINCT user_id) FROM d d2
                   WHERE d2.day BETWEEN dau.day - 27 AND dau.day)
                  AS BIGINT) AS mau
      FROM dau
    )
    SELECT day, dau, mau,
           CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
    FROM span
    ORDER BY day
    """,
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-28-day MAU / stickiness per day — the growth
    dashboard staple. The MAU is a windowed COUNT DISTINCT over a
    28-day RANGE, expressed as a range self-join of the (user, day)
    distinct frame (days × active-users sized, tiny next to the event
    log; Spark's windowed countDistinct limitation makes the join form
    the portable one). Day bucketing is integer epoch-day arithmetic,
    TZ-free."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts_us div 86400000000").alias("day")
    ).distinct()
    dau = d.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d2 = d.select(F.col("user_id").alias("u2"), F.col("day").alias("day2"))
    mau = (
        dau.select("day")
        .join(
            d2,
            (F.col("day2") >= F.col("day") - 27)
            & (F.col("day2") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("u2").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "events_seasonality_profile",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
           ((epoch_us(ts) // 86400000000) + 4) % 7 AS day_of_week,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity matrix (UTC; epoch day 0 was
    a Thursday, hence the +4 for Monday=0 … Sunday=6) — the seasonality
    fingerprint behind capacity planning and anomaly baselines. Pure
    integer epoch arithmetic, immune to session timezones; one
    (hour, dow) shuffle with map-side combine."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("(ts_us div 3600000000) % 24").alias("hour_of_day"),
            F.expr("((ts_us div 86400000000) + 4) % 7").alias("day_of_week"),
            "user_id",
        )
        .groupBy("hour_of_day", "day_of_week")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_of_day", "day_of_week")
    )


@query(
    "events_pareto_concentration",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_users FROM per_user),
    ranked AS (
      SELECT n, total, n_users,
             ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk,
             SUM(n) OVER (ORDER BY n DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM per_user CROSS JOIN tot
    )
    SELECT CAST((10 * rnk + n_users - 1) // n_users AS BIGINT) AS decile,
           CAST(MAX(cum) AS BIGINT) AS cum_events,
           CAST(MAX(cum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
             AS cum_share
    FROM ranked
    GROUP BY 1
    ORDER BY decile
    """,
)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration (Pareto/Lorenz): users ranked by event
    count, bucketed into deciles, with the cumulative share of all
    events contributed by the top k/10 of users — the who-generates-
    the-load diagnostic that motivates the skew operators (a steep
    curve here is exactly when skew_salted_join earns its keep). All
    window math is over the user-sized aggregate; integer cumsum."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = per_user.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    w = W.orderBy(F.desc("n"), "user_id")
    ranked = per_user.crossJoin(F.broadcast(tot)).select(
        "n",
        "total",
        "n_users",
        F.row_number().over(w).alias("rnk"),
        F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    return (
        ranked.select(
            F.expr("(10 * rnk + n_users - 1) div n_users").alias("decile"),
            "cum",
            "total",
        )
        .groupBy("decile")
        .agg(
            F.max("cum").alias("cum_events"),
            (
                F.max("cum").cast("double") / F.max("total").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


_GAP_US = 1_800_000_000  # 30-minute inactivity gap


@query(
    "events_sessionize",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events
    ),
    f AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > {_GAP_US} THEN 1 ELSE 0 END
                  AS new_session
      FROM o
    ),
    s AS (
      SELECT *, SUM(new_session) OVER
                  (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
      FROM f
    ),
    per AS (
      SELECT user_id, session_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(ts_us) - MIN(ts_us) AS dur_us
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(dur_us) AS BIGINT) AS total_active_us
    FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) — the gaps-and-
    islands pattern applied to user activity: a lag() flags session
    starts, a running sum of flags numbers the sessions, and two
    grouped aggregations roll up to per-session then per-user stats.
    The lag, the running sum, and the first groupBy all share the
    user_id partitioning, so Catalyst plans ONE shuffle for the whole
    chain; (ts_us, event_id) is a total order, making session ids
    deterministic under ties. This is the batch twin of
    streaming/events.py's session_window aggregation."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.select("user_id", "event_id", "ts_us").withColumn(
        "new_session",
        F.when(
            F.lag("ts_us").over(wo).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(wo) > F.lit(_GAP_US)),
            1,
        ).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id", F.sum("new_session").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    per = sessioned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("dur_us").alias("total_active_us"),
        )
        .orderBy("user_id")
    )


@query(
    "events_rolling_distinct",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day,
             list(DISTINCT user_id) AS ul,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_1d
      FROM events GROUP BY day
    )
    SELECT day, users_1d,
           CAST(len(list_distinct(flatten(list(ul) OVER
             (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))))
             AS BIGINT) AS users_7d
    FROM d ORDER BY day
    """,
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users — COUNT(DISTINCT) over a sliding
    window, which no engine supports directly. The scalable form:
    collapse to day grain first (collect_set per day — one shuffle on
    a bounded-cardinality key), then merge the per-day sets over a
    7-row frame and count the union. The frame runs over day-grain
    rows (≤ a few thousand for years of data), so the unpartitioned
    window is a deliberate post-aggregation single-task step on a
    tiny frame, not a scale hazard; the heavy distinct work happened
    map-side in collect_set. "7 days" = the last 7 observed activity
    days (rows-frame), identical on both engines."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr(f"ts_us div {DAY_US}").alias("day")).agg(
        F.collect_set("user_id").alias("ul"),
        F.countDistinct("user_id").alias("users_1d"),
    )
    w7 = W.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.select(
            "day",
            "users_1d",
            F.size(F.array_distinct(F.flatten(F.collect_list("ul").over(w7))))
            .cast("long")
            .alias("users_7d"),
        )
        .orderBy("day")
    )


@query(
    "events_rolling_distinct_hll",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day,
             list(DISTINCT user_id) AS ul
      FROM events GROUP BY day
    )
    SELECT day,
           CAST(len(list_distinct(flatten(list(ul) OVER
             (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))))
             AS BIGINT) AS users_7d,
           TRUE AS within_bounds
    FROM d ORDER BY day
    """,
)
def events_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users via mergeable HLL sketches — the
    scale substitute for events_rolling_distinct's exact per-day
    collect_set. The exact form's day-grain cells grow with DAU (a
    100 M-DAU day is a 100 M-element array in one window task); here
    each day collapses to a ~KB HLL sketch (registers are max-of-
    hashes: mergeable, order-insensitive, constant size), and the
    7-row frame unions sketches in constant memory at ANY daily
    cardinality. SCALE.md names the DAU crossover where this path
    must take over.

    Gate: the estimate must sit within HLL's relative error of the
    exact rolling count (computed alongside; the oracle pins
    within_bounds TRUE), and users_7d itself is the exact value so
    the hash comparison is deterministic."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr(f"ts_us div {DAY_US}").alias("day")).agg(
        F.collect_set("user_id").alias("ul"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    w7 = W.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.select(
            "day",
            F.size(F.array_distinct(F.flatten(F.collect_list("ul").over(w7))))
            .cast("long")
            .alias("users_7d"),
            F.hll_sketch_estimate(F.hll_union_agg("sk").over(w7)).alias(
                "est_7d"
            ),
        )
        .select(
            "day",
            "users_7d",
            (
                F.abs(F.col("est_7d") - F.col("users_7d"))
                <= F.lit(0.05) * F.col("users_7d") + F.lit(1.0)
            ).alias("within_bounds"),
        )
        .orderBy("day")
    )


# --- exponentially weighted moving average ---------------------------------

# EWMA needs a recursive state; the cross-engine-exact form bounds the
# memory to 8 taps so the whole thing is ONE fixed arithmetic expression
# over lag() columns — identical text on both engines, so IEEE-double
# evaluation order is identical and the result is bit-exact. (The
# geometric tail beyond 8 taps is < 0.4% of the weight at alpha=0.5.)
_EWMA_EXPR = (
    "("
    "value"
    + "".join(f" + {0.5 ** k!r} * COALESCE(l{k}, 0.0)" for k in range(1, 8))
    + ") / (1.0"
    + "".join(
        f" + CASE WHEN l{k} IS NULL THEN 0.0 ELSE {0.5 ** k!r} END"
        for k in range(1, 8)
    )
    + ")"
)


@query(
    "events_ewma",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             {", ".join(
               f"LAG(value, {k}) OVER (PARTITION BY user_id "
               f"ORDER BY epoch_us(ts), event_id) AS l{k}"
               for k in range(1, 8))}
      FROM events WHERE user_id < 5
    )
    SELECT user_id, event_id, ts_us,
           {_EWMA_EXPR} AS ewma8
    FROM lagged
    ORDER BY user_id, ts_us, event_id
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha=0.5) over
    each user's ordered event values, truncated at 8 taps — the
    trend-smoothing signal of monitoring/feature pipelines. Weights
    renormalize over the taps actually present, so early rows are
    unbiased rather than damped toward zero.

    Scale: one user_id shuffle; the 8 lag() columns share a single
    window sort (one pass per partition run). The 8-tap truncation is
    what makes EWMA distributable-exact: the untruncated recurrence
    needs sequential state, while this form is a stateless expression
    any engine evaluates identically."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        *[F.lag("value", k).over(w).alias(f"l{k}") for k in range(1, 8)],
    )
    return lagged.select(
        "user_id",
        "event_id",
        "ts_us",
        F.expr(_EWMA_EXPR).alias("ewma8"),
    ).orderBy("user_id", "ts_us", "event_id")


# --- sequence mining: top user paths ---------------------------------------

_PATH_K = 10


@query(
    "events_user_path_topk",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id)
    ),
    paths AS (
      SELECT event_type || '>' || t1 || '>' || t2 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      GROUP BY path
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path
    LIMIT {_PATH_K}
    """,
)
def events_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, n-gram form: the top-{_PATH_K} most
    frequent 3-event paths across all user timelines (the "what do
    users actually do" query behind funnel design; same trigram trick
    the text side uses for boilerplate detection, applied to event
    streams). Paths never cross users because lead() is framed by the
    user partition.

    Scale: one user_id shuffle for the window, then the path groupBy is
    map-side combined over at most |event_type|³ = 125 distinct keys —
    the aggregate is tiny no matter how many events flow in. Total
    ordering (count, path) makes the top-k unique."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts_us", "event_id")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        seq.filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_K)
    )


# --- data-quality: freshness SLA per stream --------------------------------

_FRESH_SLA_US = 6 * 3600 * 1_000_000  # 6 h staleness budget


@query(
    "dq_freshness_by_type",
    oracle=f"""
    WITH g AS (SELECT MAX(epoch_us(ts)) AS global_max FROM events),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(epoch_us(ts)) AS max_ts_us
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events, max_ts_us,
           CAST(g.global_max - max_ts_us AS BIGINT) AS lag_us,
           (g.global_max - max_ts_us) > {_FRESH_SLA_US} AS stale
    FROM per CROSS JOIN g
    ORDER BY event_type
    """,
)
def dq_freshness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLA check — the operational data-quality probe next to
    ``dq_constraint_checks``'s value constraints: per event stream, how
    far its newest record trails the table's high-water mark, flagged
    against a 6 h staleness budget. Integer epoch-us throughout
    (TZ-free).

    Scale: both aggregates are map-side combined single passes; the
    1-row global watermark broadcasts. This is the query a freshness
    monitor runs every few minutes, so it must never shuffle the fact
    table — and this plan doesn't."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts_us")
    g = ev.agg(F.max("ts_us").alias("global_max"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts_us").alias("max_ts_us"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            "max_ts_us",
            (F.col("global_max") - F.col("max_ts_us"))
            .cast("long")
            .alias("lag_us"),
            (
                (F.col("global_max") - F.col("max_ts_us"))
                > F.lit(_FRESH_SLA_US)
            ).alias("stale"),
        )
        .orderBy("event_type")
    )


# --- activity heatmap: day-of-week × hour ----------------------------------


@query(
    "events_heatmap_dow_hour",
    oracle=f"""
    SELECT CAST((epoch_us(ts) // {DAY_US} + 3) % 7 AS BIGINT) AS dow,
           CAST((epoch_us(ts) // {HOUR_US}) % 24 AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY dow, hour ORDER BY dow, hour
    """,
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (0 = Monday; epoch day 0 was
    a Thursday, hence the +3) — the load-profile view behind capacity
    planning and send-time optimization. All bucketing is integer
    epoch-us arithmetic (TZ-free by the repo convention — this is a UTC
    heatmap; a local-time variant would join a timezone dimension).

    Scale: pure map-side bucketing into ≤168 keys with partial
    aggregation — the shuffle carries 168 rows per task at any event
    volume."""
    ev = load(spark, sf_dir, "events").select("ts_us", "value")
    return (
        ev.select(
            ((F.expr(f"ts_us div {DAY_US}") + 3) % 7).alias("dow"),
            (F.expr(f"ts_us div {HOUR_US}") % 24).alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


# --- Markov steady-state of the event-type chain ---------------------------

_MKV_S = 1_000_000  # transition-probability quantum: floor(c_ij*S/r_i)
_MKV_XS = 1_000_000  # per-round state rescale magnitude
_MKV_ROUNDS = 4


def _mkv_oracle() -> str:
    rounds = []
    for r in range(1, _MKV_ROUNDS + 1):
        prev = f"x{r - 1}" if r > 1 else "x0"
        rounds.append(f"""
    y{r} AS (
      SELECT t.dst AS s, CAST(SUM(t.tp * x.x) AS BIGINT) AS y
      FROM t JOIN {prev} x ON t.src = x.s GROUP BY t.dst
    ),
    m{r} AS (SELECT MAX(y) AS mx FROM y{r}),
    x{r} AS (
      SELECT s, CAST(floor(CAST(y AS DOUBLE) * {_MKV_XS}.0
                           / CAST(mx AS DOUBLE)) AS BIGINT) AS x
      FROM y{r} CROSS JOIN m{r}
    )""")
    last = f"x{_MKV_ROUNDS}"
    return f"""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS dst
      FROM events
    ),
    c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
    r AS (SELECT src, CAST(SUM(n) AS BIGINT) AS rs FROM c GROUP BY src),
    t AS (SELECT c.src, c.dst, CAST(c.n * {_MKV_S} // r.rs AS BIGINT) AS tp
          FROM c JOIN r USING (src)),
    x0 AS (SELECT DISTINCT event_type AS s, CAST(1 AS BIGINT) AS x
           FROM events),
    {",".join(rounds)},
    tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tx FROM {last})
    SELECT l.s AS event_type,
           CAST(l.x AS DOUBLE) / tot.tx AS stationary
    FROM {last} l CROSS JOIN tot
    ORDER BY event_type
    """


@query("events_markov_stationary", oracle=_mkv_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state distribution of the event-type Markov chain — where
    user behavior settles if the observed transition dynamics persist
    (the long-run share each event type commands; complements
    ``events_transitions``'s one-step matrix). {_MKV_ROUNDS} unrolled
    power-iteration rounds in the integer-exact style of
    ``embeddings_top_eigenvector``: transition probabilities are
    floor-scaled integers c_ij·S div r_i, each round is an integer
    mat-vec rescaled by floor(y·K/max y) (all entries non-negative, so
    floor-vs-truncate never diverges), and the final normalization
    divides exact integers.

    Scale: the data-scale work is ONE user-partitioned lead() window +
    a ≤25-key pair count; the chain itself is |event_type|² — iteration
    cost is independent of data volume."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = c.groupBy("src").agg(F.sum("n").cast("long").alias("rs"))
    t = checkpoint(
        c.join(r, "src").select(
            "src", "dst", F.expr(f"n * {_MKV_S} div rs").cast("long").alias("tp")
        )
    )
    x = ev.select(F.col("event_type").alias("s")).distinct().select(
        "s", F.lit(1).cast("long").alias("x")
    )
    for _ in range(_MKV_ROUNDS):
        prev = x
        y = (
            t.join(x, t.src == x.s)
            .groupBy(F.col("dst").alias("s"))
            .agg(F.sum(F.col("tp") * F.col("x")).cast("long").alias("y"))
        )
        m = y.agg(F.max("y").alias("mx"))
        x = checkpoint(
            y.crossJoin(F.broadcast(m)).select(
                "s",
                F.floor(
                    F.col("y").cast("double")
                    * F.lit(float(_MKV_XS))
                    / F.col("mx").cast("double")
                )
                .cast("long")
                .alias("x"),
            )
        )
        release(prev)
    # the final x is materialized: the transition matrix is dead
    release(t)
    tot = x.agg(F.sum("x").cast("long").alias("tx"))
    return (
        x.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("event_type"),
            (F.col("x").cast("double") / F.col("tx")).alias("stationary"),
        )
        .orderBy("event_type")
    )


# --- CUSUM changepoint detection --------------------------------------------


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS tx
      FROM daily
    ),
    pre AS (
      SELECT day, x,
             SUM(nd * x - tx) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
      FROM daily CROSS JOIN tot
    ),
    cus AS (
      SELECT day, x,
             pfx - LEAST(MIN(pfx) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
      FROM pre
    )
    SELECT CAST(day AS BIGINT) AS day, x AS n_events,
           CAST(s AS BIGINT) AS cusum_scaled
    FROM cus ORDER BY s DESC, day LIMIT 5
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward-shift changepoint detection on the daily event-count
    series via one-sided CUSUM, computed in CLOSED FORM: the textbook
    recursion S_t = max(0, S_{t-1} + (x_t - mean)) solves to
    S_t = prefix_t - min(0, min_{j<=t} prefix_j), so two window
    functions (running sum, running min) replace the sequential scan —
    no iteration, no UDF. The mean subtraction is scaled through by
    n_days (y_t = nd*x_t - total), keeping every intermediate an exact
    integer in both engines; top-5 alarm days reported.

    Scale: the day-grain frame is tiny at any corpus size (|days|
    rows after one map-side-combined count), so the unpartitioned
    ordered windows run on one task over thousands of rows — the same
    bounded-frame argument as the seasonality/DAU family. Per-segment
    (e.g. per event_type) monitoring partitions the windows by that
    key and scales out."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(f"ts_us div {DAY_US}").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("x").cast("long").alias("tx"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = daily.crossJoin(F.broadcast(tot)).withColumn(
        "pfx",
        F.sum(F.col("nd") * F.col("x") - F.col("tx")).over(w),
    )
    cus = pre.withColumn(
        "s", F.col("pfx") - F.least(F.min("pfx").over(w), F.lit(0))
    )
    return (
        cus.select(
            "day",
            F.col("x").alias("n_events"),
            F.col("s").cast("long").alias("cusum_scaled"),
        )
        .orderBy(F.desc("cusum_scaled"), "day")
        .limit(5)
    )


# --- robust anomaly detection: median absolute deviation --------------------


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // {DAY_US} AS day,
             {DSUM_SQL.format(expr="value")} AS total
      FROM events GROUP BY event_type, day
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY event_type ORDER BY total, day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    m AS (
      SELECT event_type,
             (MAX(CASE WHEN rn = (n + 1) // 2 THEN total END)
              + MAX(CASE WHEN rn = n // 2 + 1 THEN total END)) / 2 AS med
      FROM r GROUP BY event_type
    ),
    a AS (
      SELECT d.event_type, d.day, d.total, m.med,
             ABS(d.total - m.med) AS absdev
      FROM d JOIN m USING (event_type)
    ),
    r2 AS (
      SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY event_type ORDER BY absdev, day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM a
    ),
    md AS (
      SELECT event_type,
             (MAX(CASE WHEN rn = (n + 1) // 2 THEN absdev END)
              + MAX(CASE WHEN rn = n // 2 + 1 THEN absdev END)) / 2 AS mad
      FROM r2 GROUP BY event_type
    )
    SELECT a.event_type, CAST(a.day AS BIGINT) AS day, a.total, a.med,
           md.mad, a.absdev / md.mad AS robust_score
    FROM a JOIN md USING (event_type)
    WHERE md.mad > 0 AND a.absdev > 3 * md.mad
    ORDER BY event_type, day
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue anomalies per event type: days whose
    DECIMAL-exact daily value total deviates from the type's MEDIAN by
    more than 3x the median absolute deviation. The mean/stddev z-score
    (events_anomaly_zscore) is itself dragged by the outliers it hunts;
    the median/MAD pair has a 50% breakdown point — the robust twin
    every production monitor runs alongside it.

    Cross-engine medians WITHOUT trusting either engine's interpolation
    kernel: rank the group (row_number, day tiebreak), then avg the
    values at positions (n+1)//2 and n//2+1 explicitly — for odd n both
    land on the middle row ((a+a)/2 == a exactly), for even n this is
    (a+b)/2 computed with the same two IEEE ops in both engines. Spark's
    percentile interpolation (lower + (higher-lower)*frac) and DuckDB's
    quantile_cont are NOT guaranteed bit-identical, so neither is used.

    Scale: daily totals are one map-side-combined shuffle on
    (event_type, day); everything after runs on the |types| x |days|
    aggregate frame (tiny at any corpus size), and the two ranking
    windows partition on event_type — no unpartitioned window, no
    second pass over raw events."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {DAY_US}").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(dsum(F.col("value")).alias("total"))
    )
    by_type = W.partitionBy("event_type")

    def group_median(frame: DataFrame, val: str, out: str) -> DataFrame:
        r = frame.withColumn(
            "rn", F.row_number().over(by_type.orderBy(val, "day"))
        ).withColumn("n", F.count(F.lit(1)).over(by_type))
        lo = F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col(val)))
        hi = F.max(F.when(F.expr("rn = n div 2 + 1"), F.col(val)))
        return r.groupBy("event_type").agg(((lo + hi) / 2).alias(out))

    m = group_median(d, "total", "med")
    a = d.join(m, "event_type").withColumn(
        "absdev", F.abs(F.col("total") - F.col("med"))
    )
    md = group_median(a, "absdev", "mad")
    return (
        a.join(md, "event_type")
        .filter((F.col("mad") > 0) & (F.col("absdev") > 3 * F.col("mad")))
        .select(
            "event_type",
            F.col("day").cast("long").alias("day"),
            "total",
            "med",
            "mad",
            (F.col("absdev") / F.col("mad")).alias("robust_score"),
        )
        .orderBy("event_type", "day")
    )


# --- A/B sample-ratio-mismatch check ---------------------------------------


@query(
    "events_ab_srm_check",
    oracle="""
    WITH exposed AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM exposed GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) AS chi2,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
             > 3.841 AS srm_flag
    FROM counts ORDER BY event_type
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B assignment that
    events_abtest_lift analyzes (user_id % 2 — the same hash split):
    per exposure surface (event_type), count distinct users landing in
    each arm and chi-square-test the observed split against the
    designed 50/50. For two cells with expected n/2 the statistic
    collapses to the closed form (n_a−n_b)²/n — exact BIGINT algebra
    until one final double division — flagged at the 95% critical
    value 3.841. SRM is the first gate every experimentation platform
    runs: a lift read on a mismatched split is invalid regardless of
    its p-value.

    Scale: one distinct on (event_type, user_id) — map-side combined,
    the only shuffle — then a bounded-cardinality rollup; no raw-event
    second pass, no per-user state."""
    ev = load(spark, sf_dir, "events")
    exposed = ev.select("event_type", "user_id").distinct()
    counts = exposed.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    diff = F.col("n_a") - F.col("n_b")
    chi2 = (diff * diff).cast("double") / (F.col("n_a") + F.col("n_b"))
    return counts.select(
        "event_type",
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    ).orderBy("event_type")


# --- forecast baseline backtest ---------------------------------------------


@query(
    "events_forecast_backtest",
    oracle=f"""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // {DAY_US} AS day,
             {DSUM_SQL.format(expr="value")} AS total
      FROM events GROUP BY event_type, day
    ),
    l AS (
      SELECT *,
             LAG(total, 1) OVER (PARTITION BY event_type ORDER BY day)
               AS f_naive,
             LAG(total, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS f_seas
      FROM d
    ),
    a AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days_tested,
             {DSUM_SQL.format(expr="abs(total - f_naive)")} / COUNT(*)
               AS mae_naive,
             {DSUM_SQL.format(expr="abs(total - f_seas)")} / COUNT(*)
               AS mae_seasonal
      FROM l WHERE f_naive IS NOT NULL AND f_seas IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_days_tested, mae_naive, mae_seasonal,
           CASE WHEN mae_seasonal < mae_naive THEN 'seasonal'
                WHEN mae_seasonal > mae_naive THEN 'naive'
                ELSE 'tie' END AS winner
    FROM a ORDER BY event_type
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest per event type: walk the daily-value
    series and score the two baselines every forecasting effort must
    beat — naive (yesterday's total) and seasonal-naive (the total 7
    observed days back) — by mean absolute error over every day where
    both have history. The winner column is the one-line answer to
    "does this series have weekly structure worth modeling".

    Lags are ROWS-based over OBSERVED days (gap days don't shift the
    seasonal index — the convention events_gap_fill exists to change);
    daily totals and both MAE numerators use the DECIMAL(38,10)
    order-independent sum, so every emitted double is deterministic.

    Scale: one map-side-combined shuffle to day grain; the lag window
    and the backtest aggregate both partition on event_type over the
    |types|×|days| frame — no second pass over raw events, same shape
    as events_anomaly_mad."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {DAY_US}").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(dsum(F.col("value")).alias("total"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "total",
        F.lag("total", 1).over(w).alias("f_naive"),
        F.lag("total", 7).over(w).alias("f_seas"),
    ).filter(F.col("f_naive").isNotNull() & F.col("f_seas").isNotNull())
    a = l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_tested"),
        (
            dsum(F.abs(F.col("total") - F.col("f_naive")))
            / F.count(F.lit(1))
        ).alias("mae_naive"),
        (
            dsum(F.abs(F.col("total") - F.col("f_seas")))
            / F.count(F.lit(1))
        ).alias("mae_seasonal"),
    )
    return a.select(
        "event_type",
        "n_days_tested",
        "mae_naive",
        "mae_seasonal",
        F.when(F.col("mae_seasonal") < F.col("mae_naive"), "seasonal")
        .when(F.col("mae_seasonal") > F.col("mae_naive"), "naive")
        .otherwise("tie")
        .alias("winner"),
    ).orderBy("event_type")
