"""Round-13 widening batch 3: the remaining classical-test tier — the
K-group / blocked / ordered-alternative / scale-homogeneity tests that
complete the nonparametric suite the round-12/13 tiers started, plus
the serial-dependence diagnostics a daily-series monitor needs:

- ``events_kruskal_wallis`` — the K-group generalization of
  events_mann_whitney_u (rank ANOVA over event types), tie-corrected,
  from the same distinct-value-domain rank machinery.
- ``events_friedman_dow`` — the BLOCKED rank test (blocks = calendar
  weeks, treatments = the 7 weekdays) of "do weekdays differ in event
  volume, controlling for week-to-week level shifts", plus Kendall's W
  concordance; all-integer to a single division.
- ``events_cochran_armitage_hour`` — the trend-in-proportions test
  (error-rate vs hour-of-day with linear scores): the ORDERED
  alternative that a plain χ² independence test (dq_cramers_v_type_dow
  family) has no power against.
- ``dq_grubbs_extreme_day`` — the Grubbs single-outlier statistic over
  daily revenue: WHICH day is most extreme and how many σ it sits from
  the mean — the univariate complement to dq_tukey_outlier_fences'
  quartile fences.
- ``events_levene_brown_forsythe`` — the Brown–Forsythe (median-based
  Levene) test of variance homogeneity across event types: the
  robust gate on the equal-variance assumption events_anova_dow's F
  quietly makes; per-type medians by TWO-PHASE bin selection.
- ``orders_hodges_lehmann`` — the Hodges–Lehmann location estimate of
  daily revenue (median of all Walsh pair averages): the estimator
  companion to orders_runs_test_median's sequence test, with the
  Theil–Sen two-phase median applied to the Walsh-pair frame.
- ``events_ljung_box`` — Ljung–Box Q over lags 1..7 of the daily
  event-count series: "is there ANY serial correlation" — the
  portmanteau screen run before trusting events_holt_linear_forecast
  or any i.i.d.-assuming sampler.
- ``orders_durbin_watson`` — Durbin–Watson on the residuals of the
  exact OLS day-trend of daily revenue: lag-1 residual dependence,
  the specific diagnostic that says whether q64_groupwise_ols-style
  trend fits may quote their standard errors.

None of these exist in the reference (no statistics surface —
SURVEY.md §2.1; its one query capability is selective decryption,
src/parquet_reader.cpp:92-101); they extend the §2.3 tier.

Determinism conventions as everywhere (registry.py module note), plus:

- Division-audit rule (round 13): every statistic whose denominator
  zeroes on DEGENERATE legal input ships F.try_divide + a NULLIF
  oracle twin FROM DAY ONE.
- ORDERED-FOLD convention (new this batch): a sum of DOUBLE terms over
  a bounded domain (group keys, calendar days) is order-sensitive in
  IEEE, and neither engine pins GROUP BY accumulation order. Where the
  terms cannot stay integer/decimal-exact, both engines fold an
  ORDERED LIST sequentially: Spark
  ``aggregate(transform(array_sort(collect_list(struct(key, term)))),
  0.0, acc+x)``, DuckDB ``list_reduce(list_prepend(0.0, list(term
  ORDER BY key)), acc+x)`` — the identical left-to-right IEEE
  sequence, verified equal on 5000 random 1e12-scale doubles.
  Two rejected alternatives, measured this round: (a) a cumulative
  WINDOW sum read at the last key is NOT portable — DuckDB evaluates
  windowed SUM with a segment tree (pairwise association), Spark with
  a running accumulator, and they differ in the last ulp by ~5000
  elements; (b) the floor-scaled integer convention saturates — Spark
  ``floor(double)→LONG`` silently pins to Long.MAX at 9.2e18 (no ANSI
  error), so ``_fsum`` is only legal when |term|·1e6 < 9.2e18 (fine
  for value-bounded terms like |x−median| ≤ the value range; NOT for
  squared corpus-scaled residuals, which cross 1e19 already at
  sf0.01). The fold has no width limit and no quantization; the list
  lives on a bounded domain (k groups / the calendar), never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..ckpt import checkpoint
from ..registry import DAY_US, HOUR_US, fsum, query
from ..tables import load
from .pipeline18 import DAILY_REV_SQL, daily_rev


# ordered sequential fold over a bounded key domain — the shared
# convention helpers (registry.py; module note above)
from ..registry import OFOLD_SQL as _OFOLD_SQL  # noqa: E402
from ..registry import ofold as _ofold  # noqa: E402


# --- Kruskal–Wallis rank ANOVA -------------------------------------------------


@query(
    "events_kruskal_wallis",
    oracle="""
    WITH cells AS (
      SELECT event_type AS g, value AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    perv AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY v
    ),
    cum AS (
      SELECT v, t,
             CAST(SUM(t) OVER (ORDER BY v) - t AS BIGINT) AS cb
      FROM perv
    ),
    rsum AS (
      SELECT cells.g,
             CAST(SUM(cells.c) AS BIGINT) AS ng,
             SUM(CAST(cells.c AS HUGEINT)
                 * (2 * cum.cb + cum.t + 1)) AS r2
      FROM cells JOIN cum ON cells.v = cum.v
      GROUP BY cells.g
    ),
    terms AS (
      SELECT g, ng, r2,
             (CAST(CAST(r2 AS VARCHAR) AS DOUBLE)
              * CAST(CAST(r2 AS VARCHAR) AS DOUBLE))
               / NULLIF(CAST(ng AS DOUBLE), 0) AS term
      FROM rsum
    ),
    tsum AS (
      SELECT list_reduce(list_prepend(0.0, list(term ORDER BY g)),
                         (acc, x) -> acc + x) AS total_term,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM terms
    ),
    ties AS (
      SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM perv
    ),
    nn AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             SUM(CAST(c AS HUGEINT)) * SUM(CAST(c AS HUGEINT))
               * SUM(CAST(c AS HUGEINT)) - SUM(CAST(c AS HUGEINT)) AS n3n
      FROM cells
    )
    SELECT nn.n, ts.k AS k_groups,
           (3.0 * ts.total_term)
             / NULLIF(CAST(nn.n AS DOUBLE) * (nn.n + 1), 0)
             - 3.0 * (nn.n + 1) AS h_stat,
           1.0 - CAST(CAST(ti.tie3 AS VARCHAR) AS DOUBLE)
                   / NULLIF(CAST(CAST(nn.n3n AS VARCHAR) AS DOUBLE), 0)
             AS tie_c,
           ((3.0 * ts.total_term)
              / NULLIF(CAST(nn.n AS DOUBLE) * (nn.n + 1), 0)
              - 3.0 * (nn.n + 1))
             / NULLIF(1.0 - CAST(CAST(ti.tie3 AS VARCHAR) AS DOUBLE)
                        / NULLIF(CAST(CAST(nn.n3n AS VARCHAR) AS DOUBLE), 0),
                      0) AS h_adj
    FROM tsum ts CROSS JOIN ties ti CROSS JOIN nn
    """,
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank ANOVA of `value` across the event-type
    groups — the K-group generalization of events_mann_whitney_u:
    H = 12/(N(N+1)) Σ_g R_g²/n_g − 3(N+1) over mid-ranks, divided by
    the tie correction C = 1 − Σ(t³−t)/(N³−N). Large H = at least one
    type's value distribution is shifted — the screen run before any
    per-type pairwise drill-down.

    Rank machinery (the MWU precedent): one groupBy into (type, value)
    cells, per-value totals + a cumulative window over the DISTINCT
    VALUE domain give 2·midrank(v) = 2·cum_before + t + 1 exactly, and
    R2_g = Σ c·(2cb+t+1) = 2R_g accumulates in DECIMAL(38,0)/HUGEINT
    (exact far past the BIGINT ~2e9-row tier). H uses Σ_g R2_g²/4 /
    n_g = Σ_g (3/12·…): per-group terms are DOUBLE, so the k-term sum
    follows the ORDERED-FOLD convention (module note): both engines
    fold the group-key-ordered term list sequentially — identical IEEE
    order, no GROUP-BY-order sensitivity.

    Degenerate legal inputs → NULL, never abort (division-audit rule):
    single distinct value (C = 0), N ≤ 1 (N³−N = 0, N(N+1) guard is
    belt-and-suspenders), an empty group never arises (groups exist
    only with rows). try_divide on Spark, NULLIF twins in the oracle.

    Scale: row-proportional work is ONE map-side groupBy into the
    (type × distinct-value) cell domain; everything after runs on
    value/group domains (the exact-rank "domain sort" price — a
    single-partition window over distinct values, never rows)."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    cells = ev.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    perv = cells.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    cum = perv.select(
        "v",
        "t",
        (F.sum("t").over(W.orderBy("v")) - F.col("t"))
        .cast("long")
        .alias("cb"),
    )
    rsum = (
        cells.join(F.broadcast(cum), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (2 * F.col("cb") + F.col("t") + 1)
            ).alias("r2"),
        )
    )
    r2d = F.col("r2").cast("double")
    terms = rsum.select(
        "g",
        F.try_divide(r2d * r2d, F.col("ng").cast("double")).alias("term"),
    )
    tsum = terms.agg(
        _ofold(F.col("term"), F.col("g")).alias("total_term"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = perv.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie3")
    )
    nn = cells.agg(
        F.sum("c").cast("long").alias("n"),
        (
            F.sum(F.col("c").cast("decimal(38,0)"))
            * F.sum(F.col("c").cast("decimal(38,0)"))
            * F.sum(F.col("c").cast("decimal(38,0)"))
            - F.sum(F.col("c").cast("decimal(38,0)"))
        ).alias("n3n"),
    )
    n = F.col("n")
    h = F.try_divide(
        3.0 * F.col("total_term"), n.cast("double") * (n + 1)
    ) - 3.0 * (n + 1)
    tie_c = F.lit(1.0) - F.try_divide(
        F.col("tie3").cast("double"), F.col("n3n").cast("double")
    )
    return (
        tsum.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            n.alias("n"),
            F.col("k").alias("k_groups"),
            h.alias("h_stat"),
            tie_c.alias("tie_c"),
            F.try_divide(h, tie_c).alias("h_adj"),
        )
    )


# --- Friedman blocked rank test ------------------------------------------------


@query(
    "events_friedman_dow",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    wk AS (
      SELECT d // 7 AS w, d % 7 AS dow, c FROM daily
    ),
    complete AS (
      SELECT w FROM wk GROUP BY w HAVING COUNT(*) = 7
    ),
    ranked AS (
      SELECT wk.w, wk.dow,
             2 * RANK() OVER (PARTITION BY wk.w ORDER BY wk.c)
               + CAST(COUNT(*) OVER (PARTITION BY wk.w, wk.c) AS BIGINT)
               - 1 AS mr2
      FROM wk JOIN complete ON wk.w = complete.w
    ),
    per_dow AS (
      SELECT dow, CAST(SUM(mr2) AS BIGINT) AS s2 FROM ranked GROUP BY dow
    ),
    blocks AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS b,
             CAST(SUM(mr2 * mr2) AS BIGINT) AS a4
      FROM ranked
    ),
    sq AS (
      SELECT CAST(SUM((s2 - 8 * blocks.b) * (s2 - 8 * blocks.b)) AS BIGINT)
               AS dev4
      FROM per_dow CROSS JOIN blocks
    )
    SELECT blocks.b AS n_blocks,
           CAST(6 * sq.dev4 AS DOUBLE)
             / NULLIF(CAST(blocks.a4 - 448 * blocks.b AS DOUBLE), 0)
             AS chi2_friedman,
           CAST(6 * sq.dev4 AS DOUBLE)
             / NULLIF(CAST(blocks.a4 - 448 * blocks.b AS DOUBLE), 0)
             / NULLIF(CAST(6 * blocks.b AS DOUBLE), 0) AS kendall_w
    FROM sq CROSS JOIN blocks
    """,
)
def events_friedman_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test: blocks = calendar weeks (epoch-day
    div 7 — TZ-free, no ISO calendar), treatments = the k = 7 weekdays,
    response = daily event count; only COMPLETE weeks (all 7 days
    present) enter. Within each week the 7 counts get mid-ranks;
    χ²_F = (k−1)·Σ_j(2R_j − b(k+1))² / (4A − bk(k+1)²) is the
    tie-corrected Friedman statistic (numerator/denominator scaled ×4
    so every quantity is an exact INTEGER: 2·midrank = 2·rank_min +
    t − 1 from a RANK window plus a tie-count window, A = Σ(2r)²,
    b(k+1) = 8b, bk(k+1)² = 448b). Kendall's W = χ²_F/(b(k−1)) is the
    concordance coefficient. This answers "do weekdays differ,
    CONTROLLING for week-level drift" — what events_anova_dow's
    unblocked F conflates with trend.

    Determinism: all-integer up to ONE double division (then one more
    for W); no IEEE sum-order exposure at all. Widths: mid-ranks ≤ 7,
    so S2_j ≤ 14b and A ≤ 196b — BIGINT-safe to ~10¹⁶ weeks (the
    calendar is ~10² — blocked designs are calendar-bounded by
    construction).

    Degenerate legal inputs → NULL (division-audit rule): every week
    all-tied (constant counts) makes 4A = 448b exactly; try_divide /
    NULLIF. Zero complete weeks yields b = 0 and NULL χ² the same way.

    Scale: row-proportional work is the map-side daily rollup; weeks,
    ranks, and devs all live on the (week × 7) calendar domain."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.expr(f"ts_us div {DAY_US}").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # d ≥ 0 for the whole corpus epoch, so integer div and % agree
    # with the oracle's // and % exactly.
    wk = daily.select(
        F.expr("d div 7").alias("w"),
        (F.col("d") % 7).alias("dow"),
        "c",
    )
    complete = wk.groupBy("w").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") == 7
    )
    ranked = (
        wk.join(F.broadcast(complete.select("w")), "w")
        .withColumn(
            "mr2",
            2 * F.rank().over(W.partitionBy("w").orderBy("c"))
            + F.count(F.lit(1))
            .over(W.partitionBy("w", "c"))
            .cast("long")
            - 1,
        )
    )
    per_dow = ranked.groupBy("dow").agg(
        F.sum("mr2").cast("long").alias("s2")
    )
    blocks = ranked.agg(
        F.countDistinct("w").cast("long").alias("b"),
        F.sum(F.col("mr2") * F.col("mr2")).cast("long").alias("a4"),
    )
    sq = per_dow.crossJoin(F.broadcast(blocks)).agg(
        F.sum(
            (F.col("s2") - 8 * F.col("b"))
            * (F.col("s2") - 8 * F.col("b"))
        )
        .cast("long")
        .alias("dev4")
    )
    chi2 = F.try_divide(
        (6 * F.col("dev4")).cast("double"),
        (F.col("a4") - 448 * F.col("b")).cast("double"),
    )
    return sq.crossJoin(F.broadcast(blocks)).select(
        F.col("b").alias("n_blocks"),
        chi2.alias("chi2_friedman"),
        F.try_divide(chi2, (6 * F.col("b")).cast("double")).alias(
            "kendall_w"
        ),
    )


# --- Cochran–Armitage trend test ----------------------------------------------

_CA_POS = "error"  # the monitored outcome class


@query(
    "events_cochran_armitage_hour",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST((epoch_us(ts) // {HOUR_US}) % 24 AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = '{_CA_POS}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM events GROUP BY 1
    ),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
             CAST(SUM(h * n) AS BIGINT) AS sn,
             CAST(SUM(h * r) AS BIGINT) AS sr,
             CAST(SUM(h * h * n) AS BIGINT) AS s2n
      FROM hourly
    )
    SELECT nn AS n, rr AS n_pos,
           CAST(rr AS DOUBLE) / NULLIF(CAST(nn AS DOUBLE), 0) AS pbar,
           (CAST(sr AS DOUBLE)
              - (CAST(rr AS DOUBLE) / NULLIF(CAST(nn AS DOUBLE), 0))
                * CAST(sn AS DOUBLE))
             / NULLIF(sqrt(
                 (CAST(rr AS DOUBLE) / NULLIF(CAST(nn AS DOUBLE), 0))
                 * (1.0 - CAST(rr AS DOUBLE)
                            / NULLIF(CAST(nn AS DOUBLE), 0))
                 * (CAST(s2n AS DOUBLE)
                    - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                      / NULLIF(CAST(nn AS DOUBLE), 0))), 0) AS z_ca
    FROM agg
    """,
)
def events_cochran_armitage_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran–Armitage trend test: does the '{POS}'-event PROPORTION
    trend linearly with hour-of-day (scores s_h = h = 0..23)?
    z = Σs(r_h − n_h·p̄) / √(p̄(1−p̄)(Σs²n − (Σsn)²/N)) — the
    one-degree-of-freedom ordered alternative that a k−1-df χ²
    independence test dilutes. A pipeline alerts on |z| for "errors
    concentrate toward end-of-day" style drift.

    Determinism: the five sufficient statistics (N, R, Σsn, Σsr,
    Σs²n) are exact BIGINT (s ≤ 23, s² ≤ 529 — width-safe to ~10¹⁶
    rows); z is ONE fixed IEEE expression tree over those five
    scalars, identical in both engines; no sum-order exposure.

    Degenerate legal inputs → NULL (division-audit rule): p̄ ∈ {{0,1}}
    (no/only positive events) and a single-occupied-hour corpus
    (score variance 0) zero the denominator — try_divide + NULLIF; an
    empty corpus yields NULL sufficient statistics from the empty agg
    and NULL propagates through z (never a 0/0).

    Scale: one map-side groupBy into the 24-row hour domain, one
    5-aggregate reduce of it. Nothing else."""
    hourly = (
        load(spark, sf_dir, "events")
        .select(
            (F.expr(f"ts_us div {HOUR_US}") % 24).alias("h"),
            F.when(F.col("event_type") == _CA_POS, 1)
            .otherwise(0)
            .alias("pos"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("r"),
        )
    )
    agg = hourly.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("h") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("h") * F.col("r")).cast("long").alias("sr"),
        F.sum(F.col("h") * F.col("h") * F.col("n"))
        .cast("long")
        .alias("s2n"),
    )
    nn_d = F.col("nn").cast("double")
    pbar = F.try_divide(F.col("rr").cast("double"), nn_d)
    num = F.col("sr").cast("double") - pbar * F.col("sn").cast("double")
    var = (
        pbar
        * (1.0 - pbar)
        * (
            F.col("s2n").cast("double")
            - F.try_divide(
                F.col("sn").cast("double") * F.col("sn").cast("double"),
                nn_d,
            )
        )
    )
    return agg.select(
        F.col("nn").alias("n"),
        F.col("rr").alias("n_pos"),
        pbar.alias("pbar"),
        F.try_divide(num, F.sqrt(var)).alias("z_ca"),
    )


events_cochran_armitage_hour.__doc__ = (
    events_cochran_armitage_hour.__doc__.replace("{POS}", _CA_POS)
)


# --- Grubbs extreme-day statistic ---------------------------------------------


@query(
    "dq_grubbs_extreme_day",
    oracle=f"""
    WITH {DAILY_REV_SQL},
    nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {_OFOLD_SQL.format(term="y", key="d")} AS sy
      FROM daily
    ),
    mean AS (
      SELECT n, sy / NULLIF(CAST(n AS DOUBLE), 0) AS m FROM nn
    ),
    var AS (
      SELECT mean.n, mean.m,
             {_OFOLD_SQL.format(term="(daily.y - mean.m) * (daily.y - mean.m)", key="daily.d")}
               / NULLIF(CAST(mean.n - 1 AS DOUBLE), 0) AS s2
      FROM daily CROSS JOIN mean GROUP BY mean.n, mean.m
    )
    SELECT var.n AS n_days, var.m AS mean_rev,
           sqrt(var.s2) AS std_rev, daily.d AS g_day, daily.y AS g_value,
           abs(daily.y - var.m) / NULLIF(sqrt(var.s2), 0) AS g_stat
    FROM daily CROSS JOIN var
    ORDER BY g_stat DESC NULLS LAST, daily.d
    LIMIT 1
    """,
)
def dq_grubbs_extreme_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs single-outlier statistic on daily revenue: G =
    max|y − ȳ|/s with the sample std — WHICH day is most extreme and
    how many σ out it sits. The parametric complement to
    dq_tukey_outlier_fences (which counts quartile-fence outliers but
    does not name the worst one); a curation pipeline routes the G-day
    to inspection before retraining on its data.

    Determinism: ȳ and Σ(y−ȳ)² via the ORDERED-FOLD convention over
    the calendar key (corpus-scaled computed doubles whose SQUARES
    cross the floor()→LONG saturation bound — module note); the
    winner row is picked by the total order (G DESC NULLS LAST, day)
    so exact-double G ties (e.g. a two-day symmetric corpus) break on
    the calendar, identically in both engines.

    Degenerate legal inputs → NULL G (division-audit rule): a
    constant series (s = 0) and n = 1 (n−1 = 0); the NULLS LAST
    ordering then surfaces the earliest day with NULL G rather than
    aborting — try_divide + NULLIF twins.

    Scale: two day-domain aggregate passes (mean, then centered
    moments — the floor-scaled convention needs ȳ first) and one
    day-domain top-1 sort (TakeOrderedAndProject)."""
    daily = daily_rev(spark, sf_dir)
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _ofold(F.col("y"), F.col("d")).alias("sy"),
    )
    mean = nn.select(
        "n", F.try_divide(F.col("sy"), F.col("n").cast("double")).alias("m")
    )
    var = (
        daily.crossJoin(F.broadcast(mean))
        .groupBy("n", "m")
        .agg(
            F.try_divide(
                _ofold(
                    (F.col("y") - F.col("m")) * (F.col("y") - F.col("m")),
                    F.col("d"),
                ),
                (F.col("n") - 1).cast("double"),
            ).alias("s2")
        )
    )
    return (
        daily.crossJoin(F.broadcast(var))
        .select(
            F.col("n").alias("n_days"),
            F.col("m").alias("mean_rev"),
            F.sqrt(F.col("s2")).alias("std_rev"),
            F.col("d").alias("g_day"),
            F.col("y").alias("g_value"),
            F.try_divide(
                F.abs(F.col("y") - F.col("m")), F.sqrt(F.col("s2"))
            ).alias("g_stat"),
        )
        .orderBy(F.col("g_stat").desc_nulls_last(), F.col("g_day"))
        .limit(1)
    )


# --- Brown–Forsythe variance-homogeneity test ---------------------------------


@query(
    "events_levene_brown_forsythe",
    oracle="""
    WITH nn AS (
      SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS ng FROM events
      GROUP BY 1
    ),
    med AS (
      SELECT e.event_type AS g, e.value AS md FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn
        FROM events
      ) e JOIN nn ON e.event_type = nn.g
      WHERE e.rn = (nn.ng + 1) // 2
    ),
    z AS (
      SELECT events.event_type AS g,
             abs(events.value - med.md) AS z
      FROM events JOIN med ON events.event_type = med.g
    ),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(FLOOR(z * 1000000.0) AS DECIMAL(38,0)))
                  AS VARCHAR)::DOUBLE / 1000000.0 AS sz,
             CAST(SUM(CAST(FLOOR(z * z * 1000000.0) AS DECIMAL(38,0)))
                  AS VARCHAR)::DOUBLE / 1000000.0 AS sz2
      FROM z GROUP BY g
    ),
    tsum AS (
      SELECT list_reduce(list_prepend(0.0,
               list((sz * sz) / NULLIF(CAST(ng AS DOUBLE), 0)
                    ORDER BY g)),
               (acc, x) -> acc + x) AS t,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per_g
    ),
    gtot AS (
      SELECT CAST(SUM(CAST(FLOOR(z * 1000000.0) AS DECIMAL(38,0)))
                  AS VARCHAR)::DOUBLE / 1000000.0 AS s_tot,
             CAST(SUM(CAST(FLOOR(z * z * 1000000.0) AS DECIMAL(38,0)))
                  AS VARCHAR)::DOUBLE / 1000000.0 AS q_tot
      FROM z
    )
    SELECT n, k AS k_groups,
           t - (s_tot * s_tot) / NULLIF(CAST(n AS DOUBLE), 0) AS ssb,
           q_tot - t AS ssw,
           ((t - (s_tot * s_tot) / NULLIF(CAST(n AS DOUBLE), 0))
              * CAST(n - k AS DOUBLE))
             / NULLIF((q_tot - t) * CAST(k - 1 AS DOUBLE), 0) AS f_bf
    FROM tsum CROSS JOIN gtot
    """,
)
def events_levene_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown–Forsythe (median-based Levene) test of variance
    homogeneity across event types: z_ij = |x_ij − median_j|, then the
    one-way ANOVA F on z — the robust gate on the equal-variance
    assumption events_anova_dow quietly makes (mean-based Levene
    inflates under the heavy tails the corpus actually has; the median
    center is the standard fix). Per-type medians are the LOWER median
    (rank ⌈n/2⌉ under the (value, event_id) total order — the
    runs-test convention), a DATA value.

    The Spark side selects each median by the dq_tukey_outlier_fences
    TWO-PHASE machinery (unit-width value bins; the bin-domain
    cumulative locates the median bin, only that bin's rows sort); the
    oracle ranks globally — same order statistic. F decomposes as
    SSB = Σ_g S_g²/n_g − S²/N and SSW = Σz² − Σ_g S_g²/n_g, where the
    z-sums use the floor-scaled integer convention — LEGAL here
    because z ≤ the value range (≈490), so floored terms stay ≪ the
    9.2e18 Spark floor()→LONG saturation bound (module note) and the
    global S and Σz² equal the group partials exactly (integer
    addition is order-free); the k-term Σ_g S_g²/n_g is the one
    corpus-scaled DOUBLE sum, so it follows the ORDERED-FOLD
    convention (module note) — the same IEEE order in both engines.

    Degenerate legal inputs → NULL F (division-audit rule): one group
    (k = 1), constant values within every type (SSW = 0 — F undefined,
    the robust analogue of a zero-variance pool), N = k. try_divide +
    NULLIF twins.

    Scale: medians by two-phase selection (no per-type row sort);
    after the broadcast median join, everything reduces map-side into
    the 5-row group domain; the ordered-sum window runs over k rows."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), "value", "event_id"
    )
    ng = ev.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    # phase 1: unit-width value bins; bin-domain cumulative locates
    # the bin holding rank ceil(n/2) per group
    binned = ev.select("g", F.floor(F.col("value")).cast("long").alias("bin"))
    per_bin = binned.groupBy("g", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = W.partitionBy("g").orderBy("bin")
    cum = per_bin.select(
        "g", "bin", "cnt", F.sum("cnt").over(wb).alias("cumc")
    )
    target = F.expr("(ng + 1) div 2")
    located = (
        cum.join(F.broadcast(ng), "g")
        .groupBy("g", "ng")
        .agg(
            F.min(
                F.when(F.col("cumc") >= target, F.col("bin"))
            ).alias("qb")
        )
    )
    before = cum.select(
        F.col("g").alias("bg"),
        F.col("bin").alias("bb"),
        (F.col("cumc") - F.col("cnt")).alias("cum_before"),
    )
    # phase 2: rank ONLY the located bin's rows per group
    wv = W.partitionBy("g", "bin").orderBy("value", "event_id")
    med = (
        ev.withColumn("bin", F.floor(F.col("value")).cast("long"))
        .join(
            F.broadcast(
                located.select(
                    F.col("g").alias("lg"), "qb", "ng"
                )
            ),
            (F.col("g") == F.col("lg")) & (F.col("bin") == F.col("qb")),
        )
        .withColumn("brn", F.row_number().over(wv))
        .join(
            F.broadcast(before),
            (F.col("g") == F.col("bg")) & (F.col("bin") == F.col("bb")),
        )
        .filter((F.col("brn") + F.col("cum_before")) == target)
        .select("g", F.col("value").alias("md"))
    )
    z = ev.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("value") - F.col("md")).alias("z")
    )
    per_g = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        fsum(F.col("z")).alias("sz"),
        fsum(F.col("z") * F.col("z")).alias("sz2"),
    )
    tsum = per_g.agg(
        _ofold(
            F.try_divide(
                F.col("sz") * F.col("sz"), F.col("ng").cast("double")
            ),
            F.col("g"),
        ).alias("t"),
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    ).crossJoin(
        F.broadcast(
            z.agg(
                fsum(F.col("z")).alias("s_tot"),
                fsum(F.col("z") * F.col("z")).alias("q_tot"),
            )
        )
    )
    n_d = F.col("n").cast("double")
    ssb = F.col("t") - F.try_divide(F.col("s_tot") * F.col("s_tot"), n_d)
    ssw = F.col("q_tot") - F.col("t")
    return tsum.select(
        "n",
        F.col("k").alias("k_groups"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        F.try_divide(
            ssb * (F.col("n") - F.col("k")).cast("double"),
            ssw * (F.col("k") - 1).cast("double"),
        ).alias("f_bf"),
    )


# --- Hodges–Lehmann location estimate -----------------------------------------

_HL_BIN = 1000.0  # Walsh-average bin width for the two-phase median


@query(
    "orders_hodges_lehmann",
    oracle=f"""
    WITH {DAILY_REV_SQL},
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * (COUNT(*) + 1) // 2 AS BIGINT) AS np
      FROM daily
    ),
    walsh AS (
      SELECT (a.y + b.y) / 2.0 AS w, a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b ON b.d >= a.d
    ),
    ranked AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY w, d1, d2) AS rn FROM walsh
    )
    SELECT t.n_days, t.np AS n_pairs,
           SUM(CASE WHEN rn = (t.np + 1) // 2 OR rn = (t.np + 2) // 2
                    THEN w END)
             / COUNT(CASE WHEN rn = (t.np + 1) // 2 OR rn = (t.np + 2) // 2
                          THEN w END) AS hl_location
    FROM ranked CROSS JOIN nd t
    GROUP BY t.n_days, t.np
    """,
)
def orders_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimate of daily revenue: the median
    of all n(n+1)/2 Walsh averages (y_i + y_j)/2, i ≤ j — the
    estimator the Wilcoxon signed-rank test inverts, with 29%
    breakdown and ~0.955 Gaussian efficiency (beats the plain median's
    0.64): the robust "typical daily revenue" a monitor alerts
    against. Median = mean of the two middle Walsh values under the
    total (w, d1, d2) order.

    Determinism: daily revenue via decimal sums; each Walsh average is
    one IEEE add + halving; the median picks by integer rank and
    averages ≤ 2 doubles (order-free 2-operand sum — the Theil–Sen
    precedent for corpus-scaled computed doubles, ADVICE r12).

    Scale: the Walsh universe is CALENDAR-bounded — n(n+1)/2 day pairs
    (~2.9M for the 2405-day span) regardless of corpus size, built by
    broadcast self-join of the daily rollup and materialized ONCE
    (localCheckpoint, the orders_theil_sen_trend precedent — so this
    query executes at construction, registry eager-contract note).
    The median itself is TWO-PHASE: {_HL_BIN:.0f}-wide bins + a
    bin-domain cumulative locate the two middle ranks, only those
    bins' rows rank — no single-partition sort of the pair frame (the
    oracle ranks globally; same order statistics). Row-proportional
    work is only the map-side daily aggregation."""
    daily = daily_rev(spark, sf_dir)
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    walsh = checkpoint(
        a.join(F.broadcast(b), F.col("d2") >= F.col("d1")).select(
            ((F.col("y1") + F.col("y2")) / 2.0).alias("w"), "d1", "d2"
        )
    )
    nd = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("count(1) * (count(1) + 1) div 2")
        .cast("long")
        .alias("np"),
    )
    binned = walsh.withColumn(
        "wbin", F.floor(F.col("w") / _HL_BIN).cast("long")
    )
    per_bin = binned.groupBy("wbin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = per_bin.select(
        "wbin", "cnt", F.sum("cnt").over(W.orderBy("wbin")).alias("cumc")
    )
    m1 = F.expr("(np + 1) div 2")
    m2 = F.expr("(np + 2) div 2")
    located = (
        cum.crossJoin(F.broadcast(nd))
        .groupBy("n_days", "np")
        .agg(
            F.min(F.when(F.col("cumc") >= m1, F.col("wbin"))).alias("b1"),
            F.min(F.when(F.col("cumc") >= m2, F.col("wbin"))).alias("b2"),
        )
    )
    before = cum.select(
        F.col("wbin").alias("bb"),
        (F.col("cumc") - F.col("cnt")).alias("cum_before"),
    )
    wv = W.partitionBy("wbin").orderBy("w", "d1", "d2")
    mid_rows = (
        binned.join(
            F.broadcast(
                located.select(F.col("b1").alias("qb"))
                .unionAll(located.select(F.col("b2").alias("qb")))
                .distinct()
            ),
            F.col("wbin") == F.col("qb"),
        )
        .select("w", "d1", "d2", "wbin")
        .withColumn("brn", F.row_number().over(wv))
        .join(F.broadcast(before), F.col("wbin") == F.col("bb"))
        .select(
            "w", "wbin", (F.col("brn") + F.col("cum_before")).alias("rn")
        )
    )
    mid = (F.col("rn") == m1) | (F.col("rn") == m2)
    return (
        mid_rows.crossJoin(F.broadcast(nd))
        .groupBy("n_days", "np")
        .agg(
            (
                F.sum(F.when(mid, F.col("w")))
                / F.count(F.when(mid, F.col("w")))
            ).alias("hl_location")
        )
        .select("n_days", F.col("np").alias("n_pairs"), "hl_location")
    )


# --- Ljung–Box portmanteau test -----------------------------------------------

_LB_LAGS = 7  # weekly horizon: lags 1..7 of the daily series


@query(
    "events_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS tot
      FROM daily
    ),
    dev AS (
      SELECT d,
             CAST(c AS DOUBLE)
               - CAST(nn.tot AS DOUBLE) / NULLIF(CAST(nn.n AS DOUBLE), 0)
               AS e
      FROM daily CROSS JOIN nn
    ),
    lagged AS (
      SELECT d, e,
             {", ".join(f"LAG(e, {k}) OVER (ORDER BY d) AS e{k}" for k in range(1, 8))}
      FROM dev
    ),
    sums AS (
      SELECT {_OFOLD_SQL.format(term="e * e", key="d")} AS s0,
             {", ".join(_OFOLD_SQL.format(term=f"COALESCE(e * e{k}, 0.0)", key="d") + f" AS s{k}" for k in range(1, 8))}
      FROM lagged
    )
    SELECT nn.n AS n_days,
           {", ".join(f"CASE WHEN nn.n > {k} THEN s{k} / NULLIF(s0, 0) END AS rho{k}" for k in range(1, 8))},
           CAST(nn.n AS DOUBLE) * (nn.n + 2) * (
             {" + ".join(f"(CASE WHEN nn.n > {k} THEN s{k} / NULLIF(s0, 0) END) * (CASE WHEN nn.n > {k} THEN s{k} / NULLIF(s0, 0) END) / NULLIF(CAST(nn.n - {k} AS DOUBLE), 0)" for k in range(1, 8))}
           ) AS q_lb
    FROM sums CROSS JOIN nn
    """,
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test over lags 1..7 of the daily
    event-count series: ρ̂_k = Σ e_t e_{{t−k}} / Σ e_t² on mean-centered
    counts, Q = n(n+2) Σ_k ρ̂_k²/(n−k) — "is there ANY serial
    correlation within the week" in one χ²₇-referenced number. The
    screen run before events_holt_linear_forecast (whose residuals
    assume it passes) or any i.i.d.-assuming sampler. Lags are over
    the OBSERVED day sequence (calendar order; absent days compress,
    the standard treatment of an event-derived series).

    Determinism: the mean is exact-integer total/n (one division);
    deviations are doubles identical in both engines; the lag-product
    sums follow the ORDERED-FOLD convention over the calendar key
    (corpus-scaled squared deviations cross the floor()→LONG
    saturation bound — module note; NULL lag products COALESCE to 0.0
    so both engines fold identical lists); ρ and Q are fixed IEEE
    expression trees with the 7-term sum WRITTEN OUT left-to-right,
    and ρ_k is explicitly NULL for n ≤ k (the guarded CASE, matching
    the empty-lag-sum semantics the fold would otherwise flatten).

    Degenerate legal inputs → NULL (division-audit rule): a constant
    series (Σe² = 0 — every ρ undefined), n ≤ 7 (the lag-7 product
    sum is empty → NULL ρ₇ → NULL Q; and n−k guards), n = 0. Q is
    defined for n ≥ 8 — on shorter calendars the NULL is the answer.

    Scale: one map-side daily rollup; ONE window pass over the
    calendar domain emits all 7 lag columns; one 8-aggregate reduce.
    Nothing row-scale after the first groupBy."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.expr(f"ts_us div {DAY_US}").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
    )
    dev = daily.crossJoin(F.broadcast(nn)).select(
        "d",
        "n",
        (
            F.col("c").cast("double")
            - F.try_divide(
                F.col("tot").cast("double"), F.col("n").cast("double")
            )
        ).alias("e"),
    )
    wd = W.orderBy("d")
    lagged = dev.select(
        "n",
        "d",
        "e",
        *[F.lag("e", k).over(wd).alias(f"e{k}") for k in range(1, _LB_LAGS + 1)],
    )
    sums = lagged.groupBy("n").agg(
        _ofold(F.col("e") * F.col("e"), F.col("d")).alias("s0"),
        *[
            _ofold(
                F.coalesce(F.col("e") * F.col(f"e{k}"), F.lit(0.0)),
                F.col("d"),
            ).alias(f"s{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    n_d = F.col("n").cast("double")
    rhos = [
        F.when(
            F.col("n") > k, F.try_divide(F.col(f"s{k}"), F.col("s0"))
        )
        for k in range(1, _LB_LAGS + 1)
    ]
    q_terms = [
        F.try_divide(rhos[k - 1] * rhos[k - 1], (F.col("n") - k).cast("double"))
        for k in range(1, _LB_LAGS + 1)
    ]
    q_sum = q_terms[0]
    for t in q_terms[1:]:
        q_sum = q_sum + t
    return sums.select(
        F.col("n").alias("n_days"),
        *[rhos[k - 1].alias(f"rho{k}") for k in range(1, _LB_LAGS + 1)],
        (n_d * (F.col("n") + 2) * q_sum).alias("q_lb"),
    )


# --- Durbin–Watson residual diagnostic ----------------------------------------


@query(
    "orders_durbin_watson",
    oracle=f"""
    WITH {DAILY_REV_SQL},
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(CAST(d AS HUGEINT) * d) AS VARCHAR)::DOUBLE AS sd2,
             {_OFOLD_SQL.format(term="y", key="d")} AS sy,
             {_OFOLD_SQL.format(term="d * y", key="d")} AS sdy
      FROM daily
    ),
    fit AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sdy - CAST(sd AS DOUBLE) * sy)
               / NULLIF(CAST(n AS DOUBLE) * sd2
                        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE), 0)
               AS beta,
             sy / NULLIF(CAST(n AS DOUBLE), 0)
               - ((CAST(n AS DOUBLE) * sdy - CAST(sd AS DOUBLE) * sy)
                  / NULLIF(CAST(n AS DOUBLE) * sd2
                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE), 0))
                 * (CAST(sd AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0))
               AS alpha
      FROM sums
    ),
    resid AS (
      SELECT fit.n, fit.beta, daily.d,
             daily.y - (fit.alpha + fit.beta * daily.d) AS e,
             LAG(daily.y - (fit.alpha + fit.beta * daily.d))
               OVER (ORDER BY daily.d) AS ep
      FROM daily CROSS JOIN fit
    )
    SELECT n AS n_days, beta AS slope_per_day,
           {_OFOLD_SQL.format(term="COALESCE((e - ep) * (e - ep), 0.0)", key="d")}
             / NULLIF({_OFOLD_SQL.format(term="e * e", key="d")}, 0) AS dw_stat
    FROM resid GROUP BY n, beta
    """,
)
def orders_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic on the residuals of the exact OLS
    day-trend of daily revenue: d = Σ(e_t − e_{{t−1}})²/Σe_t² ∈ [0,4],
    2 = independent, → 0 = positive serial correlation (the common
    case that silently shrinks OLS standard errors), → 4 = negative.
    The companion diagnostic to q64_groupwise_ols: whether a trend
    fit's error bars may be believed at all.

    Determinism: the OLS normal equations use exact integer sums for
    Σd, Σd² (HUGEINT-wide) and the ORDERED-FOLD convention over the
    calendar key for Σy and Σdy (corpus-scaled computed doubles —
    module note; d·y crosses the floor()→LONG saturation bound long
    before 100 TB); β and α are fixed IEEE expression trees over
    those scalars; residuals are then identical doubles in both
    engines, and the two residual sums fold the same way ((e−ep)²
    exceeded 2⁶³·10⁻⁶ already at sf0.01 — the bug that FOUND the
    saturation edge). Lag-1 runs over the calendar-ordered day
    domain.

    Degenerate legal inputs → NULL (division-audit rule): a single-day
    series (zero slope-denominator n·Σd² − (Σd)²), a perfect linear
    fit (Σe² = 0 — DW undefined; e.g. n ≤ 2). try_divide + NULLIF.

    Scale: one map-side daily rollup, one 5-aggregate reduce for the
    fit, one lag window + 2-aggregate reduce over the calendar
    domain."""
    daily = daily_rev(spark, sf_dir)
    sums = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("double")
        .alias("sd2"),
        _ofold(F.col("y"), F.col("d")).alias("sy"),
        _ofold(F.col("d") * F.col("y"), F.col("d")).alias("sdy"),
    )
    n_d = F.col("n").cast("double")
    sd_d = F.col("sd").cast("double")
    beta = F.try_divide(
        n_d * F.col("sdy") - sd_d * F.col("sy"),
        n_d * F.col("sd2") - sd_d * sd_d,
    )
    alpha = F.try_divide(F.col("sy"), n_d) - beta * F.try_divide(sd_d, n_d)
    fit = sums.select(
        "n", beta.alias("beta"), alpha.alias("alpha")
    )
    e = F.col("y") - (F.col("alpha") + F.col("beta") * F.col("d"))
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "n",
        "beta",
        "d",
        e.alias("e"),
        F.lag(e).over(W.orderBy("d")).alias("ep"),
    )
    return resid.groupBy("n", "beta").agg(
        F.try_divide(
            _ofold(
                F.coalesce(
                    (F.col("e") - F.col("ep"))
                    * (F.col("e") - F.col("ep")),
                    F.lit(0.0),
                ),
                F.col("d"),
            ),
            _ofold(F.col("e") * F.col("e"), F.col("d")),
        ).alias("dw_stat")
    ).select(
        F.col("n").alias("n_days"),
        F.col("beta").alias("slope_per_day"),
        "dw_stat",
    )
