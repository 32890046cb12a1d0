"""Round-6 pipeline operators, batch 3: one-way ANOVA over the
day-of-week revenue effect, a Benford first-digit fraud audit, and
lagged autocorrelation of the daily revenue series.

Not in the reference (SURVEY.md §2.1 — no stats surface); extends the
events-analytics and data-quality families with the three classical
screens an analytics warehouse runs on monetary series: does a factor
matter (ANOVA), are the amounts organic (Benford), is the series
memoryful (autocorrelation).

Determinism: day indexes and counts are exact integers; linear sums
flow DSUM (order-independent DECIMAL(38,10) sums) and PRODUCT sums
flow the tie-free floor-scaled variant _fsum (both hazards below were
caught by the oracle gate, not guessed); Benford's expected
probabilities are hard-coded exponent-notation double literals — no
log10 at query time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DSUM_SQL, dsum, fsum, query
from ..tables import load

# Daily revenue series CTE (shared shape with the anomaly/forecast
# family): exact per-day decimal sums of event value over observed days.
_DAILY_SQL = f"""
    daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             {DSUM_SQL.format(expr="value")} AS y
      FROM events GROUP BY 1
    )"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day")
        )
        .agg(dsum(F.col("value")).alias("y"))
    )


# Tie-free sum of a product term: FLOOR(x*1e6) has no rounding ties
# (unlike CAST(x AS DECIMAL(38,10)), where a product landing exactly
# on a half-ulp rounds HALF_UP in Spark but differently in DuckDB —
# caught by the oracle gate on this very query), and the DECIMAL(38,0)
# sum of the floors is exact at any row count. Same convention as
# vector_stats' floor-scaled BIGINT sums, widened to decimal. The Spark
# side is registry.fsum; this SQL is registry.FSUM_SQL without its outer
# parentheses, the spelling these oracles (and pipeline9's) were written
# with.
_FSCALE = "1000000.0"
FSUM_BARE_SQL = (
    "CAST(CAST(SUM(CAST(FLOOR(({expr}) * " + _FSCALE + ") "
    "AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / " + _FSCALE
)


@query(
    "events_anova_dow",
    oracle=f"""
    WITH {_DAILY_SQL},
    g AS (
      SELECT day % 7 AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             {DSUM_SQL.format(expr="y")} AS s_g,
             {FSUM_BARE_SQL.format(expr="y * y")} AS ss_g
      FROM daily GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             {DSUM_SQL.format(expr="s_g")} AS s,
             {DSUM_SQL.format(expr="ss_g")} AS ss,
             {FSUM_BARE_SQL.format(expr="(s_g / n_g) * s_g")} AS sb_raw
      FROM g
    )
    SELECT n AS n_days, k AS k_groups,
           sb_raw - s * (s / n) AS ss_between,
           ss - sb_raw AS ss_within,
           ((sb_raw - s * (s / n)) / (k - 1))
             / ((ss - sb_raw) / (n - k)) AS f_stat
    FROM tot
    """,
)
def events_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily revenue across day-of-week groups: F =
    (SS_between/(k-1)) / (SS_within/(N-k)) over the observed-day
    series — the screen for "does weekday structurally move revenue"
    that decides whether downstream models need the dow feature and
    whether A/B windows must block on week boundaries. Day-of-week is
    epoch-day mod 7 (pure integer — engine dayofweek() conventions
    disagree, so neither is used). SS identities: SS_between =
    Σ n_g·mean_g² − N·mean², SS_within = Σy² − Σ n_g·mean_g², both
    computed from three DSUM moments per group.

    Scale: one day-grain shuffle (map-side combined into |days| rows),
    a 7-row group aggregate, a single-row moment rollup — nothing
    beyond the daily aggregate touches data scale. Every double is
    DSUM-then-IEEE; bit-identical cross-engine."""
    daily = _daily(spark, sf_dir)
    g = daily.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        dsum(F.col("y")).alias("s_g"),
        fsum(F.col("y") * F.col("y")).alias("ss_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        dsum(F.col("s_g")).alias("s"),
        dsum(F.col("ss_g")).alias("ss"),
        fsum((F.col("s_g") / F.col("n_g")) * F.col("s_g")).alias(
            "sb_raw"
        ),
    )
    n, k, s_, ss, sb = (
        F.col("n"),
        F.col("k"),
        F.col("s"),
        F.col("ss"),
        F.col("sb_raw"),
    )
    ssb = sb - s_ * (s_ / n)
    ssw = ss - sb
    # try_divide (r13 division audit): a single-dow corpus (k = 1), a
    # one-day-per-dow corpus (n = k), or zero within-group variance
    # (ssw = 0 — every dow's days identical) are all legal and zero a
    # denominator; F is undefined there => NULL, matching DuckDB's
    # native double division-by-zero NULL.
    return tot.select(
        n.alias("n_days"),
        k.alias("k_groups"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.try_divide(
            F.try_divide(ssb, k - 1), F.try_divide(ssw, n - k)
        ).alias("f_stat"),
    )


# Benford's law first-digit probabilities log10(1 + 1/d), hard-coded as
# literals so no engine evaluates a logarithm (identical tokens parse
# to identical doubles in Spark and DuckDB).
_BENFORD_P = [
    ("1", "0.3010299956639812"),
    ("2", "0.17609125905568124"),
    ("3", "0.12493873660829993"),
    ("4", "0.09691001300805642"),
    ("5", "0.07918124604762482"),
    ("6", "0.06694678963061322"),
    ("7", "0.05799194697768673"),
    ("8", "0.05115252244738129"),
    ("9", "0.045757490560675115"),
]

# First significant digit of a positive double via a magnitude CASE
# ladder (o_totalprice is < 1e7 at any SF here; the ladder states its
# domain and the query asserts it by construction below).
_FSD_SQL = """CAST(FLOOR(CASE
      WHEN {x} >= 1000000 THEN {x} / 1000000
      WHEN {x} >= 100000 THEN {x} / 100000
      WHEN {x} >= 10000 THEN {x} / 10000
      WHEN {x} >= 1000 THEN {x} / 1000
      WHEN {x} >= 100 THEN {x} / 100
      WHEN {x} >= 10 THEN {x} / 10
      ELSE {x} END) AS BIGINT)"""

# Exponent-notation literals: DuckDB types a plain decimal literal as
# DECIMAL(17,17) and its DECIMAL→DOUBLE cast is not correctly rounded
# (the registry DSUM_SQL VARCHAR-trick hazard — caught here by the
# oracle gate, digits 3 and 7 drifting one binary ulp). A literal with
# an exponent ('1.23e-1') is typed DOUBLE directly, bit-identical to
# Spark's float literal.
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {float(p):.17e}" for d, p in _BENFORD_P
)


@query(
    "dq_benford_test",
    oracle=f"""
    WITH digits AS (
      SELECT {_FSD_SQL.format(x="o_totalprice")} AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / n AS obs_frac,
           CASE digit {_BENFORD_CASE} END AS benford_p,
           (CAST(n_obs AS DOUBLE) / n - CASE digit {_BENFORD_CASE} END)
             * (CAST(n_obs AS DOUBLE) / n - CASE digit {_BENFORD_CASE} END)
             / (CASE digit {_BENFORD_CASE} END) AS chi2_term
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
)
def dq_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: organic monetary
    amounts follow P(d) = log10(1 + 1/d); fabricated or capped values
    don't — the classic forensic-accounting screen, run here as a DQ
    gate with per-digit chi-square distance terms. (TPC-H-style
    uniform prices will flunk it loudly — which is the point: the
    audit MEASURES the deviation rather than assuming it.) The first
    digit comes from a magnitude CASE ladder (double divisions by
    exact powers of ten), not log10, so both engines compute identical
    IEEE ops; the Benford expectations are hard-coded literals.

    Scale: one map-side digit projection + a 9-key combine-aggregated
    groupBy + a broadcast singleton total. Output is 9 rows at any
    corpus size."""
    orders = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    digit = (
        F.floor(
            F.when(x >= 1000000, x / 1000000)
            .when(x >= 100000, x / 100000)
            .when(x >= 10000, x / 10000)
            .when(x >= 1000, x / 1000)
            .when(x >= 100, x / 100)
            .when(x >= 10, x / 10)
            .otherwise(x)
        )
        .cast("long")
        .alias("digit")
    )
    obs = (
        orders.filter(x >= 1)
        .select(digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    bp = F.col("digit")
    benford = F.when(bp == 1, float(_BENFORD_P[0][1]))
    for d, p in _BENFORD_P[1:]:
        benford = benford.when(bp == int(d), float(p))
    obs_frac = F.col("n_obs").cast("double") / F.col("n")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            obs_frac.alias("obs_frac"),
            benford.alias("benford_p"),
            (
                (obs_frac - benford) * (obs_frac - benford) / benford
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_ACF_LAGS = [1, 2, 3]


@query(
    "events_order_autocorr",
    oracle=f"""
    WITH {_DAILY_SQL},
    mu AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {DSUM_SQL.format(expr="y")} AS s
      FROM daily
    ),
    lagged AS (
      SELECT day, y,
             lag(y, 1) OVER (ORDER BY day) AS y1,
             lag(y, 2) OVER (ORDER BY day) AS y2,
             lag(y, 3) OVER (ORDER BY day) AS y3
      FROM daily
    ),
    den AS (
      SELECT {FSUM_BARE_SQL.format(expr="(y - s / n) * (y - s / n)")} AS d0
      FROM daily CROSS JOIN mu
    ),
    num AS (
      SELECT lg.lag,
             CAST(COUNT(CASE lg.lag WHEN 1 THEN y1 WHEN 2 THEN y2
                        ELSE y3 END) AS BIGINT) AS n_pairs,
             {FSUM_BARE_SQL.format(
                 expr="CASE WHEN (CASE lg.lag WHEN 1 THEN y1 WHEN 2 "
                 "THEN y2 ELSE y3 END) IS NULL THEN 0.0 ELSE "
                 "(y - s / n) * ((CASE lg.lag WHEN 1 THEN y1 WHEN 2 "
                 "THEN y2 ELSE y3 END) - s / n) END"
             )} AS num_l
      FROM lagged CROSS JOIN mu
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _ACF_LAGS))}])
                  AS lag) lg
      GROUP BY lg.lag
    )
    SELECT CAST(num.lag AS BIGINT) AS lag, n_pairs,
           num_l / d0 AS autocorr
    FROM num CROSS JOIN den ORDER BY lag
    """,
)
def events_order_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the daily revenue series (the
    standard ACF normalization: lagged cross-moments about the global
    mean over the full-series variance) — the memory screen that
    decides whether the forecast family's seasonal-naive baseline is
    even plausible and how wide an A/B washout window must be.

    Scale: the only data-scale work is the day-grain aggregate; the
    lag window runs over the BOUNDED observed-day frame (the
    events_forecast_backtest / day-grain convention — |days| rows in
    one partition by design), and the moment rollups are 3-row
    aggregates. DSUM everywhere a double is summed; the lag columns
    replicate 3x against a broadcast lag frame, not three window
    passes."""
    daily = _daily(spark, sf_dir)
    mu = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("y")).alias("s"),
    )
    wd = W.orderBy("day")
    lagged = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(wd).alias("y1"),
        F.lag("y", 2).over(wd).alias("y2"),
        F.lag("y", 3).over(wd).alias("y3"),
    )
    mean = F.col("s") / F.col("n")
    den = daily.crossJoin(F.broadcast(mu)).agg(
        fsum((F.col("y") - mean) * (F.col("y") - mean)).alias("d0")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _ACF_LAGS])).alias("lag")
    )
    ylag = (
        F.when(F.col("lag") == 1, F.col("y1"))
        .when(F.col("lag") == 2, F.col("y2"))
        .otherwise(F.col("y3"))
    )
    num = (
        lagged.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(lags))
        .groupBy("lag")
        .agg(
            F.count(ylag).cast("long").alias("n_pairs"),
            fsum(
                F.when(ylag.isNull(), 0.0).otherwise(
                    (F.col("y") - mean) * (ylag - mean)
                )
            ).alias("num_l"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            (F.col("num_l") / F.col("d0")).alias("autocorr"),
        )
        .orderBy("lag")
    )


# --- training-mix token budget allocation ------------------------------------

_MIX_BUDGET = 1_000_000  # target token budget for the mix manifest


@query(
    "mix_token_budget_allocator",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) AS wgt
      FROM src
    ),
    tot AS (
      SELECT {DSUM_SQL.format(expr="wgt")} AS wsum FROM w
    ),
    quota AS (
      SELECT source, n_docs, n_tokens, wgt,
             CAST({_MIX_BUDGET} AS DOUBLE) * (wgt / wsum) AS exact_quota,
             CAST(FLOOR(CAST({_MIX_BUDGET} AS DOUBLE) * (wgt / wsum))
                  AS BIGINT) AS floor_quota
      FROM w CROSS JOIN tot
    ),
    short AS (
      SELECT CAST({_MIX_BUDGET} - SUM(floor_quota) AS BIGINT) AS shortfall
      FROM quota
    ),
    ranked AS (
      SELECT q.*, s.shortfall,
             CAST(row_number() OVER (
               ORDER BY q.exact_quota - q.floor_quota DESC, q.source
             ) AS BIGINT) AS rem_rank
      FROM quota q CROSS JOIN short s
    )
    SELECT source, n_docs, n_tokens,
           wgt / (SELECT wsum FROM tot) AS weight,
           floor_quota + CASE WHEN rem_rank <= shortfall THEN 1 ELSE 0 END
             AS alloc_tokens,
           CAST(floor_quota + CASE WHEN rem_rank <= shortfall
                THEN 1 ELSE 0 END AS DOUBLE) / n_tokens
             AS oversample_factor
    FROM ranked ORDER BY source
    """,
)
def mix_token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix token budget allocation: given per-source token
    inventories and a fixed budget, allocate integer token quotas
    proportional to temperature-weighted shares (alpha = 0.5, the
    sample_temperature_mix recipe) using the LARGEST-REMAINDER method
    so the quotas sum to the budget EXACTLY — the arithmetic that
    turns a mixing recipe into a training manifest (fractional quotas
    rounded naively under- or over-shoot the budget; largest-remainder
    is the standard apportionment fix). oversample_factor > 1 flags
    sources whose quota exceeds their inventory (epoch repetition).

    Determinism: token counts are exact BIGINTs; sqrt is correctly
    rounded; the weight normalizer is a DSUM; quotas/floors/remainder
    ranks are exact integer arithmetic on identical doubles with a
    source tiebreak.

    Scale: one map-side token-count scan + a source-key combine
    aggregate; the apportionment window runs over |sources| rows —
    metadata scale at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = src.withColumn("wgt", F.sqrt(F.col("n_tokens").cast("double")))
    tot = w.agg(dsum(F.col("wgt")).alias("wsum"))
    budget = F.lit(float(_MIX_BUDGET))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "wgt",
        "wsum",
        (budget * (F.col("wgt") / F.col("wsum"))).alias("exact_quota"),
        F.floor(budget * (F.col("wgt") / F.col("wsum")))
        .cast("long")
        .alias("floor_quota"),
    )
    short = quota.agg(
        (F.lit(_MIX_BUDGET) - F.sum("floor_quota"))
        .cast("long")
        .alias("shortfall")
    )
    ranked = quota.crossJoin(F.broadcast(short)).select(
        "*",
        F.row_number()
        .over(
            W.orderBy(
                F.desc(F.col("exact_quota") - F.col("floor_quota")),
                "source",
            )
        )
        .cast("long")
        .alias("rem_rank"),
    )
    alloc = F.col("floor_quota") + F.when(
        F.col("rem_rank") <= F.col("shortfall"), 1
    ).otherwise(0)
    return ranked.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("wgt") / F.col("wsum")).alias("weight"),
        alloc.cast("long").alias("alloc_tokens"),
        (alloc.cast("double") / F.col("n_tokens")).alias(
            "oversample_factor"
        ),
    ).orderBy("source")


# --- A/B power / minimum detectable effect -----------------------------------

# z quantiles as exponent-notation double literals (the Benford lesson:
# DuckDB types plain decimal literals as DECIMAL and its DECIMAL→DOUBLE
# cast is not correctly rounded).
_Z_ALPHA2 = "1.9599639845400545e0"  # two-sided 5%
_Z_BETA = "8.4162123357291419e-1"  # 80% power


@query(
    "events_ab_power",
    oracle=f"""
    WITH conv AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                       > COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_b,
        CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
             AS BIGINT) AS c_a,
        CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
             AS BIGINT) AS c_b
      FROM conv
    )
    SELECT n_a, n_b,
      CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pooled_rate,
      CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a
        AS observed_delta,
      ({_Z_ALPHA2} + {_Z_BETA})
        * sqrt(2.0 * (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
               / (CASE WHEN n_a < n_b THEN n_a ELSE n_b END))
        AS mde_at_current_n,
      CASE WHEN c_b * n_a = c_a * n_b THEN NULL
        ELSE CAST(CEIL(
          2.0 * (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
            * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
            * (({_Z_ALPHA2} + {_Z_BETA})
               / (CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a))
            * (({_Z_ALPHA2} + {_Z_BETA})
               / (CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a))
        ) AS BIGINT) END AS required_n_per_arm
    FROM s
    """,
)
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power planning readout over the shared experiment frame
    (user-parity arms, purchase>click conversion): the minimum
    detectable effect at the CURRENT sample (alpha = 5% two-sided,
    80% power — z quantiles as exact literals) and the required
    per-arm n to power the OBSERVED delta — the two numbers an
    experimentation platform prints next to every lift estimate so
    readers know whether "not significant" means "no effect" or
    "underpowered". NULL required_n when the observed delta is exactly
    zero (the cross-multiplied integer test c_b*n_a = c_a*n_b avoids
    comparing doubles to 0).

    Scale: one user-keyed conversion shuffle (shared shape with
    events_abtest_lift) into a single-row conditional aggregate;
    everything after is constant arithmetic. sqrt/ceil are correctly
    rounded on identical IEEE inputs — bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events")
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
        .select(
            F.when(F.col("user_id") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "converted",
        )
    )
    s = conv.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("variant") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    z = F.lit(1.9599639845400545) + F.lit(0.84162123357291419)
    n_a, n_b, c_a, c_b = (F.col(c) for c in ("n_a", "n_b", "c_a", "c_b"))
    pooled = (c_a + c_b).cast("double") / (n_a + n_b)
    delta = c_b.cast("double") / n_b - c_a.cast("double") / n_a
    n_min = F.when(n_a < n_b, n_a).otherwise(n_b)
    mde = z * F.sqrt(
        F.lit(2.0) * pooled * (F.lit(1.0) - pooled) / n_min
    )
    req = F.when(c_b * n_a == c_a * n_b, F.lit(None).cast("long")).otherwise(
        F.ceil(
            F.lit(2.0)
            * pooled
            * (F.lit(1.0) - pooled)
            * (z / delta)
            * (z / delta)
        ).cast("long")
    )
    return s.select(
        "n_a",
        "n_b",
        pooled.alias("pooled_rate"),
        delta.alias("observed_delta"),
        mde.alias("mde_at_current_n"),
        req.alias("required_n_per_arm"),
    )
