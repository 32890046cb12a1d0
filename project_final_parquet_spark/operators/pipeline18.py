"""Round-13 widening batch: trend/randomness testing, robust shape,
count-model diagnostics, index-number economics, embedding-geometry
auditing, and the GROUP BY ALL SQL surface — the monitors a 100 TB
curation pipeline runs between the round-12 nonparametric tier and its
samplers:

- ``orders_mann_kendall_trend`` — the Mann–Kendall trend TEST on daily
  revenue (S over day pairs, tie-corrected variance, continuity-
  corrected z): the hypothesis-test companion to
  ``orders_theil_sen_trend``'s slope ESTIMATE — same calendar-bounded
  pair universe, so the pair scan is invariant in corpus size.
- ``orders_runs_test_median`` — the Wald–Wolfowitz runs test of the
  daily-revenue sequence around its exact median: the distribution-free
  "is this series random or regime-switching" check that CUSUM
  (events_changepoint_cusum) assumes an answer to.
- ``events_bowley_skewness`` — quantile (Bowley) skewness per event
  type from exact Q1/Q2/Q3, selected by the dq_tukey_outlier_fences
  TWO-PHASE bin machinery (bin-domain cum locates the three quartile
  bins; only those bins' rows sort) — the robust-shape complement to
  moment skewness, immune to the heavy tails that make moments lie.
- ``events_poisson_dispersion`` — variance-to-mean dispersion index +
  χ² of daily per-type counts vs the Poisson hypothesis: the
  overdispersion screen that decides whether count models (alerting
  thresholds, sampling designs) may assume Poisson or need a
  negative-binomial.
- ``orders_paasche_fisher_index`` — Paasche (current-basket) and
  Fisher (geometric-mean) price indices per 30-day period over the
  same matched basket as ``orders_laspeyres_price_index``; L vs P
  divergence IS the substitution bias, and Fisher = √(L·P) is the
  superlative index splitting it.
- ``embeddings_covariance_audit`` — the top-10 |correlation| dimension
  pairs of the embedding matrix from a SINGLE mapInPandas pass that
  emits constant-size integer Gram partials (64 + 2080 cells per
  batch, never a vector shuffle) — the whitening-readiness /
  dimension-collapse audit run before ANN index builds.
- ``q77_group_by_all`` — the GROUP BY ALL / ORDER BY ALL SQL surface
  (submitted as SQL text), pinning that the resolver expands ALL to
  the non-aggregate select list identically in both engines.

None of these exist in the reference (no statistics/SQL surface —
SURVEY.md §2.1; its one query capability is selective decryption,
src/parquet_reader.cpp:92-101); they extend the §2.3 tier.

Determinism conventions as everywhere (registry.py module note), plus
this round's division-audit rule: every z/ratio whose denominator can
zero on DEGENERATE legal input ships with F.try_divide and a NULLIF
oracle twin FROM DAY ONE (never a bare division to harden later).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..ckpt import checkpoint
from ..registry import (
    DAY_US,
    DSUM_SQL,
    EPOCH_US_SQL,
    FSUM_SQL,
    dsum,
    fsum,
    query,
)
from ..tables import load

_PERIOD_US = 30 * DAY_US  # Laspeyres-family 30-day periods


_DAILY_REV_SQL = f"""daily AS (
      SELECT epoch_us(o_orderdate) // {DAY_US} AS d,
             {DSUM_SQL.format(expr="o_totalprice")} AS y
      FROM orders GROUP BY 1
    )"""


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order revenue — the shared calendar-bounded series the
    trend/randomness tests run on (orders_theil_sen_trend's frame)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.expr(
            f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
        ).alias("d")
    ).agg(dsum(F.col("o_totalprice")).alias("y"))


# --- Mann–Kendall trend test ---------------------------------------------------


@query(
    "orders_mann_kendall_trend",
    oracle=f"""
    WITH {_DAILY_REV_SQL},
    pairs AS (
      SELECT COALESCE(CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                    WHEN b.y < a.y THEN -1
                                    ELSE 0 END) AS BIGINT), 0) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ties AS (
      SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y) g
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
    SELECT nn.n AS n_days, p.s AS s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie_term AS DOUBLE)
             / 18.0 AS var_s,
           CASE WHEN p.s = 0 THEN 0.0
                WHEN p.s > 0 THEN CAST(p.s - 1 AS DOUBLE)
                  / NULLIF(sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                     - t.tie_term AS DOUBLE) / 18.0), 0)
                ELSE CAST(p.s + 1 AS DOUBLE)
                  / NULLIF(sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                     - t.tie_term AS DOUBLE) / 18.0), 0)
           END AS z_mk
    FROM pairs p CROSS JOIN ties t CROSS JOIN nn
    """,
)
def orders_mann_kendall_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann–Kendall trend test on daily order revenue: S = Σ_{{i<j}}
    sign(y_j − y_i) over day pairs, Var(S) = (n(n−1)(2n+5) −
    Σt(t−1)(2t+5))/18 with the tie correction over equal-revenue days,
    and the continuity-corrected z = (S∓1)/√Var(S) — the
    distribution-free "is there ANY monotone trend" test whose slope
    companion is orders_theil_sen_trend (same pair universe: τ-family
    statistics, Kendall 1945). A pipeline alerts on z and sizes the
    drift on the Sen slope.

    Determinism: y via decimal sums; sign comparisons of identical
    doubles; S and the variance terms are exact BIGINT (n ≤ days, so
    n³ ≪ 2⁶³); z is one subtraction and one try_divide over an IEEE
    sqrt. Degenerate legal inputs (single day, all-tied revenues)
    give S = 0 → z = 0.0 by the stated convention; a zero variance
    with S ≠ 0 cannot occur (all-tied ⇒ S = 0) but the division is
    try_divide + NULLIF anyway (division-audit rule).

    Scale: the pair scan is days² — CALENDAR-bounded, invariant in
    corpus size (the theil_sen precedent: row-proportional work is
    only the first map-side daily rollup); the broadcast self-join
    never touches row-scale data."""
    daily = _daily_rev(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.d") > F.col("a.d")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("s")
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_term")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n = F.col("n")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_term")
    ).cast("double") / 18.0
    s = F.col("s")
    z = (
        F.when(s == 0, F.lit(0.0))
        .when(s > 0, F.try_divide((s - 1).cast("double"), F.sqrt(var_s)))
        .otherwise(F.try_divide((s + 1).cast("double"), F.sqrt(var_s)))
    )
    return (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            n.alias("n_days"),
            s.alias("s_stat"),
            var_s.alias("var_s"),
            z.alias("z_mk"),
        )
    )


# --- Wald–Wolfowitz runs test ---------------------------------------------------


@query(
    "orders_runs_test_median",
    oracle=f"""
    WITH {_DAILY_REV_SQL},
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    med AS (
      SELECT y AS m FROM (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, d) AS rn FROM daily
      ) r CROSS JOIN nn WHERE r.rn = (nn.n + 1) // 2
    ),
    signs AS (
      SELECT d, CASE WHEN y > med.m THEN 1 ELSE 0 END AS sgn
      FROM daily CROSS JOIN med WHERE y <> med.m
    ),
    runs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(sgn) AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) - CAST(SUM(sgn) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN prev IS NULL OR prev <> sgn
                           THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM (SELECT sgn, LAG(sgn) OVER (ORDER BY d) AS prev FROM signs)
    )
    SELECT m AS n_classified, n1 AS n_above, n2 AS n_below, r AS n_runs,
           CAST(2 * n1 * n2 AS DOUBLE) / m + 1.0 AS expected_runs,
           (CAST(r AS DOUBLE) - (CAST(2 * n1 * n2 AS DOUBLE) / m + 1.0))
             / NULLIF(sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                           * CAST(2 * n1 * n2 - m AS DOUBLE)
                           / NULLIF(CAST(m AS DOUBLE) * m * (m - 1), 0)),
                      0) AS z_runs
    FROM runs
    """,
)
def orders_runs_test_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald–Wolfowitz runs test of the daily-revenue sequence around
    its exact median (lower median, rank ⌈n/2⌉ under the (y, d) total
    order; days equal to the median drop per the standard procedure):
    too FEW runs = regime persistence (weekly cycles, level shifts —
    what events_changepoint_cusum then locates), too MANY = negative
    autocorrelation (over-correction). R is the count of run starts
    (lag ≠ current); z = (R − (2n₁n₂/m + 1))/σ_R with σ_R² =
    2n₁n₂(2n₁n₂−m)/(m²(m−1)).

    Determinism: exact-rank median (a DATA value, no interpolation);
    integer run/above/below counts; z is a fixed IEEE sequence with
    try_divide at both the σ² (m ≤ 1) and z (n₁n₂ = 0 — every day on
    one side) zeros, NULLIF twins in the oracle (division-audit rule).

    Scale: the daily frame is calendar-bounded, so the rank window and
    the lag window both run over ≤ |days| rows — the MWU "domain sort"
    price, never a row-scale sort; row-proportional work is only the
    first map-side rollup."""
    daily = _daily_rev(spark, sf_dir)
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = daily.select(
        "y", F.row_number().over(W.orderBy("y", "d")).alias("rn")
    )
    med = (
        ranked.crossJoin(F.broadcast(nn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("y").alias("m"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select(
            "d",
            F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("sgn"),
        )
    )
    lagged = signs.select(
        "sgn", F.lag("sgn").over(W.orderBy("d")).alias("prev")
    )
    runs = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("sgn").cast("long").alias("n1"),
        (F.count(F.lit(1)).cast("long") - F.sum("sgn").cast("long")).alias(
            "n2"
        ),
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("sgn")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("r"),
    )
    m, n1, n2, r = (F.col(c) for c in ("m", "n1", "n2", "r"))
    expected = (2 * n1 * n2).cast("double") / m + 1.0
    sigma = F.sqrt(
        F.try_divide(
            (2 * n1 * n2).cast("double") * (2 * n1 * n2 - m).cast("double"),
            m.cast("double") * m * (m - 1),
        )
    )
    z = F.try_divide(r.cast("double") - expected, sigma)
    return runs.select(
        m.alias("n_classified"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        expected.alias("expected_runs"),
        z.alias("z_runs"),
    )


# --- Bowley quantile skewness (two-phase selection) ----------------------------


@query(
    "events_bowley_skewness",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    q AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MAX(CASE WHEN rn = (n + 3) // 4 THEN value END) AS q1,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS q2,
             MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS q3
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n, q1, q2 AS median, q3,
           (q1 + q3 - 2 * q2) / NULLIF(q3 - q1, 0) AS bowley_skew
    FROM q ORDER BY event_type
    """,
)
def events_bowley_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quantile) skewness per event type: (Q1 + Q3 − 2·Q2)/
    (Q3 − Q1) from the EXACT order statistics at ranks ⌈n/4⌉, ⌈n/2⌉,
    ⌈3n/4⌉ — the robust-shape complement to moment skewness
    (q59_stat_moments' family), bounded in [−1, 1] and immune to the
    heavy tails that let one outlier own the third moment. Positive =
    right tail stretches the upper quartile.

    The Spark side selects all three quantiles by the
    dq_tukey_outlier_fences TWO-PHASE machinery: phase 1 buckets
    values into unit-width bins and locates each quantile's bin from
    the per-type bin-domain cumulative counts; phase 2 sorts ONLY the
    located bins' rows (per-type occupancy ≈ n/bins) and picks the
    (r − cum_before)-th value. The oracle computes the same order
    statistics the naive way (one row_number per type), so the gate
    certifies the selection exactly.

    Determinism: integer ranks and bins; quantiles are DATA values;
    the skewness is a fixed IEEE sequence with try_divide — a zero
    IQR (≥ half the type's mass on one value — legal under heavy
    ties) yields NULL, not an ANSI abort (division-audit rule).

    Scale: phase 1 is a map-side (type × value-domain) rollup with a
    bin-domain window; phase 2 sorts ≤ 3 bins' occupancy per type —
    never a per-type row sort (the oracle's naive rank is the skew
    trap the plan avoids)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    binned = ev.select(
        "event_type", F.floor(F.col("value")).cast("long").alias("bin")
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = W.partitionBy("event_type").orderBy("bin")
    cum = per_bin.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wb).alias("cumc"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )
    ranks = {
        "q1": F.expr("(n + 3) div 4"),
        "q2": F.expr("(n + 1) div 2"),
        "q3": F.expr("(3 * n + 3) div 4"),
    }
    qbins = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        *[
            F.min(F.when(F.col("cumc") >= r, F.col("bin"))).alias(f"b_{k}")
            for k, r in ranks.items()
        ],
    )
    before = cum.select(
        F.col("event_type").alias("bt"),
        F.col("bin").alias("bb"),
        (F.col("cumc") - F.col("cnt")).alias("cum_before"),
    )
    # phase 2: rows of the (≤ 3 per type) located bins, ranked in-bin
    need = (
        qbins.select("event_type", F.col("b_q1").alias("qb"))
        .unionAll(qbins.select("event_type", F.col("b_q2").alias("qb")))
        .unionAll(qbins.select("event_type", F.col("b_q3").alias("qb")))
        .distinct()
    )
    wv = W.partitionBy("event_type", "bin").orderBy("value", "event_id")
    bin_rows = (
        ev.withColumn("bin", F.floor(F.col("value")).cast("long"))
        .join(F.broadcast(need), ["event_type"])
        .filter(F.col("bin") == F.col("qb"))
        .select("event_type", "bin", "value", "event_id")
        .distinct()  # a bin needed by 2 quantiles joins once
        .withColumn("brn", F.row_number().over(wv))
        .join(
            F.broadcast(before),
            (F.col("event_type") == F.col("bt"))
            & (F.col("bin") == F.col("bb")),
        )
        .select(
            "event_type",
            "bin",
            "value",
            (F.col("brn") + F.col("cum_before")).alias("grn"),
        )
    )
    picked = qbins
    for k, r in ranks.items():
        qv = (
            bin_rows.join(
                F.broadcast(
                    qbins.select(
                        F.col("event_type").alias(f"t_{k}"),
                        F.col(f"b_{k}").alias(f"bk_{k}"),
                        r.alias(f"r_{k}"),
                    )
                ),
                (F.col("event_type") == F.col(f"t_{k}"))
                & (F.col("bin") == F.col(f"bk_{k}"))
                & (F.col("grn") == F.col(f"r_{k}")),
            )
            .select(
                F.col("event_type").alias(f"et_{k}"),
                F.col("value").alias(k),
            )
        )
        picked = picked.join(
            F.broadcast(qv), picked.event_type == F.col(f"et_{k}")
        ).drop(f"et_{k}")
    bowley = F.try_divide(
        F.col("q1") + F.col("q3") - 2 * F.col("q2"),
        F.col("q3") - F.col("q1"),
    )
    return picked.select(
        "event_type",
        "n",
        "q1",
        F.col("q2").alias("median"),
        "q3",
        bowley.alias("bowley_skew"),
    ).orderBy("event_type")


# --- Poisson dispersion (overdispersion screen) ---------------------------------


@query(
    "events_poisson_dispersion",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, epoch_us(ts) // {DAY_US} AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM cells GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(s AS DOUBLE) / n AS mean_daily,
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
             / NULLIF(CAST(n - 1 AS DOUBLE), 0)
             / (CAST(s AS DOUBLE) / n) AS dispersion_index,
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
             / (CAST(s AS DOUBLE) / n) AS chi2_stat
    FROM g ORDER BY event_type
    """,
)
def events_poisson_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson dispersion screen per event type over daily counts:
    the variance-to-mean ratio (dispersion index; 1 under Poisson)
    and the χ² dispersion statistic Σ(x−x̄)²/x̄ (≈ n−1 under Poisson)
    — the overdispersion test that decides whether count-based
    monitors (error-budget burn, alert thresholds, arrival samplers)
    may assume Poisson or need a negative-binomial. Computed in
    closed form from exact integer moments: Σ(x−x̄)²/x̄ =
    (ss − s²/n)/(s/n).

    Determinism: x, s, ss are exact BIGINTs (daily counts); every
    double op is a fixed IEEE sequence on identical operands. The
    observed-day mean s/n ≥ 1 (a cell exists only with ≥ 1 event),
    so the χ² denominator is structurally nonzero; the sample
    variance's (n−1) zeroes on a single-day type (legal) —
    try_divide + NULLIF ⇒ NULL dispersion (division-audit rule).

    Scale: one map-side (type × day) rollup into a calendar-bounded
    cell frame, one |types|-key aggregate — row-proportional work is
    only the first pass."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.expr(f"ts_us div {DAY_US}").alias("day")
    )
    cells = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    g = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s.cast("double") / n
    css = ss.cast("double") - s.cast("double") * s / n
    return g.select(
        "event_type",
        n.alias("n_days"),
        mean.alias("mean_daily"),
        (F.try_divide(css, (n - 1).cast("double")) / mean).alias(
            "dispersion_index"
        ),
        (css / mean).alias("chi2_stat"),
    ).orderBy("event_type")


# --- Paasche + Fisher price indices ---------------------------------------------


@query(
    "orders_paasche_fisher_index",
    oracle=f"""
    WITH pp AS (
      SELECT l_partkey AS part,
             epoch_us(l_shipdate) // {_PERIOD_US} AS period,
             {DSUM_SQL.format(expr="l_extendedprice")}
               / {DSUM_SQL.format(expr="l_quantity")} AS price,
             {DSUM_SQL.format(expr="l_quantity")} AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    b AS (SELECT MIN(period) AS p0 FROM pp),
    base AS (
      SELECT pp.part, pp.price AS price0, pp.qty AS qty0
      FROM pp CROSS JOIN b WHERE pp.period = b.p0
    ),
    idx AS (
      SELECT CAST(pp.period AS BIGINT) AS period,
             CAST(COUNT(*) AS BIGINT) AS n_parts_matched,
             {FSUM_SQL.format(expr="pp.price * base.qty0")}
               / NULLIF({FSUM_SQL.format(expr="base.price0 * base.qty0")}, 0)
               AS laspeyres,
             {FSUM_SQL.format(expr="pp.price * pp.qty")}
               / NULLIF({FSUM_SQL.format(expr="base.price0 * pp.qty")}, 0)
               AS paasche
      FROM pp JOIN base ON base.part = pp.part
      GROUP BY pp.period
    )
    SELECT period, n_parts_matched, laspeyres, paasche,
           sqrt(laspeyres * paasche) AS fisher
    FROM idx ORDER BY period
    """,
)
def orders_paasche_fisher_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paasche and Fisher price indices per 30-day period over the
    SAME matched basket as orders_laspeyres_price_index: Paasche
    Σp_t·q_t / Σp₀·q_t prices TODAY's basket at base prices (so it
    understates inflation exactly where Laspeyres overstates it —
    the L−P gap IS the substitution bias), and Fisher √(L·P) is the
    superlative index that splits it (the deflator form national
    accounts use). Laspeyres is recomputed here so all three read
    off one row; its values equal orders_laspeyres_price_index's
    (consistency-tested).

    Determinism: the (part, period) rollup decimal-sums RAW parquet
    doubles; the four basket sums aggregate PRODUCTS of computed
    doubles and therefore use the floor-scaled integer convention
    (pipeline17 module note); the indices are single IEEE divisions
    (try_divide + NULLIF — a zero base basket is degenerate-legal)
    and Fisher is one product + one sqrt on the already-computed
    index columns, identical op order both engines.

    Scale: identical to Laspeyres — one map-side (part × period)
    rollup (domain-bounded), a broadcast base basket, a per-period
    rollup; row-proportional work is only the lineitem pass."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.expr(
            f"{EPOCH_US_SQL.format(col='l_shipdate')} div {_PERIOD_US}"
        ).alias("period"),
        "l_extendedprice",
        "l_quantity",
    )
    # materialized ONCE for its three non-reuse-eligible consumers —
    # the orders_laspeyres_price_index rationale verbatim (optimization
    # r13; executes at construction, registry eager-contract note)
    pp = checkpoint(
        li.groupBy("part", "period").agg(
            (
                dsum(F.col("l_extendedprice")) / dsum(F.col("l_quantity"))
            ).alias("price"),
            dsum(F.col("l_quantity")).alias("qty"),
        )
    )
    b = pp.agg(F.min("period").alias("p0"))
    base = (
        pp.crossJoin(F.broadcast(b))
        .filter(F.col("period") == F.col("p0"))
        .select(
            "part",
            F.col("price").alias("price0"),
            F.col("qty").alias("qty0"),
        )
    )
    idx = (
        pp.join(F.broadcast(base), "part")
        .groupBy(F.col("period").cast("long").alias("period"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
            F.try_divide(
                fsum(F.col("price") * F.col("qty0")),
                fsum(F.col("price0") * F.col("qty0")),
            ).alias("laspeyres"),
            F.try_divide(
                fsum(F.col("price") * F.col("qty")),
                fsum(F.col("price0") * F.col("qty")),
            ).alias("paasche"),
        )
    )
    return idx.select(
        "period",
        "n_parts_matched",
        "laspeyres",
        "paasche",
        F.sqrt(F.col("laspeyres") * F.col("paasche")).alias("fisher"),
    ).orderBy("period")


# --- embedding covariance / correlation audit ------------------------------------

_COV_GSCALE = "1000000.0"  # Gram-term floor quantum (products)
_COV_MSCALE = "1000000000.0"  # marginal-sum floor quantum (raw values)
_COV_TOP = 10


def _cov_partials_stage():
    """mapInPandas stage emitting constant-size integer Gram partials
    per Arrow batch: 2080 (i ≤ j) pair rows with g = Σ floor(v_i·v_j·
    1e6) plus 64 marginal rows (j = −1) with s = Σ floor(v_i·1e9) and
    the row count — the ml_kmeans treeAggregate shape: batch size in,
    64 + 2080 rows out, so the shuffle is constant regardless of
    corpus size. NESTED so the worker pickles it by value (the
    round-4 / round-13 factory rule)."""
    import numpy as _np
    import pandas as _pd

    gscale = float(_COV_GSCALE)
    mscale = float(_COV_MSCALE)

    def stage(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            dims = v.shape[1]
            g = _np.zeros((dims, dims), dtype=_np.int64)
            # row-chunked outer products keep peak memory ~16 MB
            for lo in range(0, v.shape[0], 512):
                blk = v[lo : lo + 512]
                g += (
                    _np.floor(
                        blk[:, :, None] * blk[:, None, :] * gscale
                    )
                    .astype(_np.int64)
                    .sum(axis=0)
                )
            s = _np.floor(v * mscale).astype(_np.int64).sum(axis=0)
            iu, ju = _np.triu_indices(dims)
            out = _pd.DataFrame(
                {
                    "i": _np.concatenate([iu, _np.arange(dims)]),
                    "j": _np.concatenate(
                        [ju, _np.full(dims, -1, dtype=_np.int64)]
                    ),
                    "g": _np.concatenate(
                        [g[iu, ju], _np.zeros(dims, dtype=_np.int64)]
                    ),
                    "s": _np.concatenate(
                        [_np.zeros(iu.size, dtype=_np.int64), s]
                    ),
                    "cnt": _np.concatenate(
                        [
                            _np.zeros(iu.size, dtype=_np.int64),
                            _np.full(dims, v.shape[0], dtype=_np.int64),
                        ]
                    ),
                }
            )
            yield out

    return stage


@query(
    "embeddings_covariance_audit",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, j AS d, CAST(embedding[j + 1] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
    ),
    pairs AS (
      SELECT a.d AS i, b.d AS j,
             CAST(SUM(CAST(floor(a.v * b.v * {_COV_GSCALE})
                  AS BIGINT)) AS BIGINT) AS g
      FROM flat a JOIN flat b ON b.vec_id = a.vec_id AND b.d >= a.d
      GROUP BY 1, 2
    ),
    marg AS (
      SELECT d,
             CAST(SUM(CAST(floor(v * {_COV_MSCALE}) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM flat GROUP BY d
    ),
    stats AS (
      SELECT p.i, p.j,
             (CAST(p.g AS DOUBLE) / {_COV_GSCALE}) / ma.n
               - ((CAST(ma.s AS DOUBLE) / {_COV_MSCALE}) / ma.n)
                 * ((CAST(mb.s AS DOUBLE) / {_COV_MSCALE}) / mb.n) AS cov
      FROM pairs p JOIN marg ma ON ma.d = p.i JOIN marg mb ON mb.d = p.j
    ),
    vars AS (SELECT i AS d, cov AS var FROM stats WHERE i = j),
    corr AS (
      SELECT CAST(s.i AS BIGINT) AS dim_i, CAST(s.j AS BIGINT) AS dim_j,
             s.cov AS cov_ij,
             s.cov / NULLIF(sqrt(va.var * vb.var), 0) AS corr_ij
      FROM stats s
      JOIN vars va ON va.d = s.i JOIN vars vb ON vb.d = s.j
      WHERE s.i < s.j
    )
    SELECT dim_i, dim_j, cov_ij, corr_ij FROM corr
    WHERE corr_ij IS NOT NULL
    ORDER BY abs(corr_ij) DESC, dim_i, dim_j LIMIT {_COV_TOP}
    """,
)
def embeddings_covariance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-geometry audit: the top-{TOP} most-correlated
    dimension pairs of the 64-dim embedding matrix (covariance and
    Pearson correlation per pair) — the whitening-readiness /
    dimension-collapse check run before ANN index builds: highly
    correlated dimensions mean the random-hyperplane and IVF
    partitioners (similarity.py family) see less effective
    dimensionality than they assume, and a near-±1 pair is a trained-
    encoder defect (collapsed heads). Complements
    embeddings_dim_stats (per-dim moments) with the CROSS-dim story.

    Determinism: per-row Gram terms v_i·v_j are computed doubles, so
    they accumulate in the floor-scaled integer convention
    (floor(v_i·v_j·1e6), exact int64 sums — identical cross-engine);
    marginal sums floor at 1e9 (the probe_scores quantum for raw
    values); cov and corr are fixed IEEE sequences on those exact
    integers; corr is try_divide/NULLIF (a constant dimension is
    degenerate-legal) and the top-{TOP} is total-ordered by
    (|corr| DESC, i, j).

    Scale: ONE mapInPandas pass emits 64 + 2080 integer partial rows
    per Arrow batch (constant, like ml_kmeans' treeAggregate shape)
    — the 64×64 Gram work rides the scan, vectors NEVER shuffle, and
    the reduce is a 2144-key aggregate however large the corpus. The
    oracle pays the naive unnest² (n·64² rows) — the skew trap the
    plan avoids."""
    emb = load(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(
        _cov_partials_stage(),
        schema="i int, j int, g long, s long, cnt long",
    )
    # materialize the 2144-row reduced partials ONCE: the downstream
    # graph reads this frame from 9 branches (marg twice, stats,
    # variances twice, corr), and lazily each branch would replay the
    # full scan + mapInPandas — the HITS edge-rescan lesson. The frame
    # is dims²/2-bounded, so the checkpoint is constant-size at any
    # corpus (registry eager-contract note; cluster jobs swap
    # checkpoint()).
    agg = checkpoint(
        partials.groupBy("i", "j").agg(
            F.sum("g").cast("long").alias("g"),
            F.sum("s").cast("long").alias("s"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    marg = agg.filter(F.col("j") == -1).select(
        F.col("i").alias("d"), "s", "n"
    )
    gscale, mscale = float(_COV_GSCALE), float(_COV_MSCALE)
    ma = marg.select(
        F.col("d").alias("di"), F.col("s").alias("si"), F.col("n").alias("ni")
    )
    mb = marg.select(
        F.col("d").alias("dj"), F.col("s").alias("sj"), F.col("n").alias("nj")
    )
    stats = (
        agg.filter(F.col("j") >= 0)
        .join(F.broadcast(ma), F.col("i") == F.col("di"))
        .join(F.broadcast(mb), F.col("j") == F.col("dj"))
        .select(
            "i",
            "j",
            (
                (F.col("g").cast("double") / gscale) / F.col("ni")
                - ((F.col("si").cast("double") / mscale) / F.col("ni"))
                * ((F.col("sj").cast("double") / mscale) / F.col("nj"))
            ).alias("cov"),
        )
    )
    variances = stats.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("vd"), F.col("cov").alias("var")
    )
    va = variances.select(
        F.col("vd").alias("vdi"), F.col("var").alias("var_i")
    )
    vb = variances.select(
        F.col("vd").alias("vdj"), F.col("var").alias("var_j")
    )
    corr = (
        stats.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(va), F.col("i") == F.col("vdi"))
        .join(F.broadcast(vb), F.col("j") == F.col("vdj"))
        .select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            F.col("cov").alias("cov_ij"),
            F.try_divide(
                F.col("cov"), F.sqrt(F.col("var_i") * F.col("var_j"))
            ).alias("corr_ij"),
        )
    )
    return (
        corr.filter(F.col("corr_ij").isNotNull())
        .orderBy(F.abs(F.col("corr_ij")).desc(), "dim_i", "dim_j")
        .limit(_COV_TOP)
    )


embeddings_covariance_audit.__doc__ = (
    embeddings_covariance_audit.__doc__.replace("{TOP}", str(_COV_TOP))
)


# --- GROUP BY ALL / ORDER BY ALL SQL surface -------------------------------------

# the ONE SQL text that runs verbatim in BOTH engines: STRING (not the
# DuckDB-only bare VARCHAR) is the alias both parsers accept, keeping
# the decimal→text→double roundtrip of the DSUM convention intact
_Q77_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS STRING)
            AS DOUBLE) AS revenue
FROM {table}
GROUP BY ALL
ORDER BY ALL
"""


@query(
    "q77_group_by_all",
    oracle=_Q77_SQL.format(table="lineitem"),
)
def q77_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL surface, SUBMITTED AS SQL TEXT
    (the sql_text_frontend discipline): the resolver must expand ALL
    to the non-aggregate select list (returnflag, linestatus) and
    order by every output column left-to-right — the exact same
    four-token query text runs in Spark and DuckDB, pinning that both
    engines' ALL expansions agree. The convenience matters
    operationally: ad-hoc 100 TB rollups written with GROUP BY ALL
    cannot silently group by the wrong subset when a column is added
    to the select list.

    Determinism: decimal sum convention inside the SQL text; ORDER BY
    ALL is total here (the group keys are unique by construction).

    Scale: one map-side-combinable aggregation; Catalyst compiles the
    text to the same partial/final hash-aggregate plan the DataFrame
    API produces."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "p18_lineitem"
    )
    return spark.sql(_Q77_SQL.format(table="p18_lineitem"))


# --- functional-dependency violation audit ---------------------------------------

# (table, lhs, rhs) triples under audit: two hard FDs that MUST hold
# (key-determined) and three soft FDs a curation pipeline watches for
# drift (a source that starts mixing languages, a brand spanning new
# types, a segment spreading across nations).
_FDS = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_custkey"),
    ("documents", "source", "lang"),
    ("part", "p_brand", "p_type"),
    ("customer", "c_mktsegment", "c_nationkey"),
]

_FD_ONE_SQL = """
    SELECT '{table}.{lhs}->{rhs}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(MAX(k) AS BIGINT) AS max_rhs_per_key
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS k
          FROM {table} GROUP BY {lhs})
"""


@query(
    "dq_fd_violation_profile",
    oracle=" UNION ALL ".join(
        _FD_ONE_SQL.format(table=t, lhs=l, rhs=r) for t, l, r in _FDS
    )
    + " ORDER BY fd",
)
def dq_fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over declared (lhs → rhs) pairs:
    per FD, the number of lhs keys, how many keys see MORE than one
    rhs value (violations), and the worst key's rhs fan-out — the
    schema-semantics DQ check that catches what per-column profiling
    (profile_table) and referential checks (dq_constraint_checks)
    cannot: a crawler source that starts mixing languages, a brand
    spanning new part types, an upstream join that quietly
    denormalized a key. Hard FDs (key-determined: nation, orders rows
    here) must report 0 violations; soft FDs are drift monitors whose
    violation COUNT is the tracked metric.

    Determinism: exact COUNT(DISTINCT) per key (BIGINT), fixed FD
    label strings, total ORDER BY fd.

    Scale: each FD is one map-side-combinable groupBy(lhs) +
    count-distinct(rhs) — for low-cardinality rhs the partial
    aggregation collapses at the mappers; the union is |FDs| rows.
    No joins, no windows."""
    frames = []
    for table, lhs, rhs in _FDS:
        per_key = (
            load(spark, sf_dir, table)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).cast("long").alias("k"))
        )
        frames.append(
            per_key.agg(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_keys"),
                F.max("k").cast("long").alias("max_rhs_per_key"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("fd")


# --- RAKE keyphrase extraction ----------------------------------------------------

# delimiters: the corpus' function words (plus classic fillers that are
# harmless no-ops if absent) — RAKE phrases are the maximal runs
# BETWEEN stopwords/punctuation (Rose et al. 2010)
_RAKE_STOPS = "the|a|an|of|and|to|in|is|it|for|on|as|at|by|or"
_RAKE_MAX_WORDS = 4
_RAKE_TOP = 15


@query(
    "text_rake_keyphrases",
    oracle=rf"""
    WITH t AS (
      SELECT regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]+', '.', 'g'),
               '\b({_RAKE_STOPS})\b', '.', 'g') AS t3
      FROM documents
    ),
    pinst AS (
      SELECT phrase FROM (
        SELECT trim(regexp_replace(
                 unnest(string_split(t3, '.')), ' +', ' ', 'g')) AS phrase
        FROM t
      ) WHERE phrase <> ''
        AND len(string_split(phrase, ' ')) <= {_RAKE_MAX_WORDS}
    ),
    winst AS (
      SELECT unnest(string_split(phrase, ' ')) AS w,
             CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
      FROM pinst
    ),
    wscore AS (
      SELECT w,
             CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS score
      FROM winst GROUP BY w
    ),
    phrases AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM pinst GROUP BY phrase
    ),
    pw AS (
      SELECT p.phrase, p.n_occ,
             unnest(string_split(p.phrase, ' ')) AS w
      FROM phrases p
    )
    SELECT pw.phrase, pw.n_occ,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           {DSUM_SQL.format(expr="ws.score")} AS rake_score
    FROM pw JOIN wscore ws ON ws.w = pw.w
    GROUP BY pw.phrase, pw.n_occ
    ORDER BY rake_score DESC, phrase LIMIT {_RAKE_TOP}
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the document
    corpus: candidate phrases are the maximal word runs between
    stopwords/punctuation; each word scores degree/frequency (degree =
    Σ length of the phrases it appears in — co-occurrence weight;
    frequency = its occurrence count), and a phrase scores the sum of
    its words' scores. Top-{TOP} phrases of ≤ {MW} words — the
    unsupervised keyphrase surface a corpus-exploration / topic-label
    pipeline runs where TF-IDF (text_tfidf_topterms) returns WORDS,
    not multi-word concepts. Log-free by construction.

    Determinism: identical tokenization pipeline in both engines
    (lowercase → punctuation runs → '.', stopword tokens → '.', split
    on '.', whitespace-collapse + trim); freq/degree are exact BIGINTs
    so each word score is ONE double division on identical operands;
    the per-phrase sum of word scores uses the decimal convention
    (scores bounded by the {MW}-word phrase cap — far inside the
    safe-magnitude bound); total (score DESC, phrase) order.

    Scale: phrase extraction is map-side regex work; the two rollups
    shuffle (word) and (phrase) keys — both vocabulary-bounded, far
    smaller than the corpus; the word-score join probes a broadcast
    vocabulary frame. No windows, no self-joins."""
    docs = load(spark, sf_dir, "documents").select(
        F.lower(F.col("text")).alias("t")
    )
    t3 = F.regexp_replace(
        F.regexp_replace(F.col("t"), "[^a-z0-9 ]+", "."),
        rf"\b({_RAKE_STOPS})\b",
        ".",
    )
    pinst = (
        docs.select(F.explode(F.split(t3, "[.]")).alias("raw"))
        .select(
            F.trim(F.regexp_replace(F.col("raw"), " +", " ")).alias(
                "phrase"
            )
        )
        .filter(
            (F.col("phrase") != "")
            & (F.size(F.split(F.col("phrase"), " ")) <= _RAKE_MAX_WORDS)
        )
    )
    winst = pinst.select(
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
        F.size(F.split(F.col("phrase"), " ")).cast("long").alias("plen"),
    )
    wscore = winst.groupBy("w").agg(
        (
            F.sum("plen").cast("double") / F.count(F.lit(1))
        ).alias("score")
    )
    phrases = pinst.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    pw = phrases.select(
        "phrase",
        "n_occ",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    return (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            dsum(F.col("score")).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP)
    )


text_rake_keyphrases.__doc__ = (
    text_rake_keyphrases.__doc__
    .replace("{TOP}", str(_RAKE_TOP))
    .replace("{MW}", str(_RAKE_MAX_WORDS))
)
