"""Round-13 widening batch 4: the effect-size / scale-test tier — the
companions that turn the batch-3 hypothesis tests into decisions:

- ``events_mood_median_test`` — Mood's median test: the K-group
  above/below-the-grand-median χ² — the coarser, maximally robust
  sibling of events_kruskal_wallis (immune to anything but the
  median), sharing the two-phase exact-median machinery.
- ``events_cliffs_delta`` — Cliff's δ = (#{x>y} − #{x<y})/(n₁n₂)
  between the MWU groups: the EFFECT SIZE the Mann–Whitney p-value
  does not give (at 100 TB everything is significant; only effect
  sizes rank) — exact from the contingency cells, no pair
  materialization.
- ``events_brunner_munzel`` — the Brunner–Munzel relative-effect test
  (the modern MWU replacement that drops the equal-variance-of-ranks
  assumption): p̂ = P(X<Y) + ½P(X=Y) plus the studentized W from
  per-group rank variances, all on the distinct-value domain.
- ``orders_page_trend_test`` — Page's L: the ORDERED-alternative
  Friedman (is revenue monotonically drifting across the week,
  controlling for week level), all-integer mid-rank machinery.
- ``orders_sen_slope_ci`` — the Gilbert-style rank CI for the
  Theil–Sen slope: the (lo, hi) slope bounds at ranks
  (n_p ∓ 1.96·√Var(S))/2 — the error bars the point estimate
  (orders_theil_sen_trend) ships without; two-phase selection of
  BOTH bound ranks from the same calendar-bounded pair frame.

None of these exist in the reference (SURVEY.md §2.1 — its one query
capability is selective decryption, src/parquet_reader.cpp:92-101);
they extend the §2.3 statistics tier.

Conventions: registry.py module note; division-audit rule (try_divide
+ NULLIF from day one); the ORDERED-FOLD convention for corpus-scaled
double sums over bounded domains (registry.py ofold/OFOLD_SQL — see
pipeline19's module note for why neither window cumsums nor
floor-scaling survive cross-engine at width)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..ckpt import checkpoint
from ..registry import (
    DAY_US,
    DSUM_SQL,
    EPOCH_US_SQL,
    OFOLD_SQL,
    dsum,
    ofold,
    query,
)
from ..tables import load


_MWU_A, _MWU_B = "click", "purchase"  # the pipeline17 MWU group pair

_DAILY_REV_SQL = f"""daily AS (
      SELECT epoch_us(o_orderdate) // {DAY_US} AS d,
             {DSUM_SQL.format(expr="o_totalprice")} AS y
      FROM orders GROUP BY 1
    )"""


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.expr(
            f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
        ).alias("d")
    ).agg(dsum(F.col("o_totalprice")).alias("y"))


# --- Mood's median test --------------------------------------------------------


@query(
    "events_mood_median_test",
    oracle="""
    WITH nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
    ),
    med AS (
      SELECT e.value AS m FROM (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
        FROM events
      ) e CROSS JOIN nn WHERE e.rn = (nn.n + 1) // 2
    ),
    per_g AS (
      SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CASE WHEN events.value > med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS a
      FROM events CROSS JOIN med GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(a) AS BIGINT) AS aa,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per_g
    ),
    chi AS (
      SELECT list_reduce(list_prepend(0.0, list(
               (CAST(a AS DOUBLE)
                  - (CAST(t.aa AS DOUBLE) / t.n) * ng)
               * (CAST(a AS DOUBLE)
                  - (CAST(t.aa AS DOUBLE) / t.n) * ng)
               / NULLIF((CAST(t.aa AS DOUBLE) / t.n) * ng, 0)
               +
               (CAST(ng - a AS DOUBLE)
                  - (CAST(t.n - t.aa AS DOUBLE) / t.n) * ng)
               * (CAST(ng - a AS DOUBLE)
                  - (CAST(t.n - t.aa AS DOUBLE) / t.n) * ng)
               / NULLIF((CAST(t.n - t.aa AS DOUBLE) / t.n) * ng, 0)
               ORDER BY g)), (acc, x) -> acc + x) AS chi2
      FROM per_g CROSS JOIN tot t
    )
    SELECT t.n, t.k AS k_groups, t.aa AS n_above, med.m AS grand_median,
           chi.chi2 AS chi2_mood
    FROM tot t CROSS JOIN med CROSS JOIN chi
    """,
)
def events_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: the grand LOWER median M
    (rank ⌈N/2⌉ under the (value, event_id) total order), per-type
    above-M counts, and the 2×k χ² against the margin expectation
    e_g = n_g·A/N (above row) and n_g·(N−A)/N (not-above row). The
    maximally-robust K-group location screen — only the median has to
    be trusted, so it survives tails that bias even rank sums; the
    trade is power (events_kruskal_wallis when tails are sane).

    The Spark side selects M by the dq_tukey_outlier_fences TWO-PHASE
    machinery on the GLOBAL value domain (unit bins, bin-domain
    cumulative locates rank ⌈N/2⌉'s bin, only that bin's rows rank;
    the oracle ranks globally — same order statistic). χ² cell terms
    are DOUBLE over the k-row group domain → the ORDERED-FOLD
    convention, (r/n)·c expectation op order as dq_cramers_v_type_dow.

    Degenerate legal inputs → NULL χ² (division-audit rule): every
    value ≤ M (A = 0 — a constant corpus) or every value above
    (impossible for the lower median, but the NULLIF twin guards the
    expression), since a zero margin zeroes an expected count.

    Scale: one map-side bin rollup + one bin-domain window for M, one
    map-side groupBy for the counts, a k-row fold. Nothing
    row-proportional after the two first-pass aggregations."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), "value", "event_id"
    )
    nn = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    binned = ev.select(F.floor(F.col("value")).cast("long").alias("bin"))
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = per_bin.select(
        "bin", "cnt", F.sum("cnt").over(W.orderBy("bin")).alias("cumc")
    )
    target = F.expr("(n + 1) div 2")
    located = (
        cum.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(
            F.min(F.when(F.col("cumc") >= target, F.col("bin"))).alias(
                "qb"
            )
        )
    )
    before = cum.select(
        F.col("bin").alias("bb"),
        (F.col("cumc") - F.col("cnt")).alias("cum_before"),
    )
    wv = W.partitionBy("bin").orderBy("value", "event_id")
    med = (
        ev.withColumn("bin", F.floor(F.col("value")).cast("long"))
        .join(F.broadcast(located), F.col("bin") == F.col("qb"))
        .withColumn("brn", F.row_number().over(wv))
        .join(F.broadcast(before), F.col("bin") == F.col("bb"))
        .filter((F.col("brn") + F.col("cum_before")) == target)
        .select(F.col("value").alias("m"))
    )
    per_g = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum(F.when(F.col("value") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
        )
    )
    tot = per_g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("a").cast("long").alias("aa"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    n_d = F.col("n").cast("double")
    e_above = F.try_divide(F.col("aa").cast("double"), n_d) * F.col("ng")
    e_below = (
        F.try_divide((F.col("n") - F.col("aa")).cast("double"), n_d)
        * F.col("ng")
    )
    term = F.try_divide(
        (F.col("a").cast("double") - e_above)
        * (F.col("a").cast("double") - e_above),
        e_above,
    ) + F.try_divide(
        ((F.col("ng") - F.col("a")).cast("double") - e_below)
        * ((F.col("ng") - F.col("a")).cast("double") - e_below),
        e_below,
    )
    chi = per_g.crossJoin(F.broadcast(tot)).agg(
        ofold(term, F.col("g")).alias("chi2")
    )
    return (
        tot.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi))
        .select(
            "n",
            F.col("k").alias("k_groups"),
            F.col("aa").alias("n_above"),
            F.col("m").alias("grand_median"),
            F.col("chi2").alias("chi2_mood"),
        )
    )


# --- Cliff's delta -------------------------------------------------------------


@query(
    "events_cliffs_delta",
    oracle=f"""
    WITH cells AS (
      SELECT value AS v,
             CAST(SUM(CASE WHEN event_type = '{_MWU_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = '{_MWU_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM events WHERE event_type IN ('{_MWU_A}', '{_MWU_B}')
      GROUP BY 1
    ),
    cum AS (
      SELECT v, a, b,
             CAST(SUM(b) OVER (ORDER BY v) - b AS BIGINT) AS b_less
      FROM cells
    ),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
      FROM cells
    ),
    pairs AS (
      SELECT SUM(CAST(cum.a AS HUGEINT) * cum.b_less) AS n_gt,
             SUM(CAST(cum.a AS HUGEINT)
                 * (t.n2 - cum.b_less - cum.b)) AS n_lt
      FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2,
           CAST(CAST(p.n_gt AS VARCHAR) AS DOUBLE) AS n_gt,
           CAST(CAST(p.n_lt AS VARCHAR) AS DOUBLE) AS n_lt,
           (CAST(CAST(p.n_gt AS VARCHAR) AS DOUBLE)
              - CAST(CAST(p.n_lt AS VARCHAR) AS DOUBLE))
             / NULLIF(CAST(t.n1 AS DOUBLE) * t.n2, 0) AS cliffs_delta
    FROM pairs p CROSS JOIN tot t
    """,
)
def events_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's δ between the '{A}' and '{B}' value distributions:
    δ = (#{{x>y}} − #{{x<y}})/(n₁n₂) ∈ [−1, 1] — the ordinal effect
    size behind events_mann_whitney_u's p-value (δ = 2U/(n₁n₂) − 1):
    at corpus scale the z is always huge; δ is what answers "does the
    shift MATTER". Exact from the (value → a, b) contingency cells:
    #{{x>y}} = Σ_v a_v·B_<(v) via one cumulative window over the
    distinct-value domain — the n₁·n₂ pair universe never
    materializes.

    Determinism: all-integer (DECIMAL/HUGEINT products — a_v·B_< can
    reach n₁n₂ ≈ N²/4, past BIGINT at ~6e9 rows) until one division;
    the count columns surface through the VARCHAR-roundtrip
    decimal→double convention.

    Degenerate legal inputs → NULL δ (division-audit rule): either
    group empty (n₁n₂ = 0). An all-tied corpus gives δ = 0 exactly —
    defined, not NULL.

    Scale: one map-side groupBy into the distinct-value domain, one
    domain window, one reduce."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MWU_A, _MWU_B)
    )
    cells = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == _MWU_A, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == _MWU_B, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    cum = cells.select(
        "v",
        "a",
        "b",
        (F.sum("b").over(W.orderBy("v")) - F.col("b"))
        .cast("long")
        .alias("b_less"),
    )
    tot = cells.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    pairs = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b_less")).alias(
            "n_gt"
        ),
        F.sum(
            F.col("a").cast("decimal(38,0)")
            * (F.col("n2") - F.col("b_less") - F.col("b"))
        ).alias("n_lt"),
    )
    gt_d = F.col("n_gt").cast("double")
    lt_d = F.col("n_lt").cast("double")
    return pairs.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        gt_d.alias("n_gt"),
        lt_d.alias("n_lt"),
        F.try_divide(
            gt_d - lt_d, F.col("n1").cast("double") * F.col("n2")
        ).alias("cliffs_delta"),
    )


events_cliffs_delta.__doc__ = events_cliffs_delta.__doc__.replace(
    "{A}", _MWU_A
).replace("{B}", _MWU_B)


# --- Page's trend test ---------------------------------------------------------


@query(
    "orders_page_trend_test",
    oracle=f"""
    WITH {_DAILY_REV_SQL},
    wk AS (
      SELECT d // 7 AS w, d % 7 AS dow, y FROM daily
    ),
    complete AS (
      SELECT w FROM wk GROUP BY w HAVING COUNT(*) = 7
    ),
    ranked AS (
      SELECT wk.w, wk.dow,
             2 * RANK() OVER (PARTITION BY wk.w ORDER BY wk.y)
               + CAST(COUNT(*) OVER (PARTITION BY wk.w, wk.y) AS BIGINT)
               - 1 AS mr2
      FROM wk JOIN complete ON wk.w = complete.w
    ),
    blocks AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS b,
             CAST(SUM((dow + 1) * mr2) AS BIGINT) AS l2
      FROM ranked
    )
    SELECT b AS n_blocks,
           CAST(l2 AS DOUBLE) / 2.0 AS page_l,
           (CAST(l2 AS DOUBLE) / 2.0 - 112.0 * b)
             / NULLIF(sqrt(CAST(b AS DOUBLE) * 112896.0 / 864.0), 0)
             AS z_page
    FROM blocks
    """,
)
def orders_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test on daily revenue: blocks = calendar weeks
    (epoch-day div 7), treatments = the 7 weekdays with linear scores
    s_j = dow+1, L = Σ_j s_j·R_j over within-week mid-ranks — the
    ORDERED alternative to events_friedman_dow's omnibus: "is revenue
    monotonically drifting across the week, week level controlled",
    which Friedman's χ² dilutes over k−1 df. Only COMPLETE weeks
    enter. z = (L − E₀[L])/√Var₀(L) with the k = 7 constants
    E₀[L] = b·k(k+1)²/4 = 112b (in the ×2 integer convention
    2L = Σ s·mr2, E₀[2L] = 224b) and the standard no-ties
    Var₀(L) = b(k³−k)²/(144(k−1)) = 112896b/864 — mid-ranks make ties
    exact in L while the classical variance is kept (the usual Page
    practice; ties are revenue-DOUBLE collisions — measure-zero in
    data, exercised only by degenerate corpora, where z's sign is
    already meaningless).

    Determinism: all-integer to one division + sqrt (the ×2 mid-rank
    convention of events_friedman_dow — L2 = 2L exact BIGINT).

    Degenerate legal inputs → NULL z (division-audit rule): zero
    complete weeks (b = 0 zeroes √Var; L2 NULL from the empty sum).

    Scale: map-side daily rollup; ranks on the (week × 7) calendar
    domain; one reduce."""
    daily = _daily_rev(spark, sf_dir)
    wk = daily.select(
        F.expr("d div 7").alias("w"),
        (F.col("d") % 7).alias("dow"),
        "y",
    )
    complete = wk.groupBy("w").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") == 7
    )
    ranked = wk.join(F.broadcast(complete.select("w")), "w").withColumn(
        "mr2",
        2 * F.rank().over(W.partitionBy("w").orderBy("y"))
        + F.count(F.lit(1)).over(W.partitionBy("w", "y")).cast("long")
        - 1,
    )
    blocks = ranked.agg(
        F.countDistinct("w").cast("long").alias("b"),
        F.sum((F.col("dow") + 1) * F.col("mr2"))
        .cast("long")
        .alias("l2"),
    )
    page_l = F.col("l2").cast("double") / 2.0
    return blocks.select(
        F.col("b").alias("n_blocks"),
        page_l.alias("page_l"),
        F.try_divide(
            page_l - 112.0 * F.col("b"),
            F.sqrt(F.col("b").cast("double") * 112896.0 / 864.0),
        ).alias("z_page"),
    )


# --- Brunner–Munzel test -------------------------------------------------------


@query(
    "events_brunner_munzel",
    oracle=f"""
    WITH cells AS (
      SELECT value AS v,
             CAST(SUM(CASE WHEN event_type = '{_MWU_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = '{_MWU_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM events WHERE event_type IN ('{_MWU_A}', '{_MWU_B}')
      GROUP BY 1
    ),
    cum AS (
      SELECT v, a, b,
             CAST(SUM(a + b) OVER (ORDER BY v) - (a + b) AS BIGINT) AS cb,
             CAST(SUM(a) OVER (ORDER BY v) - a AS BIGINT) AS cba,
             CAST(SUM(b) OVER (ORDER BY v) - b AS BIGINT) AS cbb
      FROM cells
    ),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
      FROM cells
    ),
    rsum AS (
      SELECT SUM(CAST(cum.a AS HUGEINT)
                 * (2 * cum.cb + (cum.a + cum.b) + 1)) AS r2a,
             SUM(CAST(cum.b AS HUGEINT)
                 * (2 * cum.cb + (cum.a + cum.b) + 1)) AS r2b
      FROM cum
    ),
    means AS (
      SELECT t.n1, t.n2,
             CAST(CAST(r.r2a AS VARCHAR) AS DOUBLE)
               / NULLIF(2.0 * t.n1, 0) AS rba,
             CAST(CAST(r.r2b AS VARCHAR) AS DOUBLE)
               / NULLIF(2.0 * t.n2, 0) AS rbb
      FROM rsum r CROSS JOIN tot t
    ),
    devs AS (
      SELECT m.n1, m.n2, m.rba, m.rbb,
             {OFOLD_SQL.format(
                 term="CAST(cum.a AS DOUBLE)"
                      " * ((CAST(2 * cum.cb + (cum.a + cum.b) + 1 AS DOUBLE)"
                      "     - (2 * cum.cba + cum.a + 1)) / 2.0"
                      "    - m.rba + (m.n1 + 1) / 2.0)"
                      " * ((CAST(2 * cum.cb + (cum.a + cum.b) + 1 AS DOUBLE)"
                      "     - (2 * cum.cba + cum.a + 1)) / 2.0"
                      "    - m.rba + (m.n1 + 1) / 2.0)",
                 key="cum.v",
             )} AS ssa,
             {OFOLD_SQL.format(
                 term="CAST(cum.b AS DOUBLE)"
                      " * ((CAST(2 * cum.cb + (cum.a + cum.b) + 1 AS DOUBLE)"
                      "     - (2 * cum.cbb + cum.b + 1)) / 2.0"
                      "    - m.rbb + (m.n2 + 1) / 2.0)"
                      " * ((CAST(2 * cum.cb + (cum.a + cum.b) + 1 AS DOUBLE)"
                      "     - (2 * cum.cbb + cum.b + 1)) / 2.0"
                      "    - m.rbb + (m.n2 + 1) / 2.0)",
                 key="cum.v",
             )} AS ssb
      FROM cum CROSS JOIN means m
      GROUP BY m.n1, m.n2, m.rba, m.rbb
    )
    SELECT n1, n2,
           (rbb - (n2 + 1) / 2.0) / NULLIF(CAST(n1 AS DOUBLE), 0) AS p_hat,
           (rbb - rba)
             / NULLIF(sqrt(CAST(n1 + n2 AS DOUBLE) * (
                 (ssa / NULLIF(CAST(n1 - 1 AS DOUBLE), 0))
                   / NULLIF(CAST(n1 + n2 - n1 AS DOUBLE)
                            * (n1 + n2 - n1) * n1, 0)
                 + (ssb / NULLIF(CAST(n2 - 1 AS DOUBLE), 0))
                   / NULLIF(CAST(n1 + n2 - n2 AS DOUBLE)
                            * (n1 + n2 - n2) * n2, 0))), 0) AS w_bm
    FROM devs
    """,
)
def events_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel test between the '{A}' and '{B}' value
    distributions — the modern replacement for events_mann_whitney_u
    when the two groups may differ in SHAPE, not just location (MWU's
    variance assumes exchangeability; BM studentizes with per-group
    rank variances). Reports the relative effect p̂ = P(X<Y) + ½P(X=Y)
    = (R̄₂ − (n₂+1)/2)/n₁ and W = (R̄₂ − R̄₁) / √(N·(σ̂₁²/n₁ +
    σ̂₂²/n₂)) with σ̂_g² = S_g²/(N−n_g)², S_g² = Σ_i (R_i − R_i^(g) −
    R̄_g + (n_g+1)/2)²/(n_g−1) (Brunner & Munzel 2000; pooled R and
    within-group R^(g) are MID-ranks).

    Everything runs on the distinct-value domain (the MWU/KW
    machinery): pooled and within-group 2·midranks are exact integers
    from three cumulative windows over one cells frame; rank sums
    accumulate in DECIMAL/HUGEINT and surface via the VARCHAR
    roundtrip; the squared-deviation sums are corpus-scaled DOUBLES
    (ranks ~ N) so each group's Σ c·dev² follows the ORDERED-FOLD
    convention keyed by the value domain.

    Degenerate legal inputs → NULL (division-audit rule): an empty
    group (n_g = 0 or N−n_g = 0), n_g = 1 (S² undefined), and an
    all-tied pool (both S_g² = 0 → the √ is 0) — p̂ = ½ stays defined
    on ties; W does not, and NULL is the answer, never an abort.

    Scale: one map-side groupBy into distinct values; three window
    passes and two folds over that bounded domain; a 1-row reduce."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MWU_A, _MWU_B)
    )
    cells = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == _MWU_A, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == _MWU_B, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    wv = W.orderBy("v")
    t = F.col("a") + F.col("b")
    cum = cells.select(
        "v",
        "a",
        "b",
        (F.sum(t).over(wv) - t).cast("long").alias("cb"),
        (F.sum("a").over(wv) - F.col("a")).cast("long").alias("cba"),
        (F.sum("b").over(wv) - F.col("b")).cast("long").alias("cbb"),
    )
    tot = cells.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    mr2p = 2 * F.col("cb") + (F.col("a") + F.col("b")) + 1
    rsum = cum.agg(
        F.sum(F.col("a").cast("decimal(38,0)") * mr2p).alias("r2a"),
        F.sum(F.col("b").cast("decimal(38,0)") * mr2p).alias("r2b"),
    )
    means = rsum.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.try_divide(
            F.col("r2a").cast("double"), 2.0 * F.col("n1")
        ).alias("rba"),
        F.try_divide(
            F.col("r2b").cast("double"), 2.0 * F.col("n2")
        ).alias("rbb"),
    )
    dev_a = (
        (mr2p.cast("double") - (2 * F.col("cba") + F.col("a") + 1)) / 2.0
        - F.col("rba")
        + (F.col("n1") + 1) / 2.0
    )
    dev_b = (
        (mr2p.cast("double") - (2 * F.col("cbb") + F.col("b") + 1)) / 2.0
        - F.col("rbb")
        + (F.col("n2") + 1) / 2.0
    )
    devs = (
        cum.crossJoin(F.broadcast(means))
        .groupBy("n1", "n2", "rba", "rbb")
        .agg(
            ofold(
                F.col("a").cast("double") * dev_a * dev_a, F.col("v")
            ).alias("ssa"),
            ofold(
                F.col("b").cast("double") * dev_b * dev_b, F.col("v")
            ).alias("ssb"),
        )
    )
    n1_d = F.col("n1").cast("double")
    n2_d = F.col("n2").cast("double")
    nn_d = (F.col("n1") + F.col("n2")).cast("double")
    s2a = F.try_divide(F.col("ssa"), (F.col("n1") - 1).cast("double"))
    s2b = F.try_divide(F.col("ssb"), (F.col("n2") - 1).cast("double"))
    sig_term = F.try_divide(
        s2a,
        (F.col("n1") + F.col("n2") - F.col("n1")).cast("double")
        * (F.col("n1") + F.col("n2") - F.col("n1"))
        * F.col("n1"),
    ) + F.try_divide(
        s2b,
        (F.col("n1") + F.col("n2") - F.col("n2")).cast("double")
        * (F.col("n1") + F.col("n2") - F.col("n2"))
        * F.col("n2"),
    )
    return devs.select(
        "n1",
        "n2",
        F.try_divide(
            F.col("rbb") - (F.col("n2") + 1) / 2.0, n1_d
        ).alias("p_hat"),
        F.try_divide(
            F.col("rbb") - F.col("rba"),
            F.sqrt(nn_d * sig_term),
        ).alias("w_bm"),
    )


events_brunner_munzel.__doc__ = events_brunner_munzel.__doc__.replace(
    "{A}", _MWU_A
).replace("{B}", _MWU_B)


# --- Theil–Sen slope confidence interval --------------------------------------

_SEN_BIN = 1000.0  # slope-bin width (orders_theil_sen_trend's constant)


@query(
    "orders_sen_slope_ci",
    oracle=f"""
    WITH {_DAILY_REV_SQL},
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS np
      FROM daily
    ),
    ties AS (
      SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y) g
    ),
    var_s AS (
      SELECT CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                  - t.tie_term AS DOUBLE) / 18.0 AS v
      FROM nd CROSS JOIN ties t
    ),
    bounds AS (
      SELECT nd.n_days, nd.np, var_s.v,
             GREATEST(1, CAST(CEIL(
               (nd.np - 1.96 * sqrt(var_s.v)) / 2.0) AS BIGINT)) AS m1,
             LEAST(nd.np, CAST(FLOOR(
               (nd.np + 1.96 * sqrt(var_s.v)) / 2.0) AS BIGINT) + 1) AS m2
      FROM nd CROSS JOIN var_s
    ),
    slopes AS (
      SELECT (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS s,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, d1, d2) AS rn
      FROM slopes
    )
    SELECT t.n_days, t.np AS n_pairs, t.v AS var_s,
           t.m1 AS lo_rank, t.m2 AS hi_rank,
           MAX(CASE WHEN rn = t.m1 THEN s END) AS slope_lo,
           MAX(CASE WHEN rn = t.m2 THEN s END) AS slope_hi
    FROM ranked CROSS JOIN bounds t
    GROUP BY t.n_days, t.np, t.v, t.m1, t.m2
    """,
)
def orders_sen_slope_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gilbert-style 95% rank confidence interval for the Theil–Sen
    slope of daily revenue: with S's Mann–Kendall variance
    Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 and c = 1.96·√Var(S),
    the CI is the pair-slope ORDER STATISTICS at ranks
    m₁ = max(1, ⌈(n_p − c)/2⌉) and m₂ = min(n_p, ⌊(n_p + c)/2⌋ + 1)
    (Gilbert 1987 §16.4.1; 1.96 is pinned as a literal — no normal
    quantile function crosses the engines). orders_theil_sen_trend
    ships the point estimate; this is its error bar — the difference
    between "drifting" and "indistinguishable from flat" at alert
    time.

    Machinery: the MK tie-corrected variance (exact BIGINT terms), the
    calendar-bounded slope pair frame materialized ONCE
    (localCheckpoint — this query executes at construction; registry
    eager-contract note), and the Theil–Sen TWO-PHASE selection
    locating ranks m₁ and m₂ (bin-domain cumulative → only the two
    located bins' rows rank; the oracle ranks globally — same order
    statistics under the (s, d1, d2) total order).

    Degenerate legal inputs (division-audit rule): a single-day
    calendar has no pairs — zero result rows (the frame, not an
    abort); an all-tied-revenue series gives Var(S) ≥ 0 with c
    possibly 0, m₁ = m₂ = the median rank — a zero-width CI, defined.
    ⌈⌉/⌊⌋ on the two bound expressions are IEEE-deterministic.

    Scale: identical to orders_theil_sen_trend — days² pair universe
    is calendar-bounded, two-phase selection avoids any full sort of
    the pair frame, row-proportional work is the daily rollup."""
    daily = _daily_rev(spark, sf_dir)
    nd = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("count(1) * (count(1) - 1) div 2")
        .cast("long")
        .alias("np"),
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
    n = F.col("n_days")
    bounds = nd.crossJoin(F.broadcast(ties)).select(
        "n_days",
        "np",
        (
            (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast("double")
            / 18.0
        ).alias("v"),
    ).select(
        "n_days",
        "np",
        "v",
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil((F.col("np") - 1.96 * F.sqrt(F.col("v"))) / 2.0),
        ).alias("m1"),
        F.least(
            F.col("np"),
            F.floor((F.col("np") + 1.96 * F.sqrt(F.col("v"))) / 2.0) + 1,
        ).alias("m2"),
    )
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    # try_divide: push-down-safe under the BNL join (the theil_sen
    # lesson — the sbin predicate can evaluate before the d2 > d1
    # guard); bit-identical to / on every surviving row.
    slopes = checkpoint(
        a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
            F.try_divide(
                F.col("y2") - F.col("y1"),
                (F.col("d2") - F.col("d1")).cast("double"),
            ).alias("s"),
            "d1",
            "d2",
        )
    )
    binned = slopes.withColumn(
        "sbin", F.floor(F.col("s") / _SEN_BIN).cast("long")
    )
    per_bin = binned.groupBy("sbin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = per_bin.select(
        "sbin", "cnt", F.sum("cnt").over(W.orderBy("sbin")).alias("cumc")
    )
    located = (
        cum.crossJoin(F.broadcast(bounds))
        .groupBy("n_days", "np", "v", "m1", "m2")
        .agg(
            F.min(
                F.when(F.col("cumc") >= F.col("m1"), F.col("sbin"))
            ).alias("b1"),
            F.min(
                F.when(F.col("cumc") >= F.col("m2"), F.col("sbin"))
            ).alias("b2"),
        )
    )
    before = cum.select(
        F.col("sbin").alias("bb"),
        (F.col("cumc") - F.col("cnt")).alias("cum_before"),
    )
    wv = W.partitionBy("sbin").orderBy("s", "d1", "d2")
    mid_rows = (
        binned.join(
            F.broadcast(
                located.select(F.col("b1").alias("qb"))
                .unionAll(located.select(F.col("b2").alias("qb")))
                .distinct()
            ),
            F.col("sbin") == F.col("qb"),
        )
        .select("s", "d1", "d2", "sbin")
        .withColumn("brn", F.row_number().over(wv))
        .join(F.broadcast(before), F.col("sbin") == F.col("bb"))
        .select(
            "s", (F.col("brn") + F.col("cum_before")).alias("rn")
        )
    )
    return (
        mid_rows.crossJoin(F.broadcast(bounds))
        .groupBy("n_days", "np", "v", "m1", "m2")
        .agg(
            F.max(F.when(F.col("rn") == F.col("m1"), F.col("s"))).alias(
                "slope_lo"
            ),
            F.max(F.when(F.col("rn") == F.col("m2"), F.col("s"))).alias(
                "slope_hi"
            ),
        )
        .select(
            "n_days",
            F.col("np").alias("n_pairs"),
            F.col("v").alias("var_s"),
            F.col("m1").alias("lo_rank"),
            F.col("m2").alias("hi_rank"),
            "slope_lo",
            "slope_hi",
        )
    )
