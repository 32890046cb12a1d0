"""Round-12 widening batch 1: the classical nonparametric /
categorical-association test battery a 100 TB curation pipeline runs
when its parametric monitors (ANOVA, z-tests, chi2 screens) are not
trustworthy — heavy tails, ordinal scales, unknown distributions:

- ``events_winsorized_mean_binned`` — the r11 VERDICT's "sketch swap
  point" made real: the winsorized mean recomputed from a fixed-width
  value HISTOGRAM instead of a global row rank, so the sort is over
  the bounded bin domain, never the row count (the scale twin of the
  exact ``events_winsorized_mean``, which stays the oracle-exact form).
- ``events_mann_whitney_u`` — exact tie-corrected rank-sum test between
  two event types (the distribution-free two-sample location test).
- ``events_wilcoxon_signed_rank`` — exact tie-corrected paired test of
  per-user first-half vs second-half spend.
- ``events_kendall_tau_hour`` — exact Kendall τ-b between hour-of-day
  and value bucket from the contingency table (O(cells²), never O(n²)).
- ``orders_theil_sen_trend`` — median-of-pairwise-slopes robust trend
  of daily revenue (pair count is calendar-bounded: days², invariant
  in corpus size).
- ``text_hellinger_sources`` — Hellinger distance between per-source
  document-length distributions for every source pair (the bounded
  [0,1] drift metric that needs no logarithms).
- ``dq_cramers_v_type_dow`` — Cramér's V effect size between
  event_type and day-of-week (chi2 says WHETHER association exists;
  V says whether it is big enough to matter).

None of these exist in the reference (no statistics surface —
SURVEY.md §2.1; its one query capability is selective decryption,
src/parquet_reader.cpp:92-101); they extend the §2.3 statistics tier.

Determinism conventions as everywhere (registry.py module note):
exact BIGINT counts and integer 2×rank arithmetic for rank statistics
(ties via average ranks kept integral by doubling), decimal sums for
doubles, IEEE single-op divisions/sqrt in identical operation order on
both engines, total orderings before any LIMIT, epoch-us integer time
bucketing (events_heatmap_dow_hour precedent — no TZ, no calendar
functions).
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
    HOUR_US,
    dsum,
    fsum,
    query,
)
from ..registry import OFOLD_SQL, ofold
from ..tables import load


# Corpus-scaled computed doubles (chi² terms, basket products) sum with
# registry.fsum. [0,1]-bounded computed terms (Hellinger √(p·q), TV
# |p−p'|, Simpson p²) stay on the decimal convention: at |v| ≤ 1,
# ulp ≈ 2e-16 ≪ 1e-10, so shortest-repr and exact-binary rounding agree
# except on values within half an ulp of a grid midpoint — not reachable
# from these fixed op sequences on this data, and magnitude-stable at any
# corpus size.


# --- histogram-binned winsorized mean (scale twin) ---------------------------

_WCLIP_PCT = 100  # clip n // 100 from each side — 1%, as the exact twin


@query(
    "events_winsorized_mean_binned",
    oracle=f"""
    WITH per_bin AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             SUM(CAST(value AS DECIMAL(38,10))) AS vsum
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) // {_WCLIP_PCT} AS BIGINT) AS c
      FROM events
    ),
    cum AS (
      SELECT bin, cnt, vsum, SUM(cnt) OVER (ORDER BY bin) AS cumc
      FROM per_bin
    ),
    edges AS (
      SELECT MIN(CASE WHEN cumc >= t.c + 1 THEN bin END) AS lo_bin,
             MIN(CASE WHEN cumc >= t.n - t.c THEN bin END) AS hi_bin
      FROM cum CROSS JOIN tot t
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN p.bin < e.lo_bin THEN p.cnt ELSE 0 END)
             AS BIGINT) AS n_clipped_lo,
        CAST(SUM(CASE WHEN p.bin > e.hi_bin THEN p.cnt ELSE 0 END)
             AS BIGINT) AS n_clipped_hi,
        CAST(CAST(SUM(CASE
          WHEN p.bin < e.lo_bin
            THEN CAST(p.cnt * e.lo_bin AS DECIMAL(38,10))
          WHEN p.bin > e.hi_bin
            THEN CAST(p.cnt * (e.hi_bin + 1) AS DECIMAL(38,10))
          ELSE p.vsum END) AS VARCHAR) AS DOUBLE) AS wsum,
        CAST(CAST(SUM(p.vsum) AS VARCHAR) AS DOUBLE) AS rsum,
        MAX(e.lo_bin) AS lo_bin, MAX(e.hi_bin) AS hi_bin
      FROM per_bin p CROSS JOIN edges e
    )
    SELECT t.n AS n_events, t.c AS clip_target_each_side,
           a.n_clipped_lo, a.n_clipped_hi,
           CAST(a.lo_bin AS DOUBLE) AS lo_edge,
           CAST(a.hi_bin + 1 AS DOUBLE) AS hi_edge,
           a.rsum / t.n AS raw_mean,
           a.wsum / t.n AS winsorized_mean_binned
    FROM agg a CROSS JOIN tot t
    """,
)
def events_winsorized_mean_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1%-winsorized mean at HISTOGRAM resolution — the scale-safe twin
    of ``events_winsorized_mean`` (pipeline16), whose docstring marks
    its global row rank as the sketch swap point. Values are bucketed
    into unit-width bins (bin = floor(value)); the clip edges are the
    boundaries of the bins holding the (c+1)-th and (n−c)-th order
    statistics (c = n//100), found from the bin-level cumulative count;
    values OUTSIDE the edge bins clamp to the nearest edge, values
    inside keep their exact sums. The result brackets the exact
    winsorized mean within one bin width of tail mass — the standard
    histogram-sketch trade, but DETERMINISTIC in both engines (unlike
    approx_percentile / t-digest, whose sketches differ by engine).

    Determinism: integer bins and counts, one window over the BIN
    domain (total order on distinct bins), decimal sums with the
    mixed CASE kept in DECIMAL(38,10) end to end (clamp products
    cnt·edge are exact integers), two IEEE divisions.

    Scale: the groupBy(bin) is map-side partial-agg into a
    VALUE-DOMAIN-bounded key set (~600 bins here, bounded by max(value)
    regardless of row count); the cumulative window sorts BINS, not
    rows — vs the exact twin's n log n global row rank. Edges are a
    1-row broadcast; the winsorized sum is a second pass over the bin
    frame, not the events. At 100 TB this is the form that ships;
    the exact twin stays as the small-sample oracle reference."""
    events = load(spark, sf_dir, "events").select("value")
    per_bin = events.groupBy(
        F.floor(F.col("value")).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("vsum"),
    )
    tot = events.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(f"count(1) div {_WCLIP_PCT}").cast("long").alias("c"),
    )
    cum = per_bin.withColumn(
        "cumc", F.sum("cnt").over(W.orderBy("bin"))
    )
    edges = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cumc") >= F.col("c") + 1, F.col("bin"))
        ).alias("lo_bin"),
        F.min(
            F.when(F.col("cumc") >= F.col("n") - F.col("c"), F.col("bin"))
        ).alias("hi_bin"),
    )
    clamp_case = (
        F.when(
            F.col("bin") < F.col("lo_bin"),
            (F.col("cnt") * F.col("lo_bin")).cast("decimal(38,10)"),
        )
        .when(
            F.col("bin") > F.col("hi_bin"),
            (F.col("cnt") * (F.col("hi_bin") + 1)).cast("decimal(38,10)"),
        )
        .otherwise(F.col("vsum"))
    )
    agg = per_bin.crossJoin(F.broadcast(edges)).agg(
        F.sum(
            F.when(F.col("bin") < F.col("lo_bin"), F.col("cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_clipped_lo"),
        F.sum(
            F.when(F.col("bin") > F.col("hi_bin"), F.col("cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_clipped_hi"),
        F.sum(clamp_case).cast("double").alias("wsum"),
        F.sum("vsum").cast("double").alias("rsum"),
        F.max("lo_bin").alias("lo_bin"),
        F.max("hi_bin").alias("hi_bin"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("c").alias("clip_target_each_side"),
        "n_clipped_lo",
        "n_clipped_hi",
        F.col("lo_bin").cast("double").alias("lo_edge"),
        (F.col("hi_bin") + 1).cast("double").alias("hi_edge"),
        (F.col("rsum") / F.col("n")).alias("raw_mean"),
        (F.col("wsum") / F.col("n")).alias("winsorized_mean_binned"),
    )


# --- exact Mann–Whitney U ----------------------------------------------------

MWU_A, MWU_B = "click", "purchase"


@query(
    "events_mann_whitney_u",
    oracle=f"""
    WITH pool AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{MWU_A}', '{MWU_B}')
    ),
    per_v AS (
      SELECT value AS v,
             CAST(SUM(CASE WHEN event_type = '{MWU_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(COUNT(*) AS BIGINT) AS t
      FROM pool GROUP BY value
    ),
    ranked AS (
      SELECT v, a, t,
             2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS r2
      FROM per_v
    ),
    stats AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(t - a) AS BIGINT) AS n2,
             CAST(SUM(a * r2) AS BIGINT) AS r2a,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3
      FROM ranked
    )
    SELECT n1, n2,
           CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u2_stat,
           CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
           (CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2.0
              - CAST(n1 * n2 AS DOUBLE) / 2.0)
           / NULLIF(sqrt(CAST(n1 * n2 AS DOUBLE)
                  * (CAST(n1 + n2 + 1 AS DOUBLE)
                     - CAST(tie3 AS DOUBLE)
                       / NULLIF(CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 - 1 AS DOUBLE), 0))
                  / 12.0), 0) AS z_score
    FROM stats
    """,
)
def events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann–Whitney U (Wilcoxon rank-sum) test of
    the value distributions of '{A}' vs '{B}' events — the
    distribution-free two-sample location test a pipeline reaches for
    when events_abtest_lift's normal assumptions fail under heavy
    tails. Average ranks for ties are kept INTEGER by the 2×rank
    convention (r2 = 2·cum_before + t + 1 is twice the average rank of
    a tie group), so U arrives exact (u2_stat = 2U as BIGINT) before
    the one double division; the normal-approximation z uses the
    standard tie-corrected variance n1·n2/12·((N+1) − Σ(t³−t)/(N(N−1))).

    Determinism: integer rank arithmetic throughout; z is a fixed IEEE
    op sequence (3 divisions, 1 sqrt) written identically in both
    engines. (2U ≤ 2·n1·n2 — exact in BIGINT to ~2e9 rows per group;
    the t³ tie term accumulates in DECIMAL(38,0)/HUGEINT so a single
    tie group is safe to ~4.6e12 rows, not BIGINT's ~2.1e6.)

    Degenerate legal inputs return NULL z instead of aborting (the
    r12-judge crash class): an all-tied pool (var_u = 0), an empty
    group (n1·n2 = 0), or a 1-row pool (N(N−1) = 0) — try_divide on
    Spark, NULLIF twins in the oracle. A constant column is a legal
    100 TB input; the statistic is undefined there, not an error.

    Scale: one groupBy(value) into the distinct-value domain with
    map-side combine, one cumulative window over distinct values (the
    KS-test shape — a range-partitioned sort of the value DOMAIN, the
    price of any exact rank statistic), a 1-row reduce."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(MWU_A, MWU_B)
    )
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum(
            F.when(F.col("event_type") == MWU_A, 1).otherwise(0)
        )
        .cast("long")
        .alias("a"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    ranked = per_v.withColumn(
        "r2",
        2 * (F.sum("t").over(W.orderBy("v")) - F.col("t"))
        + F.col("t")
        + 1,
    )
    stats = ranked.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("a")).cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("r2")).cast("long").alias("r2a"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie3"),
    )
    u2 = F.col("r2a") - F.col("n1") * (F.col("n1") + 1)
    u_stat = u2.cast("double") / 2.0
    big_n = F.col("n1") + F.col("n2")
    var_u = (
        (F.col("n1") * F.col("n2")).cast("double")
        * (
            (big_n + 1).cast("double")
            - F.try_divide(
                F.col("tie3").cast("double"),
                big_n.cast("double") * (big_n - 1).cast("double"),
            )
        )
        / 12.0
    )
    z = F.try_divide(
        u_stat - (F.col("n1") * F.col("n2")).cast("double") / 2.0,
        F.sqrt(var_u),
    )
    return stats.select(
        "n1",
        "n2",
        u2.cast("long").alias("u2_stat"),
        u_stat.alias("u_stat"),
        z.alias("z_score"),
    )


events_mann_whitney_u.__doc__ = events_mann_whitney_u.__doc__.format(
    A=MWU_A, B=MWU_B
)


# --- exact Wilcoxon signed-rank ----------------------------------------------


@query(
    "events_wilcoxon_signed_rank",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day, user_id, value FROM events
    ),
    d0 AS (SELECT MIN(day) AS d0 FROM d),
    halves AS (
      SELECT user_id,
             CAST(CAST(SUM(CASE WHEN day < t.d0 + 15
                    THEN CAST(value AS DECIMAL(38,10)) END)
                  AS VARCHAR) AS DOUBLE)
               / SUM(CASE WHEN day < t.d0 + 15 THEN 1 ELSE 0 END) AS m1,
             CAST(CAST(SUM(CASE WHEN day >= t.d0 + 15
                    THEN CAST(value AS DECIMAL(38,10)) END)
                  AS VARCHAR) AS DOUBLE)
               / SUM(CASE WHEN day >= t.d0 + 15 THEN 1 ELSE 0 END) AS m2,
             SUM(CASE WHEN day < t.d0 + 15 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN day >= t.d0 + 15 THEN 1 ELSE 0 END) AS c2
      FROM d CROSS JOIN d0 t GROUP BY user_id
    ),
    diffs AS (
      SELECT ABS(m2 - m1) AS ad,
             CASE WHEN m2 - m1 > 0 THEN 1 ELSE 0 END AS pos
      FROM halves WHERE c1 > 0 AND c2 > 0 AND m2 - m1 <> 0
    ),
    per_v AS (
      SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM diffs GROUP BY ad
    ),
    ranked AS (
      SELECT ad, t, p,
             2 * (SUM(t) OVER (ORDER BY ad) - t) + t + 1 AS r2
      FROM per_v
    ),
    stats AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(p * r2) AS BIGINT) AS w2p,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3
      FROM ranked
    )
    SELECT n AS n_pairs,
           CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
           (CAST(w2p AS DOUBLE) / 2.0
              - CAST(n * (n + 1) AS DOUBLE) / 4.0)
           / NULLIF(sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
                  - CAST(tie3 AS DOUBLE) / 48.0), 0) AS z_score
    FROM stats
    """,
)
def events_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tie-corrected Wilcoxon signed-rank test of per-user mean
    spend, first half of the observed window vs second half (split at
    min_day + 15) — the PAIRED complement to events_mann_whitney_u:
    each user is their own control, so between-user variance cancels
    and the test sees pure within-user drift. Users active in only one
    half are excluded (no pair); zero diffs drop per the standard
    procedure. W+ stays integral via the same 2×rank tie convention;
    z uses the tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48.

    Determinism: per-user half means are decimal-sum / count (one IEEE
    division each); their difference and |d| are single IEEE ops;
    integer rank arithmetic; z is a fixed op sequence. The half split
    is integer epoch-day arithmetic off MIN(day) — no calendar
    functions (heatmap precedent). The t³ tie term accumulates in
    DECIMAL(38,0)/HUGEINT (safe to ~4.6e12 pairs sharing one |diff|).

    Degenerate legal inputs return NULL z instead of aborting: with
    n = 0 usable pairs the stats frame is empty (NULL propagation);
    for n ≥ 1 the tie-corrected variance is structurally positive
    (worst case all-tied: n(n+1)(2n+1)/24 − (n³−n)/48 = n(n+1)²/16),
    and try_divide + the oracle's NULLIF twin pin the NULL contract
    anyway (bit-identical on every nonzero denominator).

    Scale: one user_id shuffle for the paired means (map-side partial
    aggs), one groupBy over the distinct-|diff| domain, one cumulative
    window over that domain (the rank-statistic price), 1-row out."""
    ev = load(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {DAY_US}").alias("day"), "user_id", "value"
    )
    d0 = ev.agg(F.min("day").alias("d0"))
    first = F.col("day") < F.col("d0") + 15
    halves = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(first, F.col("value").cast("decimal(38,10)"))
                ).cast("double")
                / F.sum(F.when(first, 1).otherwise(0))
            ).alias("m1"),
            (
                F.sum(
                    F.when(~first, F.col("value").cast("decimal(38,10)"))
                ).cast("double")
                / F.sum(F.when(~first, 1).otherwise(0))
            ).alias("m2"),
            F.sum(F.when(first, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(~first, 1).otherwise(0)).alias("c2"),
        )
    )
    diffs = halves.filter(
        (F.col("c1") > 0)
        & (F.col("c2") > 0)
        & (F.col("m2") - F.col("m1") != 0)
    ).select(
        F.abs(F.col("m2") - F.col("m1")).alias("ad"),
        F.when(F.col("m2") - F.col("m1") > 0, 1).otherwise(0).alias("pos"),
    )
    per_v = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("pos").cast("long").alias("p"),
    )
    ranked = per_v.withColumn(
        "r2",
        2 * (F.sum("t").over(W.orderBy("ad")) - F.col("t"))
        + F.col("t")
        + 1,
    )
    stats = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("p") * F.col("r2")).cast("long").alias("w2p"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie3"),
    )
    w_plus = F.col("w2p").cast("double") / 2.0
    n = F.col("n")
    z = F.try_divide(
        w_plus - (n * (n + 1)).cast("double") / 4.0,
        F.sqrt(
            (n * (n + 1) * (2 * n + 1)).cast("double") / 24.0
            - F.col("tie3").cast("double") / 48.0
        ),
    )
    return stats.select(
        n.alias("n_pairs"), w_plus.alias("w_plus"), z.alias("z_score")
    )


# --- exact Kendall tau-b from the contingency table --------------------------

_TAU_VBIN = 50  # value-bucket width; buckets bounded by max(value)


@query(
    "events_kendall_tau_hour",
    oracle=f"""
    WITH cells AS (
      SELECT CAST((epoch_us(ts) // {HOUR_US}) % 24 AS BIGINT) AS x,
             CAST(FLOOR(value / {_TAU_VBIN}) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        COALESCE(CAST(SUM(CASE WHEN c2.y > c1.y THEN c1.c * c2.c ELSE 0 END)
             AS BIGINT), 0) AS conc,
        COALESCE(CAST(SUM(CASE WHEN c2.y < c1.y THEN c1.c * c2.c ELSE 0 END)
             AS BIGINT), 0) AS disc
      FROM cells c1 JOIN cells c2 ON c2.x > c1.x
    ),
    xt AS (
      SELECT CAST(SUM(tx * (tx - 1) // 2) AS BIGINT) AS n1t FROM (
        SELECT SUM(c) AS tx FROM cells GROUP BY x
      )
    ),
    yt AS (
      SELECT CAST(SUM(ty * (ty - 1) // 2) AS BIGINT) AS n2t FROM (
        SELECT SUM(c) AS ty FROM cells GROUP BY y
      )
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c) * (SUM(c) - 1) // 2 AS BIGINT) AS n0
      FROM cells
    )
    SELECT t.n, p.conc AS concordant, p.disc AS discordant,
           CAST(p.conc - p.disc AS DOUBLE)
             / NULLIF(sqrt(CAST(t.n0 - x.n1t AS DOUBLE)
                    * CAST(t.n0 - y.n2t AS DOUBLE)), 0) AS tau_b
    FROM pairs p CROSS JOIN xt x CROSS JOIN yt y CROSS JOIN tot t
    """,
)
def events_kendall_tau_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall τ-b between hour-of-day and value bucket
    (floor(value/{VBIN})) — the ordinal-association complement to
    orders_spearman_price_items: τ counts concordant vs discordant
    PAIRS, so it is exact on the CONTINGENCY TABLE: C and D are
    cell-pair sums Σ c1·c2 over (x1<x2, y1≶y2), tie corrections come
    from the marginals, and the n(n−1)/2 pair universe never
    materializes. τ-b = (C−D)/√((n0−n1t)(n0−n2t)).

    Determinism: all-integer until one division and one sqrt in fixed
    order. (n0 = n(n−1)/2 is exact BIGINT to ~4e9 rows — the integer
    tier's documented width bound; past that the marginal terms move
    to doubles.)

    Degenerate legal inputs return NULL τ instead of aborting (the
    r12-judge CONFIRMED crash: hours varying but every value in one
    τ bin makes n2t = n0 and the denominator exactly 0): try_divide
    on Spark, NULLIF twin in the oracle — a constant margin has no
    defined τ-b. conc/disc coalesce to 0 when no cross-hour cell
    pair exists (single-hour corpus) — zero pairs, not NULL.

    Scale: one map-side groupBy into a DOMAIN-bounded cell set (24 ×
    value-range/{VBIN} cells regardless of row count); the pair scan
    is cells² (≤ ~70k products here) on a broadcast self-join; the
    marginals are rollups of the same tiny frame. No row-level sort,
    no row-pair join — the trick that makes τ computable at 100 TB."""
    ev = load(spark, sf_dir, "events").select(
        (F.expr(f"ts_us div {HOUR_US}") % 24).alias("x"),
        F.floor(F.col("value") / _TAU_VBIN).cast("long").alias("y"),
    )
    cells = ev.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c1, c2 = cells.alias("c1"), cells.alias("c2")
    pairs = (
        c1.join(F.broadcast(c2), F.col("c2.x") > F.col("c1.x"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c2.y") > F.col("c1.y"),
                        F.col("c1.c") * F.col("c2.c"),
                    ).otherwise(F.lit(0))
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("conc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c2.y") < F.col("c1.y"),
                        F.col("c1.c") * F.col("c2.c"),
                    ).otherwise(F.lit(0))
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("disc"),
        )
    )
    xt = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("tx"))
        .agg(
            F.sum(F.expr("tx * (tx - 1) div 2")).cast("long").alias("n1t")
        )
    )
    yt = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("ty"))
        .agg(
            F.sum(F.expr("ty * (ty - 1) div 2")).cast("long").alias("n2t")
        )
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.expr("sum(c) * (sum(c) - 1) div 2").cast("long").alias("n0"),
    )
    tau = F.try_divide(
        (F.col("conc") - F.col("disc")).cast("double"),
        F.sqrt(
            (F.col("n0") - F.col("n1t")).cast("double")
            * (F.col("n0") - F.col("n2t")).cast("double")
        ),
    )
    return (
        pairs.crossJoin(F.broadcast(xt))
        .crossJoin(F.broadcast(yt))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.col("conc").alias("concordant"),
            F.col("disc").alias("discordant"),
            tau.alias("tau_b"),
        )
    )


events_kendall_tau_hour.__doc__ = events_kendall_tau_hour.__doc__.replace(
    "{VBIN}", str(_TAU_VBIN)
)


# --- Theil–Sen robust trend ---------------------------------------------------

SEN_BIN = 1000.0  # slope-bin width for the two-phase median selection


@query(
    "orders_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // {DAY_US} AS d,
             {DSUM_SQL.format(expr="o_totalprice")} AS rev
      FROM orders GROUP BY 1
    ),
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS np
      FROM daily
    ),
    slopes AS (
      SELECT (b.rev - a.rev) / CAST(b.d - a.d AS DOUBLE) AS s,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, d1, d2) AS rn
      FROM slopes
    )
    SELECT t.n_days, t.np AS n_pairs,
           SUM(CASE WHEN rn = (t.np + 1) // 2 OR rn = (t.np + 2) // 2
                    THEN s END)
             / COUNT(CASE WHEN rn = (t.np + 1) // 2 OR rn = (t.np + 2) // 2
                          THEN s END) AS sen_slope_per_day
    FROM ranked CROSS JOIN nd t
    GROUP BY t.n_days, t.np
    """,
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order revenue: the MEDIAN of all
    pairwise day-to-day slopes (rev_j − rev_i)/(d_j − d_i) — the
    breakdown-point-29% trend estimate that one promotional spike
    cannot move, where the OLS slope (q64_groupwise_ols) follows the
    outlier. Median = mean of the two middle slopes under the total
    (slope, d1, d2) order (equal middle VALUES regardless of the
    tiebreaker, so the tiebreaker only pins the plan).

    Determinism: daily revenue via decimal sums; each slope is one
    IEEE division; the median picks by integer rank and averages via
    the decimal-sum convention over ≤2 rows.

    Scale: the pair universe is CALENDAR-bounded — days(days−1)/2
    pairs (~2.9M for the 2405-day TPC-H span) regardless of corpus
    size, so the self-join input is the tiny daily rollup and every
    downstream frame is corpus-size-INVARIANT. The median itself is
    picked by TWO-PHASE selection (the dq_tukey_outlier_fences trick):
    slope-bin counts + a bin-domain cumulative window locate the bins
    holding the two middle ranks, and only THOSE bins' rows get a rank
    window — no single-partition sort of the full pair set (the
    oracle ranks globally; same order statistics, gate-certified).
    The only row-count-proportional work is the map-side daily
    aggregation."""
    orders = load(spark, sf_dir, "orders").select(
        F.expr(
            f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
        ).alias("d"),
        "o_totalprice",
    )
    daily = orders.groupBy("d").agg(dsum(F.col("o_totalprice")).alias("rev"))
    a = daily.select(F.col("d").alias("d1"), F.col("rev").alias("rev1"))
    b = daily.select(F.col("d").alias("d2"), F.col("rev").alias("rev2"))
    # try_divide, not /: Catalyst pushes the downstream sbin == qb
    # predicate (which contains this division) INTO the day-pair BNL
    # join, where conjunct order is not guaranteed — the division can
    # evaluate before the d2 > d1 guard and ANSI aborts on the d2 = d1
    # pairs. try_divide is push-down-safe (NULL there, filtered by the
    # guard) and bit-identical to / on every surviving row, so the
    # oracle's plain division still matches.
    # materialized ONCE (localCheckpoint — so this query executes at
    # construction, see the registry eager-contract note): both
    # selection phases below read the slope frame, and it is
    # calendar-bounded (days² ≈ 2.9M rows at any corpus size), so the
    # materialization is a fixed ~tens-of-MB cost that halves the BNL
    # join work
    slopes = checkpoint(
        a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
            F.try_divide(
                F.col("rev2") - F.col("rev1"),
                (F.col("d2") - F.col("d1")).cast("double"),
            ).alias("s"),
            "d1",
            "d2",
        )
    )
    nd = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("count(1) * (count(1) - 1) div 2")
        .cast("long")
        .alias("np"),
    )
    # two-phase median selection (the dq_tukey_outlier_fences trick,
    # applied to the slope frame): phase 1 buckets slopes into
    # SEN_BIN-wide bins and finds the bins holding the two middle
    # ranks from the bin-domain cumulative counts; phase 2 ranks ONLY
    # those bins' rows. bin = floor(s/W) is monotone in s and slope
    # ties share a bin, so the selection is exact under the same
    # (s, d1, d2) total order the oracle ranks globally — no 2.9M-row
    # single-partition sort on the Spark side.
    binned = slopes.withColumn(
        "sbin", F.floor(F.col("s") / SEN_BIN).cast("long")
    )
    per_bin = binned.groupBy("sbin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = per_bin.select(
        "sbin",
        "cnt",
        F.sum("cnt").over(W.orderBy("sbin")).alias("cumc"),
    )
    m1 = F.expr("(np + 1) div 2")
    m2 = F.expr("(np + 2) div 2")
    located = (
        cum.crossJoin(F.broadcast(nd))
        .groupBy("n_days", "np")
        .agg(
            F.min(F.when(F.col("cumc") >= m1, F.col("sbin"))).alias("b1"),
            F.min(F.when(F.col("cumc") >= m2, F.col("sbin"))).alias("b2"),
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
                located.select(F.col("b1").alias("qb")).unionAll(
                    located.select(F.col("b2").alias("qb"))
                ).distinct()
            ),
            F.col("sbin") == F.col("qb"),
        )
        .select("s", "d1", "d2", "sbin")
        .withColumn("brn", F.row_number().over(wv))
        .join(F.broadcast(before), F.col("sbin") == F.col("bb"))
        .select("s", "sbin", (F.col("brn") + F.col("cum_before")).alias("rn"))
    )
    mid = (F.col("rn") == m1) | (F.col("rn") == m2)
    return (
        mid_rows.crossJoin(F.broadcast(nd))
        .groupBy("n_days", "np")
        .agg(
            # plain double SUM: at most TWO middle slopes survive the
            # rn filter, and 2-operand IEEE addition commutes, so the
            # sum is order-free without decimal re-quantization (slopes
            # are corpus-scaled computed doubles — the |v| ≳ 1e6 bound
            # in the module note makes the decimal convention unsafe
            # here; ADVICE r12).
            (
                F.sum(F.when(mid, F.col("s")))
                / F.count(F.when(mid, F.col("s")))
            ).alias("sen_slope_per_day"),
        )
        .select(
            "n_days",
            F.col("np").alias("n_pairs"),
            "sen_slope_per_day",
        )
    )


# --- Hellinger distance between source length profiles ------------------------

_HELL_BIN = 100  # n_chars bin width


@query(
    "text_hellinger_sources",
    oracle=f"""
    WITH binned AS (
      SELECT source, CAST(n_chars // {_HELL_BIN} AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM binned GROUP BY 1
    ),
    p AS (
      SELECT b.source, b.bin, CAST(b.cnt AS DOUBLE) / t.n AS p
      FROM binned b JOIN tot t ON b.source = t.source
    ),
    bc AS (
      SELECT p1.source AS source_a, p2.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_bins_shared,
             {DSUM_SQL.format(expr="sqrt(p1.p * p2.p)")} AS bc
      FROM p p1 JOIN p p2
        ON p1.bin = p2.bin AND p1.source < p2.source
      GROUP BY p1.source, p2.source
    )
    SELECT source_a, source_b, n_bins_shared, bc,
           sqrt(GREATEST(0.0, 1.0 - bc)) AS hellinger
    FROM bc ORDER BY source_a, source_b
    """,
)
def text_hellinger_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between the document-length distributions
    (n_chars in {BIN}-char bins) of every source pair: H = √(1 − BC),
    BC = Σ√(p·q) — the bounded [0,1] distribution-drift metric that
    needs NO logarithms (KL/JS would import engine-specific log
    rounding; Hellinger's sqrt is a correctly-rounded IEEE op). Bins
    present in only one source contribute 0 to BC (√(p·0)), so the
    inner join on bin IS the full sum. The pairwise matrix ranks which
    crawl sources look alike before mixing (mix_source_weights) and
    flags the outlier source dq_ks_source_drift then tests pointwise.

    Determinism: integer bins/counts, per-bin p = one IEEE division,
    per-bin term = one product + one sqrt, decimal sum, then one
    subtraction inside GREATEST (guards BC = 1 + half-ulp) and one
    final sqrt — identical op order both engines. The summed √(p·q)
    terms are computed doubles but BOUNDED in [0,1] at any corpus
    size, where ulp ≈ 2e-16 ≪ the decimal convention's 1e-10 grid —
    inside the documented safe-magnitude bound (module note).

    Scale: one map-side groupBy into (source × length-domain/{BIN})
    cells — domain-bounded, not row-bounded; per-source totals and the
    pair join operate on that tiny frame (sources² · bins products).
    Row-count-proportional work is only the first aggregation."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"n_chars div {_HELL_BIN}").cast("long").alias("bin"),
    )
    binned = docs.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = binned.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    p = binned.join(F.broadcast(tot), "source").select(
        "source", "bin", (F.col("cnt").cast("double") / F.col("n")).alias("p")
    )
    p1, p2 = p.alias("p1"), p.alias("p2")
    bc = (
        p1.join(
            F.broadcast(p2),
            (F.col("p1.bin") == F.col("p2.bin"))
            & (F.col("p1.source") < F.col("p2.source")),
        )
        .groupBy(
            F.col("p1.source").alias("source_a"),
            F.col("p2.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins_shared"),
            dsum(F.sqrt(F.col("p1.p") * F.col("p2.p"))).alias("bc"),
        )
    )
    return bc.select(
        "source_a",
        "source_b",
        "n_bins_shared",
        "bc",
        F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("bc"))).alias(
            "hellinger"
        ),
    ).orderBy("source_a", "source_b")


text_hellinger_sources.__doc__ = text_hellinger_sources.__doc__.replace(
    "{BIN}", str(_HELL_BIN)
)


# --- Cramér's V ---------------------------------------------------------------


@query(
    "dq_cramers_v_type_dow",
    oracle=f"""
    WITH cells AS (
      SELECT event_type AS x,
             CAST((epoch_us(ts) // {DAY_US} + 3) % 7 AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY x),
    ct AS (SELECT y, CAST(SUM(o) AS BIGINT) AS col FROM cells GROUP BY y),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT x) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT y) AS BIGINT) AS ncol
      FROM cells
    ),
    chi AS (
      SELECT {OFOLD_SQL.format(
          term="(CAST(c.o AS DOUBLE) "
               "- (CAST(rt.r AS DOUBLE) / t.n) * ct.col) "
               "* (CAST(c.o AS DOUBLE) "
               "- (CAST(rt.r AS DOUBLE) / t.n) * ct.col) "
               "/ ((CAST(rt.r AS DOUBLE) / t.n) * ct.col)",
          key="c.x, c.y",
      )} AS chi2
      FROM cells c
      JOIN rt ON rt.x = c.x JOIN ct ON ct.y = c.y CROSS JOIN tot t
    )
    SELECT t.n, t.nr AS n_types, t.ncol AS n_dows, c.chi2,
           sqrt(c.chi2 / (CAST(t.n AS DOUBLE)
                          * LEAST(t.nr - 1, t.ncol - 1))) AS cramers_v
    FROM chi c CROSS JOIN tot t
    """,
)
def dq_cramers_v_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between event_type and
    day-of-week (epoch-day % 7, Monday = 0): V = √(χ²/(n·min(r−1,c−1)))
    over the r×c contingency table — the normalized [0,1] effect size
    that answers what ml_feature_chi2_screen's raw χ² cannot: is the
    type/weekday association big enough to stratify samplers by, or
    merely significant because n is huge? (At 100 TB EVERYTHING is
    significant; only effect sizes rank.)

    Determinism: expected counts as the fixed sequence (r/n)·c — one
    division then one product (r·c first could overflow BIGINT and
    rounds differently); per-cell χ² terms in identical op order; the
    cell sum follows the ORDERED-FOLD convention over the (type, dow)
    cell key (registry.py — χ² terms grow ~n with the corpus, past
    BOTH the decimal re-quantization bound AND, at extreme corpus
    sizes, the floor()→LONG saturation bound the floor-scaled
    convention carries; the fold has neither, and the cell domain is
    ≤ types×7); one division + sqrt at the end.

    Scale: one map-side groupBy into ≤ types×7 cells; marginals and
    the χ² reduce are rollups of that tiny frame — the only
    row-proportional work is the first aggregation."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        ((F.expr(f"ts_us div {DAY_US}") + 3) % 7).cast("long").alias("y"),
    )
    cells = ev.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = cells.groupBy("x").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("y").agg(F.sum("o").cast("long").alias("col"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("x").cast("long").alias("nr"),
        F.countDistinct("y").cast("long").alias("ncol"),
    )
    e = (F.col("r").cast("double") / F.col("n")) * F.col("col")
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    chi = (
        cells.join(F.broadcast(rt), "x")
        .join(F.broadcast(ct), "y")
        .crossJoin(F.broadcast(tot))
        .agg(ofold(term, F.col("x"), F.col("y")).alias("chi2"))
    )
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n").cast("double")
            * F.least(F.col("nr") - 1, F.col("ncol") - 1)
        )
    )
    return chi.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("nr").alias("n_types"),
        F.col("ncol").alias("n_dows"),
        "chi2",
        v.alias("cramers_v"),
    )


# === batch 2: mixture monitoring, diversity, design-based estimation,
# and the NTILE SQL surface ====================================================


@query(
    "events_type_mix_tv_drift",
    oracle=f"""
    WITH cnts AS (
      SELECT epoch_us(ts) // {DAY_US} AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM cnts),
    types AS (SELECT DISTINCT event_type FROM cnts),
    lattice AS (
      SELECT g.day, t.event_type
      FROM (SELECT unnest(range((SELECT d0 FROM days),
                                (SELECT d1 FROM days) + 1)) AS day) g
      CROSS JOIN types t
    ),
    tot AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS n FROM cnts GROUP BY 1),
    p AS (
      SELECT l.day, l.event_type,
             CASE WHEN t.n IS NULL OR t.n = 0 THEN 0.0
                  ELSE CAST(COALESCE(c.cnt, 0) AS DOUBLE) / t.n END AS p
      FROM lattice l
      LEFT JOIN cnts c ON c.day = l.day AND c.event_type = l.event_type
      LEFT JOIN tot t ON t.day = l.day
    ),
    lagged AS (
      SELECT day, event_type, p,
             LAG(p) OVER (PARTITION BY event_type ORDER BY day) AS pp
      FROM p
    )
    SELECT CAST(day AS BIGINT) AS day,
           0.5 * {DSUM_SQL.format(expr="ABS(p - pp)")} AS tv_vs_prev
    FROM lagged WHERE pp IS NOT NULL
    GROUP BY day ORDER BY day
    """,
)
def events_type_mix_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day total-variation distance of the event-type mixture:
    TV(d, d−1) = ½ Σ_type |p_d − p_{d−1}| — the bounded [0,1] "how much
    did today's traffic composition move" monitor (TV is the largest
    possible probability disagreement over any event set, so a 0.1
    means SOME segment shifted by 10 points). The type lattice is made
    DENSE over the observed day range (missing (day,type) cells read
    p = 0) so a type that disappears for a day registers as drift
    instead of silently dropping out of the sum — the classic mixture-
    monitor bug. Complements dq_distribution_drift (per-type tests)
    with one composition-level number per day.

    Determinism: integer epoch-day bucketing, p = one IEEE division
    (empty days read 0), LAG over the dense per-type lattice, decimal
    sum of |diffs| per day, one 0.5 product. The |p − p'| terms are
    computed doubles bounded in [0,1] at any corpus size — inside the
    decimal convention's safe-magnitude bound (module note).

    Scale: one map-side groupBy into (days × types) cells —
    domain-bounded, not row-bounded; the lattice/lag/rollup all
    operate on that tiny frame (the per-type LAG partitions by type,
    no single-partition window)."""
    ev = load(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {DAY_US}").alias("day"), "event_type"
    )
    cnts = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    days = cnts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = cnts.select("event_type").distinct()
    lattice = (
        days.select(
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
        )
        .crossJoin(F.broadcast(types))
    )
    tot = cnts.groupBy("day").agg(F.sum("cnt").cast("long").alias("n"))
    p = (
        lattice.join(F.broadcast(cnts), ["day", "event_type"], "left")
        .join(F.broadcast(tot), ["day"], "left")
        .select(
            "day",
            "event_type",
            F.when(
                F.col("n").isNull() | (F.col("n") == 0), F.lit(0.0)
            )
            .otherwise(
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
                / F.col("n")
            )
            .alias("p"),
        )
    )
    lagged = p.withColumn(
        "pp", F.lag("p").over(W.partitionBy("event_type").orderBy("day"))
    )
    return (
        lagged.filter(F.col("pp").isNotNull())
        .groupBy("day")
        .agg(
            (F.lit(0.5) * dsum(F.abs(F.col("p") - F.col("pp")))).alias(
                "tv_vs_prev"
            )
        )
        .select(F.col("day").cast("long").alias("day"), "tv_vs_prev")
        .orderBy("day")
    )


@query(
    "events_user_type_simpson",
    oracle=f"""
    WITH per_ut AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n FROM per_ut GROUP BY 1
    ),
    simp AS (
      SELECT t.user_id,
             1.0 - {DSUM_SQL.format(
                 expr="(CAST(p.cnt AS DOUBLE) / t.n) "
                      "* (CAST(p.cnt AS DOUBLE) / t.n)"
             )} AS simpson
      FROM per_ut p JOIN tot t ON p.user_id = t.user_id
      GROUP BY t.user_id, t.n
    )
    SELECT CAST(FLOOR(simpson * 100.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {DSUM_SQL.format(expr="simpson")} / COUNT(*) AS avg_simpson
    FROM simp GROUP BY 1 ORDER BY 1
    """,
)
def events_user_type_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity via the Simpson index
    (1 − Σ p_type², the probability two of the user's events differ in
    type), histogrammed in 0.01 bins over users — the log-free diversity
    measure (Shannon entropy would import engine-specific log rounding;
    Simpson is pure arithmetic). 0 = single-type users (bots, scrapers,
    one-action drive-bys); → 0.8 = evenly mixed across 5 types. The
    histogram is the audience-quality profile a sampler stratifies on;
    complements events_type_hhi (HHI = 1 − Simpson at corpus grain).

    Determinism: integer counts, per-user p² terms as fixed IEEE
    sequences, decimal sums, floor binning of a double product. The
    p² terms and per-user Simpson values are computed doubles bounded
    in [0,1] at any corpus size — inside the decimal convention's
    safe-magnitude bound (module note).

    Scale: one user_id-keyed groupBy with map-side combine into
    (user × ≤types) rows, a per-user rollup, then a ≤11-bin histogram
    — no windows, no joins beyond the user-key co-partitioned one."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = per_ut.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    pterm = (F.col("cnt").cast("double") / F.col("n")) * (
        F.col("cnt").cast("double") / F.col("n")
    )
    simp = (
        per_ut.join(tot, "user_id")
        .groupBy("user_id", "n")
        .agg((F.lit(1.0) - dsum(pterm)).alias("simpson"))
    )
    return (
        simp.groupBy(
            F.floor(F.col("simpson") * 100.0).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (dsum(F.col("simpson")) / F.count(F.lit(1))).alias(
                "avg_simpson"
            ),
        )
        .orderBy("bin")
    )


# Per-type sampling rates out of 16 (first hex digit of the salted id
# hash): heavier types sampled lighter — the unequal-probability design
# HT exists to invert.
_HT_RATES = {"click": 2, "error": 8, "purchase": 4, "signup": 8, "view": 1}
_HT_SALT = ":ht"

# Decimal-sum safety of the weighted terms (ADVICE r12): every weight
# 16/rate must be a POWER OF TWO so value·16/rate is an exact IEEE
# exponent shift — the weighted double keeps the raw value's decimal
# significand, so the DSUM convention stays safe for computed terms.
assert all(
    r in (1, 2, 4, 8, 16) for r in _HT_RATES.values()
), "HT rates must divide 16 into powers of two (exact IEEE weighting)"


_HT_CASE_SQL = "CASE " + " ".join(
    f"WHEN event_type = '{t}' THEN {r}" for t, r in sorted(_HT_RATES.items())
) + " END"


@query(
    "sample_horvitz_thompson",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value,
             substr(md5(CAST(event_id AS VARCHAR) || '{_HT_SALT}'), 1, 1)
               AS hd,
             {_HT_CASE_SQL} AS rate
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN ascii(b.hd) - CASE WHEN b.hd >= 'a'
                     THEN 87 ELSE 48 END < b.rate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           {DSUM_SQL.format(expr="b.value")} AS true_total,
           {DSUM_SQL.format(
               expr="CASE WHEN ascii(b.hd) - CASE WHEN b.hd >= 'a' "
                    "THEN 87 ELSE 48 END < b.rate "
                    "THEN b.value * 16.0 / b.rate END"
           )} AS ht_estimate
    FROM base b
    """,
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson total estimator under an unequal-probability
    hash design: each event type is kept at its own rate/16 (first hex
    digit of md5(event_id‖salt) below the rate — the
    sample_stratified_hash predicate family), and the HT estimator
    Σ value/π_i over the SAMPLE unbiasedly recovers the population
    total because each kept row stands for 16/rate rows of its type.
    Emits both totals side by side — the design-based answer to "can
    we run the revenue dashboard off the 12% sample?" that pairs with
    sample_neyman_allocation (which chooses the rates) and
    sample_priority_pps (the bounded-k alternative).

    Determinism: hash predicate over md5-derived hex digits (map-only,
    no RNG state — identical membership on any cluster and in the
    oracle); per-row weight value·16/rate is two IEEE ops, and because
    every configured 16/rate is a power of two (module assert) the
    weighting is an exact exponent shift — the weighted term keeps the
    raw parquet double's decimal significand, so the decimal-sum
    convention remains safe despite the term being computed; decimal
    sums.

    Scale: ONE pass, entirely map-side until two scalar aggregates —
    the predicate evaluates at the scan, so at 100 TB the sampled
    branch reads like a filter with pushdown, and the estimator's
    shuffle is 1 row per task."""
    rate = F.create_map(
        *[
            x
            for t, r in sorted(_HT_RATES.items())
            for x in (F.lit(t), F.lit(r))
        ]
    )[F.col("event_type")]
    hd = F.substring(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(_HT_SALT))),
        1,
        1,
    )
    hv = F.ascii(hd) - F.when(hd >= "a", 87).otherwise(48)
    ev = load(spark, sf_dir, "events").select(
        "value", rate.alias("rate"), hv.alias("hv")
    )
    kept = F.col("hv") < F.col("rate")
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_sampled"),
        dsum(F.col("value")).alias("true_total"),
        dsum(
            F.when(kept, F.col("value") * 16.0 / F.col("rate"))
        ).alias("ht_estimate"),
    )


@query(
    "q75_ntile_revenue_quartiles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS rev_dec
      FROM orders GROUP BY 1
    ),
    tiled AS (
      SELECT c.c_nationkey, r.rev_dec,
             NTILE(4) OVER (
               PARTITION BY c.c_nationkey
               ORDER BY r.rev_dec, r.o_custkey) AS quartile
      FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey
    )
    SELECT n.n_name AS nation, CAST(t.quartile AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(t.rev_dec) AS VARCHAR) AS DOUBLE)
             AS quartile_revenue
    FROM tiled t JOIN nation n ON n.n_nationkey = t.c_nationkey
    GROUP BY n.n_name, t.quartile
    ORDER BY nation, quartile
    """,
)
def q75_ntile_revenue_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NTILE window surface (the one ranking function the SQL tier had
    not exercised — rank/dense_rank/percent_rank/cume_dist/row_number
    are covered by q7/q74): customers split into revenue quartiles
    WITHIN their nation, then each (nation, quartile) summarized. NTILE
    assigns ⌈n/4⌉-sized buckets with earlier buckets taking the
    remainder — identical semantics in Spark and DuckDB provided the
    ORDER is total, hence the (rev, custkey) tiebreaker.

    Determinism: per-customer revenue stays DECIMAL(38,10) end to end
    — the ordering and the outer sum happen on the exact decimal, cast
    to double only at the output edge. (Re-quantizing a COMPUTED double
    back through decimal diverges between engines — Spark's
    shortest-repr BigDecimal.valueOf vs DuckDB's exact-binary-expansion
    rounding — the one unsafe spot in the DSUM convention, found by
    this query's first oracle run; raw parquet doubles don't hit it
    because their shortest repr fits inside 10 dp.) Total window
    order; integer bucket arithmetic.

    Scale: one o_custkey groupBy (map-side combinable), a broadcast
    customer→nation join, and a window partitioned by NATION (25-way
    parallel, each partition customer-count sized); output is
    nations×4 rows."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias(
            "rev_dec"
        ),
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    tiled = (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .select(
            "c_nationkey",
            "rev_dec",
            F.ntile(4)
            .over(
                W.partitionBy("c_nationkey").orderBy(
                    "rev_dec", "o_custkey"
                )
            )
            .alias("quartile"),
        )
    )
    return (
        tiled.join(
            F.broadcast(nation), tiled.c_nationkey == nation.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"), "quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_dec").cast("double").alias("quartile_revenue"),
        )
        .select(
            "nation",
            F.col("quartile").cast("long").alias("quartile"),
            "n_customers",
            "quartile_revenue",
        )
        .orderBy("nation", "quartile")
    )


# === batch 3: two-phase exact quantiles (Tukey fences) and the
# nth_value window surface ====================================================


@query(
    "dq_tukey_outlier_fences",
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
             MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS q3
      FROM ranked GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n, q1, q3, q3 - q1 AS iqr,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
      FROM q
    )
    SELECT f.event_type, f.n, f.q1, f.q3, f.iqr, f.lo_fence, f.hi_fence,
           CAST(SUM(CASE WHEN e.value < f.lo_fence THEN 1 ELSE 0 END)
                AS BIGINT) AS n_out_lo,
           CAST(SUM(CASE WHEN e.value > f.hi_fence THEN 1 ELSE 0 END)
                AS BIGINT) AS n_out_hi
    FROM events e JOIN f ON f.event_type = e.event_type
    GROUP BY f.event_type, f.n, f.q1, f.q3, f.iqr, f.lo_fence, f.hi_fence
    ORDER BY f.event_type
    """,
)
def dq_tukey_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey outlier fences per event type: EXACT Q1/Q3 (order
    statistics at ranks ⌈n/4⌉ and ⌈3n/4⌉ under the total
    (value, event_id) order), fences at 1.5·IQR, and the row counts
    outside them — the robust outlier audit that doesn't assume
    normality (events_anomaly_zscore) or a daily grain
    (events_anomaly_mad).

    The Spark side computes the exact order statistics by TWO-PHASE
    selection, not a per-type row sort: phase 1 buckets values into
    unit-width bins and accumulates per-type bin counts (a bin-domain
    window, the events_winsorized_mean_binned machinery); the bin
    holding each quartile rank is located from the cumulative counts;
    phase 2 sorts ONLY the rows of those located bins (per-type bin
    occupancy ≈ n/bins rows) and picks the (r − cum_before)-th value.
    The oracle computes the same order statistics the naive way (one
    row_number per type) — same values, so the driver gate certifies
    the two-phase selection exactly.

    Determinism: integer ranks and bin arithmetic; quartiles are DATA
    values (no interpolation); fences are fixed IEEE sequences
    (q3 − q1, then ±1.5·iqr); outlier counts are exact comparisons.

    Scale: phase 1 is a map-side (type × value-domain) rollup with a
    bin-domain cumulative window (never a row sort); phase 2 sorts
    ≤ 2·bins-occupancy rows per type; the outlier count is one more
    map-side pass against the broadcast fence frame — each of the
    three passes is scan-bound, shuffling only domain-bounded frames.
    The naive form (the oracle's) puts each type's FULL row set
    through one reducer — the skew trap this query exists to avoid."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    binned = ev.select(
        "event_type",
        F.floor(F.col("value")).cast("long").alias("bin"),
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
        F.sum("cnt")
        .over(W.partitionBy("event_type"))
        .alias("n"),
    )
    # quartile ranks (ceil(n/4), ceil(3n/4)) and the bins holding them
    r1 = F.expr("(n + 3) div 4")
    r3 = F.expr("(3 * n + 3) div 4")
    qbins = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cumc") >= r1, F.col("bin"))).alias("b1"),
        F.min(F.when(F.col("cumc") >= r3, F.col("bin"))).alias("b3"),
    )
    # cum_before for each located bin
    cb = cum.select(
        "event_type",
        "bin",
        (F.col("cumc") - F.col("cnt")).alias("before"),
    )
    q1cb = cb.select(
        F.col("event_type").alias("t1"),
        F.col("bin").alias("b1k"),
        F.col("before").alias("before1"),
    )
    q3cb = cb.select(
        F.col("event_type").alias("t3"),
        F.col("bin").alias("b3k"),
        F.col("before").alias("before3"),
    )
    qmeta = (
        qbins.join(
            F.broadcast(q1cb),
            (qbins.event_type == F.col("t1")) & (qbins.b1 == F.col("b1k")),
        )
        .join(
            F.broadcast(q3cb),
            (qbins.event_type == F.col("t3")) & (qbins.b3 == F.col("b3k")),
        )
        .select("event_type", "n", "b1", "before1", "b3", "before3")
    )
    # phase 2: sort only the located bins' rows
    wv = W.partitionBy("event_type", "bin").orderBy("value", "event_id")
    bin_rows = (
        ev.select(
            "event_type",
            "value",
            "event_id",
            F.floor(F.col("value")).cast("long").alias("bin"),
        )
        .join(
            F.broadcast(
                qmeta.select(
                    "event_type", F.col("b1").alias("qb")
                ).unionAll(
                    qmeta.select("event_type", F.col("b3").alias("qb"))
                ).distinct()
            ),
            ["event_type"],
        )
        .filter(F.col("bin") == F.col("qb"))
        .select(
            "event_type",
            "bin",
            "value",
            "event_id",
            F.row_number().over(wv).alias("brn"),
        )
    )
    q1v = (
        bin_rows.join(
            F.broadcast(qmeta.select("event_type", "b1", "before1", "n")),
            ["event_type"],
        )
        .filter(
            (F.col("bin") == F.col("b1"))
            & (
                F.col("brn")
                == F.expr("(n + 3) div 4") - F.col("before1")
            )
        )
        .select("event_type", F.col("value").alias("q1"))
    )
    q3v = (
        bin_rows.join(
            F.broadcast(qmeta.select("event_type", "b3", "before3", "n")),
            ["event_type"],
        )
        .filter(
            (F.col("bin") == F.col("b3"))
            & (
                F.col("brn")
                == F.expr("(3 * n + 3) div 4") - F.col("before3")
            )
        )
        .select("event_type", F.col("value").alias("q3"))
    )
    fences = (
        qmeta.select("event_type", "n")
        .join(F.broadcast(q1v), ["event_type"])
        .join(F.broadcast(q3v), ["event_type"])
        .select(
            "event_type",
            "n",
            "q1",
            "q3",
            (F.col("q3") - F.col("q1")).alias("iqr"),
            (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias(
                "lo_fence"
            ),
            (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias(
                "hi_fence"
            ),
        )
    )
    return (
        ev.join(F.broadcast(fences), ["event_type"])
        .groupBy(
            "event_type", "n", "q1", "q3", "iqr", "lo_fence", "hi_fence"
        )
        .agg(
            F.sum(
                F.when(F.col("value") < F.col("lo_fence"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_out_lo"),
            F.sum(
                F.when(F.col("value") > F.col("hi_fence"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_out_hi"),
        )
        .orderBy("event_type")
    )


@query(
    "q76_nth_value_window",
    oracle="""
    WITH hist AS (
      SELECT o.o_custkey,
             COUNT(*) OVER w AS n_orders,
             FIRST_VALUE(o.o_totalprice) OVER w AS first_price,
             NTH_VALUE(o.o_totalprice, 2) OVER w AS second_price,
             LAST_VALUE(o.o_totalprice) OVER w AS last_price,
             ROW_NUMBER() OVER (
               PARTITION BY o.o_custkey
               ORDER BY epoch_us(o.o_orderdate), o.o_orderkey) AS rn
      FROM orders o
      WINDOW w AS (
        PARTITION BY o.o_custkey
        ORDER BY epoch_us(o.o_orderdate), o.o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    per_cust AS (
      SELECT h.o_custkey, h.n_orders, h.first_price, h.second_price,
             h.last_price
      FROM hist h WHERE h.rn = 1 AND h.n_orders >= 2
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN p.second_price > p.first_price
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_second_higher,
           CAST(SUM(CASE WHEN p.last_price > p.first_price
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_higher
    FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def q76_nth_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTH_VALUE / FIRST_VALUE / LAST_VALUE over the full-partition
    frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING) — the
    value-positional window surface the SQL tier had not exercised
    (q54 covers IGNORE NULLS, q7/q74/q75 the ranking family): per
    customer's chronological order history, does the SECOND order
    already spend more than the first, and does the LAST? Rolled up to
    upsell counts per market segment. LAST_VALUE and NTH_VALUE are the
    functions whose default frame (up to CURRENT ROW) silently returns
    the wrong answer — the explicit full frame is the point of the pin.

    Determinism: total per-customer order (epoch-us date, orderkey);
    integer counts only — price comparisons, no arithmetic.

    Scale: ONE window over the o_custkey shuffle computes all four
    positional values; the rn = 1 filter reduces to one row per
    customer before the broadcast segment join and the ≤5-row
    rollup."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.expr(EPOCH_US_SQL.format(col="o_orderdate")).alias("ts"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("ts", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    wr = W.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    hist = orders.select(
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_orders"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.row_number().over(wr).alias("rn"),
    )
    per_cust = hist.filter(
        (F.col("rn") == 1) & (F.col("n_orders") >= 2)
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        per_cust.join(
            F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(
                F.when(
                    F.col("second_price") > F.col("first_price"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_second_higher"),
            F.sum(
                F.when(
                    F.col("last_price") > F.col("first_price"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_last_higher"),
        )
        .orderBy("segment")
    )


# === batch 4: price-index economics and column-completeness DQ ===============

PERIOD_US = 30 * DAY_US  # 30-day periods: TZ-free integer bucketing


# The basket sums aggregate PRODUCTS OF COMPUTED DOUBLES (unit price ×
# base quantity); the decimal-sum convention is unsafe there (the q75
# re-quantization divergence), so they use the floor-scaled integer
# convention instead — _fsum/_FSUM_SQL, defined at module top (r13:
# hoisted so the chi² tier shares it).


@query(
    "orders_laspeyres_price_index",
    oracle=f"""
    WITH pp AS (
      SELECT l_partkey AS part,
             epoch_us(l_shipdate) // {PERIOD_US} AS period,
             {DSUM_SQL.format(expr="l_extendedprice")}
               / {DSUM_SQL.format(expr="l_quantity")} AS price,
             {DSUM_SQL.format(expr="l_quantity")} AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    b AS (SELECT MIN(period) AS p0 FROM pp),
    base AS (
      SELECT pp.part, pp.price AS price0, pp.qty AS qty0
      FROM pp CROSS JOIN b WHERE pp.period = b.p0
    )
    SELECT CAST(pp.period AS BIGINT) AS period,
           CAST(COUNT(*) AS BIGINT) AS n_parts_matched,
           {FSUM_SQL.format(expr="pp.price * base.qty0")}
             / {FSUM_SQL.format(expr="base.price0 * base.qty0")}
             AS laspeyres_index
    FROM pp JOIN base ON base.part = pp.part
    GROUP BY pp.period ORDER BY period
    """,
)
def orders_laspeyres_price_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Laspeyres price index per 30-day period: Σ p_t·q₀ / Σ p₀·q₀ over
    the parts traded in BOTH the base period (the earliest) and period
    t — "what would the base period's basket cost at today's prices",
    the fixed-basket inflation measure (CPI's formula). Unit price per
    (part, period) is the quantity-weighted average
    Σ extendedprice / Σ quantity. The basket join is what separates
    this from a naive average-price trend: mix shift (buying different
    parts) cannot masquerade as price movement.

    Determinism: the (part, period) rollup decimal-sums RAW parquet
    doubles (safe); the basket sums aggregate PRODUCTS of computed
    doubles, so they use the floor-scaled integer convention (module
    note above — the decimal convention diverges cross-engine on
    computed doubles, the q75 lesson); unit price and the index are
    single IEEE divisions; period bucketing is TZ-free integer
    epoch-us arithmetic (heatmap convention, no calendar functions —
    a 30-day period, not a calendar month).

    Scale: one map-side (part × period) rollup (domain-bounded: parts
    × ~80 periods); the base basket broadcasts (parts-bounded); the
    index is a per-period rollup of that frame. Row-proportional work
    is only the first aggregation over lineitem."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.expr(
            f"{EPOCH_US_SQL.format(col='l_shipdate')} div {PERIOD_US}"
        ).alias("period"),
        "l_extendedprice",
        "l_quantity",
    )
    # the (part × period) rollup has THREE consumers (base-period min,
    # base basket, the per-period join) whose column-pruned subtrees
    # are NOT identical, so AQE exchange reuse never fires and lineitem
    # was scanned + decimal-aggregated 3× (measured final plan:
    # 3 scans, 0 reuse). Materialize it ONCE (optimization r13 — the
    # theil_sen slope-frame precedent; executes at construction, see
    # the registry eager-contract note); the frame is domain-bounded
    # (parts × 30-day periods), far under the lineitem pass it saves.
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
            F.col("part").alias("bpart"),
            F.col("price").alias("price0"),
            F.col("qty").alias("qty0"),
        )
    )
    return (
        pp.join(F.broadcast(base), pp.part == F.col("bpart"))
        .groupBy("period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
            (
                fsum(F.col("price") * F.col("qty0"))
                / fsum(F.col("price0") * F.col("qty0"))
            ).alias("laspeyres_index"),
        )
        .select(
            F.col("period").cast("long").alias("period"),
            "n_parts_matched",
            "laspeyres_index",
        )
        .orderBy("period")
    )


@query(
    "dq_completeness_profile",
    oracle="""
    SELECT 'lang' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN lang = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(SUM(CASE WHEN lang IS NOT NULL AND lang <> ''
                    AND trim(lang) = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blank
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN source = '' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN source IS NOT NULL AND source <> ''
                    AND trim(source) = '' THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'text', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN text IS NOT NULL AND text <> ''
                    AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    ORDER BY column_name
    """,
)
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column completeness profile of the documents table: per string
    column, NULL / empty-string / whitespace-only counts — the three
    DIFFERENT absences an ingest bug produces (a JSON null, a missing
    field serialized as '', a whitespace-padded extract), which every
    downstream length/quality filter treats differently. Completes the
    DQ dimension set next to dq_constraint_checks (integrity),
    dq_uniqueness_audit (uniqueness), dq_schema_drift (structure) and
    the freshness/distribution monitors.

    Determinism: exact counts over exact string predicates.

    Scale: ONE pass — all three columns profile in the same map-side
    conditional aggregation (the UNION in the oracle is presentation;
    the Spark plan computes one 12-aggregate scan — 3 columns × 4
    counts — and unpivots the 1-row result), 3 output rows."""
    docs = load(spark, sf_dir, "documents")

    def _counts(c: str):
        col = F.col(c)
        return [
            F.count(F.lit(1)).cast("long").alias(f"{c}_rows"),
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}_null"),
            F.sum(F.when(col == "", 1).otherwise(0))
            .cast("long")
            .alias(f"{c}_empty"),
            F.sum(
                F.when(
                    col.isNotNull()
                    & (col != "")
                    & (F.trim(col) == ""),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"{c}_blank"),
        ]

    one = docs.agg(
        *(_counts("lang") + _counts("source") + _counts("text"))
    )
    stacked = one.select(
        F.expr(
            "stack(3, "
            "'lang', lang_rows, lang_null, lang_empty, lang_blank, "
            "'source', source_rows, source_null, source_empty, source_blank, "
            "'text', text_rows, text_null, text_empty, text_blank) "
            "AS (column_name, n_rows, n_null, n_empty, n_blank)"
        )
    )
    return stacked.orderBy("column_name")
