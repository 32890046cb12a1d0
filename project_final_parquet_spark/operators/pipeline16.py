"""Round-11 widening batch 2: exact distribution-drift testing
(two-sample KS via integer cross-multiplication), resampling-based
uncertainty (deterministic Poisson bootstrap CI), robust aggregation
(exact winsorized mean), and variance-optimal survey design (Neyman
allocation) — the statistical-rigor tier a 100 TB curation pipeline
runs before trusting its own monitors: KS says WHETHER two sources
differ, the bootstrap says how sure the headline mean is, winsorizing
keeps that mean stable under heavy tails, Neyman says where the next
labeling budget goes.

Determinism conventions as everywhere: exact BIGINT counts and
cross-multiplied ECDF gaps (no division until the final scalar),
hash-derived randomness through the md5-prefix convention
(dedup.py) with Poisson inverse-CDF thresholds precomputed as
integer literals, decimal sums for doubles, total orderings, IEEE
single-op divisions/sqrt only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DSUM_SQL, dsum, query
from ..tables import load
from .vector_stats import PROBE_SCORED_CTES

# --- exact two-sample Kolmogorov–Smirnov source drift -----------------------

_KS_A, _KS_B = "src0", "src1"  # lexicographically-first source pair


@query(
    "dq_ks_source_drift",
    oracle=f"""
    WITH pool AS (
      SELECT source, n_chars FROM documents
      WHERE source IN ('{_KS_A}', '{_KS_B}')
    ),
    totals AS (
      SELECT
        CAST(SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2
      FROM pool
    ),
    per_v AS (
      SELECT n_chars AS v,
             CAST(SUM(CASE WHEN source = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN source = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM pool GROUP BY n_chars
    ),
    ecdf AS (
      SELECT v,
             SUM(a) OVER (ORDER BY v) AS c1,
             SUM(b) OVER (ORDER BY v) AS c2
      FROM per_v
    ),
    gaps AS (
      SELECT e.v, ABS(e.c1 * t.n2 - e.c2 * t.n1) AS d_num
      FROM ecdf e CROSS JOIN totals t
    ),
    best AS (
      SELECT v, d_num FROM gaps
      ORDER BY d_num DESC, v LIMIT 1
    )
    SELECT t.n1, t.n2, CAST(b.d_num AS BIGINT) AS d_num,
           CAST(b.d_num AS DOUBLE) / (t.n1 * t.n2) AS ks_stat,
           CAST(b.v AS BIGINT) AS at_value
    FROM totals t CROSS JOIN best b
    """,
)
def dq_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the first
    two document sources on the n_chars distribution: D = max over v of
    |F1(v) − F2(v)| — the BINLESS drift test that complements the
    binned chi-square monitor (dq_distribution_drift): chi-square needs
    a bin design and loses power to within-bin shifts; KS is
    distribution-free and catches any ECDF divergence, which is the
    right alarm for "this source's length profile moved" before a
    length-sensitive packing/chunking stage degrades. Reports the gap
    numerator exactly and the smallest value attaining it.

    Determinism: the ECDF gap is cross-multiplied into exact BIGINTs
    (|c1·n2 − c2·n1| — no per-value division), the argmax is total-
    ordered by (d_num DESC, v), and the single final division is one
    IEEE op.

    Scale: one value-key rollup (map-side combined; |distinct lengths|
    rows), one running-sum window over that already-tiny frame, a
    broadcast 1-row totals frame, and a TakeOrdered(1) — the corpus is
    read once regardless of source sizes."""
    pool = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin(_KS_A, _KS_B))
        .select("source", "n_chars")
    )
    totals = pool.agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    per_v = pool.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("source") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("source") == _KS_B, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    wv = W.orderBy("v")
    ecdf = per_v.select(
        "v",
        F.sum("a").over(wv).alias("c1"),
        F.sum("b").over(wv).alias("c2"),
    )
    gaps = ecdf.crossJoin(F.broadcast(totals)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
        ).alias("d_num"),
    )
    return (
        gaps.orderBy(F.desc("d_num"), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            F.col("d_num").cast("long").alias("d_num"),
            # try_divide (r13 division audit): an absent source
            # (n1 or n2 = 0 — legal) zeroes n1·n2; D is undefined
            # there => NULL (DuckDB double /0 is natively NULL).
            F.try_divide(
                F.col("d_num").cast("double"),
                F.col("n1") * F.col("n2"),
            ).alias("ks_stat"),
            F.col("v").cast("long").alias("at_value"),
        )
    )


# --- deterministic Poisson bootstrap CI -------------------------------------

_BOOT_B = 20  # replicates; CI = 2nd / 19th order statistic (~90% CI)
_BOOT_SEED = "boot-r11"
# Poisson(1) inverse-CDF thresholds in the md5-prefix key space
# (16^15): replicate weight w = #{k : h >= T_k} in 0..9 — precomputed
# once in Python (math.exp), embedded as integer literals in BOTH
# engines (the no-transcendentals-at-query-time rule).
_POIS_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
    1152920207336574720,
]

_W_SQL = " + ".join(
    f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T
)


@query(
    "events_value_bootstrap_ci",
    oracle=f"""
    WITH drawn AS (
      SELECT b.b, e.value,
             CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                   || ':{_BOOT_SEED}:' || b.b), 1, 15)) AS BIGINT) AS h
      FROM events e CROSS JOIN (
        SELECT unnest(range({_BOOT_B})) AS b
      ) b
    ),
    weighted AS (SELECT b, value, {_W_SQL} AS w FROM drawn),
    reps AS (
      SELECT b, CAST(SUM(w) AS BIGINT) AS n_drawn,
             {DSUM_SQL.format(expr="w * value")} / SUM(w) AS rep_mean
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT rep_mean,
             ROW_NUMBER() OVER (ORDER BY rep_mean, b) AS rn
      FROM reps
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             {DSUM_SQL.format(expr="value")} / COUNT(*) AS mean_value
      FROM events
    )
    SELECT pt.n_events, pt.mean_value,
           (SELECT rep_mean FROM ranked WHERE rn = 2) AS ci_lo,
           (SELECT rep_mean FROM ranked WHERE rn = {_BOOT_B - 1})
             AS ci_hi,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates
    FROM pt
    """,
)
def events_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free confidence interval for the mean event value
    via the DETERMINISTIC Poisson bootstrap (Chamandy et al.'s
    single-pass formulation): each event enters replicate b with a
    Poisson(1) weight derived from md5(event_id:seed:b) through
    precomputed inverse-CDF integer thresholds, so the resample needs
    NO multinomial coordination across partitions — the construction
    that makes bootstrapping possible at 100 TB (a classical resample
    must know n and draw jointly; Poisson weights are row-local). The
    CI is the 2nd/19th order statistic of the 20 replicate means
    (~90%); hash determinism makes it reproducible on any cluster
    layout, bit-for-bit.

    Determinism: weights are exact integers from literal thresholds;
    replicate means use the decimal-sum convention with one IEEE
    division; the order statistics are total-ordered by (mean, b).

    Scale: ONE corpus pass expanded ×B map-side (the explode never
    shuffles raw rows — partial aggregates combine to B rows per
    partition), one B-key rollup, one 20-row window. B is a constant
    dial: variance of the CI endpoints shrinks as 1/√B while cost
    grows linearly."""
    events = load(spark, sf_dir, "events").select("event_id", "value")
    reps_idx = F.explode(
        F.array(*[F.lit(b) for b in range(_BOOT_B)])
    ).alias("b")
    drawn = events.select("event_id", "value", reps_idx)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(f":{_BOOT_SEED}:"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = sum(
        (F.when(F.col("h") >= t, 1).otherwise(0) for t in _POIS_T),
        F.lit(0),
    )
    weighted = drawn.withColumn("h", h).select(
        "b", "value", w.alias("w")
    )
    reps = weighted.groupBy("b").agg(
        F.sum("w").cast("long").alias("n_drawn"),
        (
            dsum(F.col("w") * F.col("value")) / F.sum("w")
        ).alias("rep_mean"),
    )
    ranked = reps.select(
        "rep_mean",
        F.row_number().over(W.orderBy("rep_mean", "b")).alias("rn"),
    )
    # BOTH order statistics from ONE consumer of the ranked replicate
    # frame (optimization r13): the old lo/hi filter branches each
    # replayed the x B md5 expansion + rollup when the exchange was not
    # reused across the two broadcast subtrees — a conditional
    # aggregate over the 20-row frame reads it once. Values unchanged:
    # min() over exactly one non-NULL row per bound.
    ci = ranked.agg(
        F.min(F.when(F.col("rn") == 2, F.col("rep_mean"))).alias("ci_lo"),
        F.min(
            F.when(F.col("rn") == _BOOT_B - 1, F.col("rep_mean"))
        ).alias("ci_hi"),
    )
    pt = events.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"),
    )
    return (
        pt.crossJoin(F.broadcast(ci))
        .select(
            "n_events",
            "mean_value",
            "ci_lo",
            "ci_hi",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        )
    )


# --- exact winsorized mean --------------------------------------------------


@query(
    "events_winsorized_mean",
    oracle=f"""
    WITH ranked AS (
      SELECT value,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ),
    bounds AS (
      SELECT n, n // 100 AS c,
             MAX(CASE WHEN rn = n // 100 + 1 THEN value END) AS lo_clip,
             MAX(CASE WHEN rn = n - n // 100 THEN value END) AS hi_clip
      FROM ranked GROUP BY n
    )
    SELECT CAST(r.n AS BIGINT) AS n_events,
           CAST(b.c AS BIGINT) AS n_clipped_each_side,
           b.lo_clip, b.hi_clip,
           {DSUM_SQL.format(expr="r.value")} / r.n AS raw_mean,
           {DSUM_SQL.format(
               expr="CASE WHEN r.value < b.lo_clip THEN b.lo_clip "
                    "WHEN r.value > b.hi_clip THEN b.hi_clip "
                    "ELSE r.value END"
           )} / r.n AS winsorized_mean
    FROM ranked r CROSS JOIN bounds b
    GROUP BY r.n, b.c, b.lo_clip, b.hi_clip
    """,
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1%-winsorized mean of event value: the c = n//100 smallest
    values are clamped up to the (c+1)-th order statistic and the c
    largest down to the (n−c)-th, then averaged — the robust location
    estimate a revenue/quality dashboard ships when raw means whiplash
    on single outlier events (trimming DROPS the tails and biases
    totals; winsorizing keeps mass constant, which is why it is the
    standard for heavy-tailed monetary metrics). Reports both means so
    the gap itself is the tail-pressure signal.

    Determinism: order statistics under the total (value, event_id)
    order; clamps are exact comparisons; both means use the decimal-
    sum convention with one IEEE division each.

    Scale: one global rank (range-partitioned sort) feeding both the
    bounds (2 rows kept) and the clamped sum — a second pass over the
    sorted stream, no re-sort; the bounds frame broadcasts. At
    production scale the exact rank swaps for the percentile-sketch
    clip points with the identical downstream plan."""
    events = load(spark, sf_dir, "events").select("event_id", "value")
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = events.select(
        "value",
        F.row_number().over(W.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    bounds = ranked.groupBy("n").agg(
        F.expr("n div 100").alias("c"),
        F.max(
            F.when(F.col("rn") == F.expr("n div 100 + 1"), F.col("value"))
        ).alias("lo_clip"),
        F.max(
            F.when(F.col("rn") == F.expr("n - n div 100"), F.col("value"))
        ).alias("hi_clip"),
    )
    clamped = F.when(
        F.col("value") < F.col("lo_clip"), F.col("lo_clip")
    ).when(F.col("value") > F.col("hi_clip"), F.col("hi_clip")).otherwise(
        F.col("value")
    )
    return (
        ranked.crossJoin(F.broadcast(bounds.drop("n")))
        .groupBy("n", "c", "lo_clip", "hi_clip")
        .agg(
            (dsum(F.col("value")) / F.col("n")).alias("raw_mean"),
            (dsum(clamped) / F.col("n")).alias("winsorized_mean"),
        )
        .select(
            F.col("n").cast("long").alias("n_events"),
            F.col("c").cast("long").alias("n_clipped_each_side"),
            "lo_clip",
            "hi_clip",
            "raw_mean",
            "winsorized_mean",
        )
    )


# --- Neyman allocation ------------------------------------------------------

_NEYMAN_K = 1000  # sampling budget to allocate across strata


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH strata AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             {DSUM_SQL.format(expr="value")} / COUNT(*) AS m1,
             {DSUM_SQL.format(expr="value * value")} / COUNT(*) AS m2
      FROM events GROUP BY event_type
    ),
    wts AS (
      SELECT event_type, n_h,
             sqrt(m2 - m1 * m1) AS s_h,
             n_h * sqrt(m2 - m1 * m1) AS w
      FROM strata
    ),
    tot AS (
      SELECT {DSUM_SQL.format(expr="w")} AS tw FROM wts
    ),
    quota AS (
      SELECT w.event_type, w.n_h, w.s_h,
             {_NEYMAN_K} * w.w / t.tw AS q,
             CAST(floor({_NEYMAN_K} * w.w / t.tw) AS BIGINT) AS base,
             {_NEYMAN_K} * w.w / t.tw
               - floor({_NEYMAN_K} * w.w / t.tw) AS rem
      FROM wts w CROSS JOIN tot t
    ),
    short AS (
      SELECT {_NEYMAN_K} - CAST(SUM(base) AS BIGINT) AS k FROM quota
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY rem DESC, event_type) AS rr
      FROM quota
    )
    SELECT r.event_type, r.n_h, r.s_h,
           CAST(r.base + CASE WHEN r.rr <= s.k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked r CROSS JOIN short s
    ORDER BY r.event_type
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 1000-draw sampling budget across the
    event-type strata: stratum h gets budget ∝ N_h·S_h (population ×
    within-stratum std of value) — the allocation that minimizes the
    variance of the stratified mean estimator for a fixed budget
    (Neyman 1934), vs sample_proportional_allocation's ∝ N_h which
    ignores that a high-variance stratum needs more draws per unit of
    certainty. Integerized by the same Hamilton largest-remainder rule
    (exact budget sum, ties by stratum name).

    Determinism: the moments use the decimal-sum convention (exact,
    order-independent); S_h = sqrt(m2 − m1²) is a fixed IEEE op
    sequence (sqrt is correctly rounded); the weight total re-enters
    through the decimal sum so the 5-row reduction is order-free;
    quotas/remainders are fixed-order IEEE ops; the remainder ranking
    is total-ordered.

    Scale: one map-side-combinable moments rollup to |strata| rows;
    everything after is driver-scale frames (broadcast total, one
    |strata|-row window)."""
    events = load(spark, sf_dir, "events").select("event_type", "value")
    strata = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("m1"),
        (
            dsum(F.col("value") * F.col("value")) / F.count(F.lit(1))
        ).alias("m2"),
    )
    wts = strata.select(
        "event_type",
        "n_h",
        F.sqrt(F.col("m2") - F.col("m1") * F.col("m1")).alias("s_h"),
        (
            F.col("n_h")
            * F.sqrt(F.col("m2") - F.col("m1") * F.col("m1"))
        ).alias("w"),
    )
    tot = wts.agg(dsum(F.col("w")).alias("tw"))
    q = F.lit(_NEYMAN_K) * F.col("w") / F.col("tw")
    quota = wts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        "s_h",
        F.floor(q).cast("long").alias("base"),
        (q - F.floor(q)).alias("rem"),
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = quota.select(
        "event_type",
        "n_h",
        "s_h",
        "base",
        (F.lit(_NEYMAN_K) - F.sum("base").over(w_all)).alias("k"),
        F.row_number()
        .over(W.orderBy(F.desc("rem"), "event_type"))
        .alias("rr"),
    )
    return ranked.select(
        "event_type",
        "n_h",
        "s_h",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("event_type")


# --- DeLong SE / CI for the probe AUC ---------------------------------------

_Z975 = 1.959963984540054  # Phi^-1(0.975), precomputed literal


@query(
    "ml_auc_delong_ci",
    oracle=f"""
    WITH {PROBE_SCORED_CTES},
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rn,
             SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY score, vec_id) AS cp
      FROM scored
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        CAST(SUM(CASE WHEN label <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        CAST(SUM(CASE WHEN label = 0 THEN rn - cp ELSE 0 END)
             AS BIGINT) AS sa,
        CAST(SUM(CASE WHEN label = 0 THEN (rn - cp) * (rn - cp)
                      ELSE 0 END) AS BIGINT) AS sa2,
        CAST(SUM(CASE WHEN label <> 0 THEN cp ELSE 0 END)
             AS BIGINT) AS sb_below,
        CAST(SUM(CASE WHEN label <> 0 THEN cp * cp ELSE 0 END)
             AS BIGINT) AS sb2_below
      FROM ranked
    ),
    stats AS (
      SELECT m, nn,
             CAST(sa AS DOUBLE) / (m * nn) AS auc,
             (CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * sa / m)
               / (m - 1) / nn / nn AS s10,
             ((CAST(sb2_below AS DOUBLE)
               - CAST(sb_below AS DOUBLE) * sb_below / nn)
              / (nn - 1)) / m / m AS s01
      FROM agg
    )
    SELECT m AS n_pos, nn AS n_neg, auc,
           sqrt(s10 / m + s01 / nn) AS se_delong,
           auc - {_Z975!r} * sqrt(s10 / m + s01 / nn) AS ci_lo,
           auc + {_Z975!r} * sqrt(s10 / m + s01 / nn) AS ci_hi
    FROM stats
    """,
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error and 95% CI for the linear-probe AUC — the
    ANALYTIC uncertainty companion to events_value_bootstrap_ci's
    resampling approach (and the industry-standard way to say whether
    two AUCs differ beyond noise). Placement counts come from the same
    total (score, vec_id) order as ml_linear_probe_auc, so this
    query's auc column is bit-identical to that query's: per positive,
    a = negatives ranked strictly below; per negative, b = positives
    ranked strictly below (V01 = 1 − b/m, whose variance equals b's —
    the centering cancels). SE² = S10/m + S01/n with S10/S01 the
    sample variances of the placement fractions (DeLong, DeLong &
    Clarke-Pearson 1988).

    Determinism: placement counts and both raw moments are exact
    BIGINT sums (Σa² ≤ m·n² — switch the two moment columns to
    DECIMAL(38,0) past ~10⁶ rows per class); the variance/SE
    arithmetic is a fixed IEEE op sequence with the z-quantile as a
    precomputed literal; sqrt is correctly rounded.

    Scale: the shared global score sort (one range-partitioned sort of
    doubles), one running-count window over it, one 1-row aggregate —
    the ml_linear_probe_auc plan plus one window column."""
    from pyspark.sql import Window as W

    from .vector_stats import probe_scores

    scored = probe_scores(spark, sf_dir)
    order = W.orderBy("score", "vec_id")
    ranked = scored.select(
        "label",
        F.row_number().over(order).alias("rn"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .over(order)
        .alias("cp"),
    )
    pos, neg = F.col("label") == 0, F.col("label") != 0
    a = F.col("rn") - F.col("cp")
    agg = ranked.agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("m"),
        F.sum(F.when(neg, 1).otherwise(0)).cast("long").alias("nn"),
        F.sum(F.when(pos, a).otherwise(0)).cast("long").alias("sa"),
        F.sum(F.when(pos, a * a).otherwise(0)).cast("long").alias("sa2"),
        F.sum(F.when(neg, F.col("cp")).otherwise(0))
        .cast("long")
        .alias("sb_below"),
        F.sum(F.when(neg, F.col("cp") * F.col("cp")).otherwise(0))
        .cast("long")
        .alias("sb2_below"),
    )
    # try_divide throughout (r13 division audit): a single-class or
    # single-example class (m or nn in {0, 1} — legal on a skewed
    # corpus) zeroes m·nn, m−1, or nn−1 and ANSI would abort; the SE
    # is undefined there => NULL, matching DuckDB's native double
    # division-by-zero NULL. Same op sequence (each / becomes one
    # try_divide), bit-identical on every nonzero denominator.
    auc = F.try_divide(
        F.col("sa").cast("double"), F.col("m") * F.col("nn")
    )
    s10 = F.try_divide(
        F.try_divide(
            F.try_divide(
                F.col("sa2").cast("double")
                - F.try_divide(
                    F.col("sa").cast("double") * F.col("sa"), F.col("m")
                ),
                F.col("m") - 1,
            ),
            F.col("nn"),
        ),
        F.col("nn"),
    )
    s01 = F.try_divide(
        F.try_divide(
            F.try_divide(
                F.col("sb2_below").cast("double")
                - F.try_divide(
                    F.col("sb_below").cast("double") * F.col("sb_below"),
                    F.col("nn"),
                ),
                F.col("nn") - 1,
            ),
            F.col("m"),
        ),
        F.col("m"),
    )
    se = F.sqrt(
        F.try_divide(s10, F.col("m")) + F.try_divide(s01, F.col("nn"))
    )
    return agg.select(
        F.col("m").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        auc.alias("auc"),
        se.alias("se_delong"),
        (auc - F.lit(_Z975) * se).alias("ci_lo"),
        (auc + F.lit(_Z975) * se).alias("ci_hi"),
    )


# --- exact Spearman rank correlation ----------------------------------------


@query(
    "orders_spearman_price_items",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey AS ok, o.o_totalprice AS price,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    ranked AS (
      SELECT ok,
             -- tie-aware average rank, doubled to stay integer:
             -- 2*avg_rank = rank() * 2 + (tie_count - 1)
             CAST(2 * RANK() OVER (ORDER BY price)
                  + COUNT(*) OVER (PARTITION BY price) - 1
                  AS BIGINT) AS rx2,
             CAST(2 * RANK() OVER (ORDER BY n_items)
                  + COUNT(*) OVER (PARTITION BY n_items) - 1
                  AS BIGINT) AS ry2
      FROM per_order
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx2) AS BIGINT) AS sx,
             CAST(SUM(ry2) AS BIGINT) AS sy,
             CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
             CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
             CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
      FROM ranked
    )
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)) AS spearman_rho
    FROM agg
    """,
)
def orders_spearman_price_items(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tie-aware Spearman rank correlation between an order's
    total price and its line-item count — the monotone-association
    audit (does more items ⇒ more revenue, monotonically?) that
    Pearson on raw values gets wrong under heavy tails and the naive
    1 − 6Σd²/n(n²−1) formula gets wrong under ties. Spearman = Pearson
    on tie-averaged ranks; since average ranks live on a half-integer
    grid, both rank columns are DOUBLED (2·avg_rank = 2·rank() +
    tie_count − 1, an identity of the tie group) so every moment is an
    exact BIGINT and the common factor 2 cancels in the correlation.

    Determinism: integer rank moments exact (Σ(2r)² ≤ 4n³ — switch to
    DECIMAL(38,0) past ~10⁶ rows); the rho arithmetic is a fixed IEEE
    sequence (two correctly-rounded sqrts, one division).

    Scale: one co-partitioned orders⋈lineitem count rollup, two
    range-partitioned rank windows over the |orders| frame, one 1-row
    moment aggregate — no pairwise anything (Kendall would be O(n²)
    here; Spearman is the rank-sort-bounded sibling)."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_totalprice").alias("price")
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok")
    )
    per_order = (
        orders.join(li.withColumn("one", F.lit(1)), "ok", "left")
        .groupBy("ok", "price")
        .agg(F.sum(F.coalesce(F.col("one"), F.lit(0)))
             .cast("long").alias("n_items"))
    )
    rx2 = (
        2 * F.rank().over(W.orderBy("price"))
        + F.count(F.lit(1)).over(W.partitionBy("price"))
        - 1
    ).cast("long")
    ry2 = (
        2 * F.rank().over(W.orderBy("n_items"))
        + F.count(F.lit(1)).over(W.partitionBy("n_items"))
        - 1
    ).cast("long")
    ranked = per_order.select(rx2.alias("rx2"), ry2.alias("ry2"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
    )
    num = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    )
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    # try_divide (r13 division audit): a CONSTANT column (every order
    # the same price, or every order one item — legal) zeroes den and
    # ANSI would abort; rho is undefined there => NULL, matching
    # DuckDB's native double division-by-zero NULL.
    return agg.select("n", F.try_divide(num, den).alias("spearman_rho"))
