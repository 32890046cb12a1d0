"""Growth-accounting and journey analytics (round 9): the standard
product-analytics tables a warehouse team layers over an event stream —
per-day growth accounting (new/retained/resurrected/churned), the
peak-concurrency sweep line, the power-user (L28-style) activity curve,
U-shaped position-based attribution, and the customer segment-migration
matrix over the orders timeline.

Not in the reference (no analytics surface there — SURVEY.md §2.1, the
reference is a parquet encryption demo, src/parquet_reader.cpp:92-101);
these extend the events_analytics / pipeline10 / pipeline11 families the
driver mandates as first-class LLM-era warehouse operators.

Determinism conventions (registry.py docstring): day buckets are integer
``ts_us div 86_400_000_000`` (DuckDB ``epoch_us(ts) // ...``); every
count is BIGINT; every double is either a single IEEE division of exact
integers or a DSUM fold; top-k/matrix orderings carry unique tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DAY_US, DSUM_SQL, EPOCH_US_SQL, dsum, query
from ..tables import load
from .pipeline10 import ATTR_WINDOW_US

# U-shaped (position-based) attribution weights, written as literals so
# both engines parse identical doubles: 40% first touch, 40% last touch,
# 20% spread over the middle touches.
_POS_FIRST = "0.4"
_POS_LAST = "0.4"
_POS_MID = "0.2"


@query(
    "events_growth_accounting",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ),
    mx AS (SELECT MAX(day) AS max_day FROM act),
    seq AS (
      SELECT user_id, day,
             LAG(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev,
             LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      FROM act
    ),
    flags AS (
      SELECT day,
             CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             CAST(0 AS BIGINT) AS n_churned
      FROM seq GROUP BY day
      UNION ALL
      SELECT day + 1, 0, 0, 0, CAST(COUNT(*) AS BIGINT)
      FROM seq CROSS JOIN mx
      WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= max_day
      GROUP BY day + 1
    )
    SELECT day,
           CAST(SUM(n_new) AS BIGINT) AS n_new,
           CAST(SUM(n_retained) AS BIGINT) AS n_retained,
           CAST(SUM(n_resurrected) AS BIGINT) AS n_resurrected,
           CAST(SUM(n_churned) AS BIGINT) AS n_churned,
           CASE WHEN SUM(n_churned) = 0 THEN NULL
                ELSE CAST(SUM(n_new) + SUM(n_resurrected) AS DOUBLE)
                     / SUM(n_churned)
           END AS quick_ratio
    FROM flags GROUP BY day ORDER BY day
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day growth accounting (the Social-Capital framework every
    growth team reports): each active (user, day) is NEW (first day
    ever), RETAINED (also active yesterday) or RESURRECTED (returning
    after a gap); a user active on day d but not d+1 is CHURNED on d+1.
    The quick ratio (new + resurrected) / churned > 1 means the DAU
    line grows. Churn days past the corpus end are censored (no day
    max_day + 1 row).

    Scale: one distinct over (user, day) — the same shuffle key the
    retention/stickiness family uses — then lag/lead in ONE user-
    partitioned window pass (no self-join); both day-grain rollups are
    map-side combinable. The corpus-end scalar rides a 1-row broadcast.
    State per user is one row per ACTIVE day, never a dense calendar.
    """
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr(f"ts_us div {DAY_US}").alias("day"))
        .distinct()
    )
    mx = act.agg(F.max("day").alias("max_day"))
    w = W.partitionBy("user_id").orderBy("day")
    seq = act.select(
        "day",
        F.lag("day").over(w).alias("prev"),
        F.lead("day").over(w).alias("nxt"),
    )
    zero = F.lit(0).cast("long")
    flags = seq.groupBy("day").agg(
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("prev") == F.col("day") - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") < F.col("day") - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
        zero.alias("n_churned"),
    )
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("day") + 1))
            & (F.col("day") + 1 <= F.col("max_day"))
        )
        .groupBy((F.col("day") + 1).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
        .select("day", zero.alias("n_new"), zero.alias("n_retained"),
                zero.alias("n_resurrected"), "n_churned")
    )
    both = flags.select(
        "day", "n_new", "n_retained", "n_resurrected", "n_churned"
    ).unionByName(churn)
    agg = both.groupBy("day").agg(
        F.sum("n_new").cast("long").alias("n_new"),
        F.sum("n_retained").cast("long").alias("n_retained"),
        F.sum("n_resurrected").cast("long").alias("n_resurrected"),
        F.sum("n_churned").cast("long").alias("n_churned"),
    )
    quick = F.when(F.col("n_churned") == 0, F.lit(None).cast("double")).otherwise(
        (F.col("n_new") + F.col("n_resurrected")).cast("double")
        / F.col("n_churned")
    )
    return agg.select(
        "day", "n_new", "n_retained", "n_resurrected", "n_churned",
        quick.alias("quick_ratio"),
    ).orderBy("day")


@query(
    "events_concurrency_peak",
    oracle=f"""
    WITH span AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day,
             MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      FROM events GROUP BY user_id, day
    ),
    delta AS (
      SELECT day, s AS t, 1 AS d FROM span
      UNION ALL
      SELECT day, e + 1, -1 FROM span
    ),
    per_t AS (
      SELECT day, t, CAST(SUM(d) AS BIGINT) AS dd
      FROM delta GROUP BY day, t
    ),
    run AS (
      SELECT day, t,
             SUM(dd) OVER (PARTITION BY day ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS conc
      FROM per_t
    ),
    ranked AS (
      SELECT day, t, conc,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY conc DESC, t) AS rn
      FROM run
    )
    SELECT day, CAST(conc AS BIGINT) AS peak_concurrent,
           CAST(t AS BIGINT) AS at_us
    FROM ranked WHERE rn = 1 ORDER BY day
    """,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day by the classic sweep-line: each
    user's daily presence is the [first event, last event] interval;
    +1/-1 deltas at interval ends, summed per instant, running-summed
    in time order — the maximum of the running sum is the day's peak
    concurrency and the earliest instant achieving it is reported (the
    capacity-planning number a serving team sizes against).

    Determinism: deltas are aggregated PER INSTANT before the running
    sum, so tie order within an instant is irrelevant; the peak instant
    tie-breaks to the earliest t via (conc DESC, t) ranking.

    Scale: the interval build is one (user, day) aggregate; the sweep
    is one day-partitioned sort over at most 2 points per active
    (user, day) — day partitions are independent, so the window
    parallelizes across the calendar instead of one global sort. No
    interval self-join (the naive concurrent-users query is O(n²))."""
    span = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.expr(f"ts_us div {DAY_US}").alias("day"))
        .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"))
    )
    delta = span.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        span.select("day", (F.col("e") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    per_t = delta.groupBy("day", "t").agg(
        F.sum("d").cast("long").alias("dd")
    )
    w_run = (
        W.partitionBy("day")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = per_t.select("day", "t", F.sum("dd").over(w_run).alias("conc"))
    w_rank = W.partitionBy("day").orderBy(F.desc("conc"), "t")
    return (
        run.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            F.col("conc").cast("long").alias("peak_concurrent"),
            F.col("t").cast("long").alias("at_us"),
        )
        .orderBy("day")
    )


@query(
    "events_power_user_curve",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ),
    per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
      FROM act GROUP BY user_id
    ),
    hist AS (
      SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user GROUP BY active_days
    )
    SELECT active_days, n_users,
           CAST(n_users AS DOUBLE) / SUM(n_users) OVER () AS share_users,
           CAST(SUM(n_users) OVER (ORDER BY active_days DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT)
             AS users_at_least
    FROM hist ORDER BY active_days
    """,
)
def events_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The power-user curve (the "L28" histogram, over the whole
    corpus): how many users were active on exactly k distinct days,
    each bucket's share, and the survival form (users active on AT
    LEAST k days — the cumulative sum from the engaged end). A healthy
    product shows a smile (mass at both ends); a leaky one is all
    left-hump — this is the one-look engagement diagnostic.

    Scale: distinct (user, day) then two GROUP BYs — every stage is
    map-side combinable and the histogram frame is at most
    |distinct days| rows, so the windows in the final SELECT run on a
    tiny frame regardless of corpus size."""
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr(f"ts_us div {DAY_US}").alias("day"))
        .distinct()
    )
    per_user = act.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("active_days")
    )
    hist = per_user.groupBy("active_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_ge = W.orderBy(F.desc("active_days")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return hist.select(
        "active_days",
        "n_users",
        (F.col("n_users").cast("double") / F.sum("n_users").over(w_all)).alias(
            "share_users"
        ),
        F.sum("n_users").over(w_ge).cast("long").alias("users_at_least"),
    ).orderBy("active_days")


@query(
    "events_attribution_position",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS pid, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS tid, event_type, epoch_us(ts) AS tt
      FROM events WHERE event_type <> 'purchase'
    ),
    touch AS (
      SELECT p.pid, t.tid, t.event_type, t.tt
      FROM p JOIN t ON t.user_id = p.user_id
                   AND t.tt < p.pt AND t.tt >= p.pt - {ATTR_WINDOW_US}
    ),
    pos AS (
      SELECT pid, event_type,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tt, tid) AS rn,
             COUNT(*) OVER (PARTITION BY pid) AS n
      FROM touch
    ),
    credit AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN rn = 1 THEN {_POS_FIRST}
                  WHEN rn = n THEN {_POS_LAST}
                  ELSE {_POS_MID} / (n - 2)
             END AS w
      FROM pos
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           {DSUM_SQL.format(expr="w")} AS credit
    FROM credit GROUP BY event_type ORDER BY channel
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the third
    standard model next to events_attribution_last_touch and
    events_attribution_linear: the FIRST touch before a purchase gets
    40%, the LAST gets 40%, the middle touches split 20%. Journeys of
    one or two touches degrade to 100% / 50-50. Per-purchase credit
    sums to exactly 1, so total credit equals attributed purchases
    (conservation, test-pinned against the linear model's total).

    Determinism: touch order within a journey is (tt, tid) — unique;
    every weight is a CASE over exact integers with literal doubles
    shared by both engines; the channel rollup is a DSUM.

    Scale: same per-user bounded RANGE join as the sibling models (the
    as-of family shape), then ONE pid-partitioned window for position
    rank and journey length together — no per-journey collect, no
    second join back."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts_us").alias("pt")
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("tid"),
        "event_type",
        F.col("ts_us").alias("tt"),
    )
    touch = p.join(t, "user_id").filter(
        (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - ATTR_WINDOW_US)
    )
    w_pos = W.partitionBy("pid").orderBy("tt", "tid")
    w_n = W.partitionBy("pid")
    pos = touch.select(
        "event_type",
        F.row_number().over(w_pos).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    w = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("rn") == 1, F.expr(_POS_FIRST))
        .when(F.col("rn") == F.col("n"), F.expr(_POS_LAST))
        .otherwise(F.expr(_POS_MID) / (F.col("n") - 2))
    )
    return (
        pos.select("event_type", w.alias("w"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            dsum(F.col("w")).alias("credit"),
        )
        .orderBy("channel")
    )


# --- bloom prefilter for incremental dedup ---------------------------------
# Bloom geometry: M bits (power of two), K Knuth multiplicative hashes.
# The doc fingerprint is the shared md5-prefix BIGINT (dedup.py); it
# is folded to < 2^31 before multiplying so fp*h stays under int64 in
# BOTH engines (DuckDB errors on BIGINT overflow; Spark would wrap).
_BLOOM_M = 4096
_BLOOM_HASHES = (2654435761, 2246822519, 3266489917)
_FP_SQL = "CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)"


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {_FP_SQL} AS fp,
             ((doc_id % {65_536}) * {2_654_435_761}) % {65_536}
               < {13_107} AS is_batch
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM fp WHERE NOT is_batch),
    hbits AS (
      SELECT DISTINCT ((fp % {1 << 31}) * h) % {1 << 32}
               % {_BLOOM_M} AS bit
      FROM hist CROSS JOIN (SELECT unnest([{
          ", ".join(str(h) for h in _BLOOM_HASHES)
      }]) AS h)
    ),
    probe AS (
      SELECT doc_id, fp,
             ((fp % {1 << 31}) * h) % {1 << 32} % {_BLOOM_M} AS bit
      FROM fp CROSS JOIN (SELECT unnest([{
          ", ".join(str(h) for h in _BLOOM_HASHES)
      }]) AS h)
      WHERE is_batch
    ),
    hits AS (
      SELECT p.doc_id, p.fp,
             CAST(COUNT(hb.bit) AS BIGINT) AS n_set
      FROM probe p LEFT JOIN hbits hb ON hb.bit = p.bit
      GROUP BY p.doc_id, p.fp
    ),
    verdict AS (
      SELECT h.doc_id,
             h.n_set = {len(_BLOOM_HASHES)} AS bloom_hit,
             EXISTS (SELECT 1 FROM hist WHERE hist.fp = h.fp) AS is_dup
      FROM hits h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_hits,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS true_dups,
           CAST(SUM(CASE WHEN bloom_hit AND NOT is_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(SUM(CASE WHEN bloom_hit AND NOT is_dup THEN 1 ELSE 0 END)
                AS DOUBLE)
             / SUM(CASE WHEN NOT is_dup THEN 1 ELSE 0 END) AS fp_rate,
           CAST((SELECT COUNT(*) FROM hbits) AS BIGINT) AS bits_set
    FROM verdict
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for incremental exact dedup: the settled
    history's fingerprints (the shared md5-prefix BIGINT, the
    dedup_exact key) are folded into an M=4096-bit bloom under 3 Knuth
    multiplicative hashes; the 20%% ingest batch (the shared Knuth
    doc_id split of dedup_incremental) probes the bloom BEFORE paying
    the exact anti-join. Reported: batch size, bloom hits, true dups,
    false positives, the measured FP rate, and bloom occupancy — the
    numbers that size M against the history cardinality. No false
    negatives by construction (every true dup hits), so the exact join
    only needs to run on the bloom-hit slice — at 100 TB that is the
    difference between anti-joining the full batch against history and
    anti-joining a few percent of it.

    Determinism: fingerprints and bit positions are exact integer
    arithmetic (fp folded < 2^31 so fp·h stays in int64 in both
    engines); every output is a count or one double division.

    Scale: history bits are a ≤M-row DISTINCT (map-side combinable —
    the bloom itself is metadata-sized, broadcastable); the probe is a
    3×-exploded batch joined against that tiny bit set; the truth check
    is the fingerprint-key join dedup_incremental already pays. Nothing
    scans history twice."""
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("fp"),
        (
            ((F.col("doc_id") % 65_536) * F.lit(2_654_435_761)) % 65_536
            < 13_107
        ).alias("is_batch"),
    )
    hist = fp.filter(~F.col("is_batch")).select("fp").distinct()
    hashes = F.array(*[F.lit(h) for h in _BLOOM_HASHES])
    bit = lambda: (  # noqa: E731
        ((F.col("fp") % (1 << 31)) * F.col("h")) % (1 << 32) % _BLOOM_M
    ).alias("bit")
    hbits = (
        hist.select("fp", F.explode(hashes).alias("h"))
        .select(bit())
        .distinct()
    )
    probe = (
        fp.filter(F.col("is_batch"))
        .select("doc_id", "fp", F.explode(hashes).alias("h"))
        .select("doc_id", "fp", bit())
    )
    hits = (
        probe.join(
            F.broadcast(hbits.withColumn("set1", F.lit(1))), "bit", "left"
        )
        .groupBy("doc_id", "fp")
        .agg(F.count("set1").cast("long").alias("n_set"))
    )
    dup = hist.withColumn("dup1", F.lit(1))
    verdict = hits.join(F.broadcast(dup), "fp", "left").select(
        "doc_id",
        (F.col("n_set") == len(_BLOOM_HASHES)).alias("bloom_hit"),
        F.col("dup1").isNotNull().alias("is_dup"),
    )
    n_bits = hbits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        verdict.agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("long")
            .alias("bloom_hits"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("true_dups"),
            F.sum(
                F.when(F.col("bloom_hit") & ~F.col("is_dup"), 1).otherwise(0)
            )
            .cast("long")
            .alias("false_positives"),
            (
                F.sum(
                    F.when(
                        F.col("bloom_hit") & ~F.col("is_dup"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_batch", "bloom_hits", "true_dups", "false_positives",
            "fp_rate", "bits_set",
        )
    )


@query(
    "ivm_delta_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) AS sum_revenue,
           MAX(o.o_totalprice) AS max_order
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def ivm_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the sibling of
    ivm_merge_agg's pure-aggregate case): the materialized
    revenue-by-segment rollup over orders ⋈ customer absorbs a delta
    batch (odd orderkeys) by joining ONLY the delta against the
    dimension and algebraically merging the two segment-grain partials
    — count adds, decimal sums add, max takes max. The oracle is the
    full recompute, so the equality IS the delta-correctness proof
    (foreign keys are append-only here; dimension updates would go
    through the SCD2 path instead).

    Scale: the delta join is a broadcast hash join against the
    dimension (never re-reading base facts); both partials are
    segment-grain frames, so the merge cost is O(|segments|) no matter
    how big history is — the property that lets a 100 TB rollup absorb
    a partition in seconds."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cust), "o_custkey")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias(
                    "s"
                ),
                F.max("o_totalprice").alias("mx"),
            )
        )

    base = partial(orders.filter(F.col("o_orderkey") % 2 == 0))
    delta = partial(orders.filter(F.col("o_orderkey") % 2 == 1))
    return (
        base.unionByName(delta)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("s").cast("double").alias("sum_revenue"),
            F.max("mx").alias("max_order"),
        )
        .orderBy("segment")
    )


_MIG_TILES = 3  # spend terciles: 1 = top third, 3 = bottom third


@query(
    "orders_customer_migration_matrix",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey,
             epoch_us(o_orderdate) // {DAY_US} AS day,
             CAST(o_totalprice AS DECIMAL(38,10)) AS price
      FROM orders
    ),
    bounds AS (
      SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d
    ),
    halves AS (
      SELECT o_custkey, day >= mid AS h2, SUM(price) AS spend
      FROM d CROSS JOIN bounds GROUP BY o_custkey, day >= mid
    ),
    seg AS (
      SELECT o_custkey, h2,
             CAST(NTILE({_MIG_TILES})
                  OVER (PARTITION BY h2
                        ORDER BY spend DESC, o_custkey) AS BIGINT) AS tile
      FROM halves
    ),
    mat AS (
      SELECT COALESCE(a.o_custkey, b.o_custkey) AS ck,
             COALESCE(a.tile, 0) AS seg_h1,
             COALESCE(b.tile, 0) AS seg_h2
      FROM (SELECT * FROM seg WHERE NOT h2) a
      FULL OUTER JOIN (SELECT * FROM seg WHERE h2) b
        ON a.o_custkey = b.o_custkey
    )
    SELECT seg_h1, seg_h2, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM mat GROUP BY seg_h1, seg_h2 ORDER BY seg_h1, seg_h2
    """,
)
def orders_customer_migration_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer value-segment migration: split the orders timeline at
    its midpoint, rank each half's customers into spend terciles
    (1 = top), and count the (first-half segment, second-half segment)
    transition matrix — segment 0 means absent from that half (lapsed
    or newly acquired). This is the retention-marketing artifact that
    shows whether top-tercile customers HOLD tier or decay, and where
    new customers enter.

    Determinism: spend is an exact DECIMAL(38,10) sum (used only for
    ORDERING — never emitted); tercile ties break by custkey; the
    matrix is pure integer counts.

    Scale: one (custkey, half) aggregate, one NTILE sort per half
    (2 partitions of |customers| rows — at production scale the exact
    NTILE swaps for quantile cut-points from a histogram, same
    downstream shape), and a custkey-hash full-outer self-join. The
    matrix frame is at most 16 rows."""
    d = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}").alias(
            "day"
        ),
        F.col("o_totalprice").cast("decimal(38,10)").alias("price"),
    )
    bounds = d.agg(
        F.expr("(min(day) + max(day)) div 2").alias("mid")
    )
    halves = (
        d.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey", (F.col("day") >= F.col("mid")).alias("h2"))
        .agg(F.sum("price").alias("spend"))
    )
    w_tile = W.partitionBy("h2").orderBy(F.desc("spend"), "o_custkey")
    seg = halves.select(
        "o_custkey", "h2", F.ntile(_MIG_TILES).over(w_tile).cast("long").alias("tile")
    )
    a = seg.filter(~F.col("h2")).select(
        F.col("o_custkey").alias("ck_a"), F.col("tile").alias("tile_a")
    )
    b = seg.filter(F.col("h2")).select(
        F.col("o_custkey").alias("ck_b"), F.col("tile").alias("tile_b")
    )
    mat = a.join(b, a["ck_a"] == b["ck_b"], "full_outer").select(
        F.coalesce(F.col("tile_a"), F.lit(0)).cast("long").alias("seg_h1"),
        F.coalesce(F.col("tile_b"), F.lit(0)).cast("long").alias("seg_h2"),
    )
    return (
        mat.groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("seg_h1", "seg_h2")
    )


# ABC inventory classification cut points (cumulative revenue share)
_ABC_A = "0.80"
_ABC_B = "0.95"


@query(
    "orders_abc_class",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,10))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM rev
    ),
    classed AS (
      SELECT CASE
               WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(t AS VARCHAR) AS DOUBLE) <= {_ABC_A}
                 THEN 'A'
               WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(t AS VARCHAR) AS DOUBLE) <= {_ABC_B}
                 THEN 'B'
               ELSE 'C'
             END AS abc_class,
             r
      FROM ranked CROSS JOIN tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def orders_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification over part revenue: parts
    ranked by discounted revenue, class A while the running revenue
    share stays ≤ {_ABC_A}, B to {_ABC_B}, C after — the standard
    80/15/5 working-capital split (profile_pareto_revenue shows the
    top-10 concentration; this assigns EVERY part its class and sizes
    the classes). Per class: part count and exact class revenue.

    Determinism: per-part revenue is an exact DECIMAL(38,10) sum, so
    the (r DESC, partkey) rank and the RUNNING decimal sum are
    engine-identical; the share comparison divides two
    VARCHAR-roundtripped doubles (the DSUM convention) against literal
    cut points.

    Scale: one partkey aggregate, ONE global sort of |parts| decimal
    rows for the running share (at production scale the cut points
    come off a revenue histogram instead — same downstream classing),
    and a 3-row final rollup."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,10)"
            )
        ).alias("r")
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w_cum = W.orderBy(F.desc("r"), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = rev.select("l_partkey", "r", F.sum("r").over(w_cum).alias("cum"))
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(share <= F.expr(_ABC_A), "A")
        .when(share <= F.expr(_ABC_B), "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


_KFOLD = 5
_KF_HASH = 2_654_435_761
_KF_MOD = 65_536


@query(
    "sample_kfold_assignment",
    oracle=f"""
    WITH folds AS (
      SELECT ((doc_id % {_KF_MOD}) * {_KF_HASH}) % {_KF_MOD} % {_KFOLD}
               AS fold,
             lang, len(string_split(text, ' ')) AS n_toks
      FROM documents
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER () AS share_docs
    FROM folds GROUP BY fold ORDER BY fold
    """,
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split audit: every document lands in one of
    {_KFOLD} folds by the SAME Knuth multiplicative hash family the
    incremental-batch split uses (no RNG, no shuffle state — the fold
    is a pure function of doc_id, so any worker, any engine, any rerun
    agrees). Reported per fold: document and token volume, language
    coverage, and document share — the balance check run before
    cross-validating a filter model; a skewed fold invalidates the CV
    variance estimate.

    Scale: the fold id is map-side arithmetic; one {_KFOLD}-key
    aggregate with map-side combine; the share window runs on the
    {_KFOLD}-row frame. sample_group_holdout_split is the
    leakage-aware sibling (groups, not uniform hash)."""
    docs = load(spark, sf_dir, "documents")
    folds = docs.select(
        (
            ((F.col("doc_id") % _KF_MOD) * F.lit(_KF_HASH)) % _KF_MOD % _KFOLD
        ).alias("fold"),
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        folds.groupBy(F.col("fold").cast("long").alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            "fold",
            "n_docs",
            "n_tokens",
            "n_langs",
            (
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all)
            ).alias("share_docs"),
        )
        .orderBy("fold")
    )
