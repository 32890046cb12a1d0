"""Round-10 widening: deterministic mode, distribution-position window
functions, exact-integer graph modularity, the Zipf rank×frequency
constancy table, and a day-grain Pareto frontier.

Not in the reference (its only query capability is selective column
decryption — SURVEY.md §2.1); these extend the relational / graph /
text-analysis families. Every construction is transcendental-free (the
module convention: no ln/exp/pow in gated values — integer counts,
exact decimal sums, and IEEE divisions of exactly-representable
integers only), so the DuckDB oracles are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import query
from ..tables import load


@query(
    "q73_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    t AS (SELECT o_orderstatus, SUM(n) AS total FROM c
          GROUP BY o_orderstatus),
    r AS (
      SELECT c.*, t.total, ROW_NUMBER() OVER (
               PARTITION BY c.o_orderstatus
               ORDER BY c.n DESC, c.o_orderpriority) AS rn
      FROM c JOIN t USING (o_orderstatus)
    )
    SELECT o_orderstatus, o_orderpriority AS modal_priority, n AS n_orders,
           CAST(n AS DOUBLE) / CAST(total AS BIGINT) AS share
    FROM r WHERE rn = 1 ORDER BY o_orderstatus
    """,
)
def q73_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a pinned tiebreak: the most frequent order
    priority per order status, plus its share of the group. Neither
    engine's built-in mode() documents tie resolution, so the mode is
    constructed explicitly — count per value, rank by (count DESC,
    value ASC) — making the answer deterministic under ties in BOTH
    engines (the same reason the repo's medians use rank-select).

    Scale: one (status, priority) rollup — tiny key space — then a
    window over ≤ |statuses|·|priorities| rows. Map-side combinable;
    no per-row window ever touches the fact table."""
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = c.groupBy("o_orderstatus").agg(F.sum("n").cast("long").alias("total"))
    r = c.join(t, "o_orderstatus").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("o_orderstatus").orderBy(
                F.desc("n"), "o_orderpriority"
            )
        ),
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q74_percent_rank_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """,
)
def q74_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window functions: PERCENT_RANK (relative
    rank in [0,1]) and CUME_DIST (fraction of peers ≤ this row) of
    each order's price within its priority class — the two rank-family
    members the registry had not yet exercised. Both are exact
    rationals of integer ranks/counts, so ties produce the identical
    value in both engines and no tiebreak is needed inside the frame
    (the OUTPUT ordering still carries the o_orderkey tiebreak).

    Scale: one shuffle on the partition key, one in-partition sort —
    the standard window discipline; the custkey slice bounds the gated
    output, not the plan shape."""
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            "o_totalprice",
        )
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
        .drop("o_totalprice")
    )


@query(
    "graph_modularity_brands",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l1.l_orderkey AS ok, l1.l_partkey AS a,
             l2.l_partkey AS b
      FROM lineitem l1
      JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
    ),
    adj AS (
      SELECT a AS v, b AS nbr FROM edges
      UNION ALL
      SELECT b AS v, a AS nbr FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    dc AS (
      SELECT p.p_brand AS brand, CAST(SUM(deg.d) AS BIGINT) AS degree_sum
      FROM deg JOIN part p ON p.p_partkey = deg.v
      GROUP BY p.p_brand
    ),
    mc AS (
      SELECT pa.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS m_within
      FROM edges e
      JOIN part pa ON pa.p_partkey = e.a
      JOIN part pb ON pb.p_partkey = e.b
      WHERE pa.p_brand = pb.p_brand
      GROUP BY pa.p_brand
    )
    SELECT dc.brand, COALESCE(mc.m_within, 0) AS m_within,
           dc.degree_sum,
           CAST(COALESCE(mc.m_within, 0) AS DOUBLE) / m.m
             - (CAST(dc.degree_sum AS DOUBLE) / (2 * m.m))
               * (CAST(dc.degree_sum AS DOUBLE) / (2 * m.m))
             AS contribution
    FROM dc LEFT JOIN mc ON mc.brand = dc.brand CROSS JOIN m
    ORDER BY dc.brand
    """,
)
def graph_modularity_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition on the co-purchase
    graph, reported per community: Q = Σ_c [m_c/m − (d_c/2m)²] where
    m_c = within-community edges, d_c = community degree sum, m = total
    edges. A near-zero (or negative) sum says brands do NOT form
    purchase communities; a large positive sum would justify
    partitioning downstream mining by brand. Every term is a ratio of
    exact integers (the counts), converted to double once and combined
    with the identical IEEE expression in both engines — no pow(), the
    square is written as x·x.

    Lazy, one aggregation: each edge looks up both endpoint brands
    (LEFT joins to one broadcast of the part dim) and emits two
    endpoint rows, (brand_a, within) and (brand_b, 0), so ONE groupBy
    over brand gives d_c (row count) and m_c (Σ within) together. m is
    Σ d_c / 2 over every group — including the group of endpoints with
    no part row, which the output then drops — taken by an
    unpartitioned window over those ≤ |brands|+2 rows, so it equals
    the oracle's COUNT(*) over the edges. The edge list therefore has
    a single consumer: the basket-pair generation runs once with no
    checkpoint (battery14 first measured 13.5× at 10× data when three
    consumers each replayed it).

    Scale: one copurchase_edges derivation (basket-bounded pair
    generation, ONE pair shuffle), two broadcast lookups sharing one
    broadcast exchange, one partial-aggregated brand rollup, then a
    single-partition window over ≤ |brands|+2 rows. Adding the
    contributions gives Q with zero extra passes."""
    from .graph import copurchase_edges

    part = load(spark, sf_dir, "part")

    def lookup(end: str) -> DataFrame:
        # known marks a matched part row, so a part whose brand is NULL
        # stays a community (as in the oracle's inner join) while an
        # endpoint with no part row only counts towards m
        return F.broadcast(
            part.select(
                F.col("p_partkey").alias(end),
                F.col("p_brand").alias(f"b{end}"),
                F.lit(True).alias(f"k{end}"),
            )
        )

    ends = (
        copurchase_edges(spark, sf_dir)
        .join(lookup("a"), "a", "left")
        .join(lookup("b"), "b", "left")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("ka").alias("known"),
                        F.col("ba").alias("brand"),
                        F.when(F.col("ba") == F.col("bb"), 1)
                        .otherwise(0)
                        .alias("within"),
                    ),
                    F.struct(
                        F.col("kb").alias("known"),
                        F.col("bb").alias("brand"),
                        F.lit(0).alias("within"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
    )
    comm = ends.groupBy("known", "brand").agg(
        F.count(F.lit(1)).cast("long").alias("degree_sum"),
        F.sum("within").cast("long").alias("m_within"),
    )
    m = F.sum("degree_sum").over(W.partitionBy()) / 2
    dd = F.col("degree_sum").cast("double") / (2 * F.col("m"))
    return (
        comm.withColumn("m", m.cast("long"))
        .filter(F.col("known").isNotNull())
        .select(
            "brand",
            "m_within",
            "degree_sum",
            (F.col("m_within").cast("double") / F.col("m") - dd * dd).alias(
                "contribution"
            ),
        )
        .orderBy("brand")
    )


_ZIPF_TOPK = 20


@query(
    "text_zipf_constancy",
    oracle=f"""
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, freq FROM tf
      ORDER BY freq DESC, tok LIMIT {_ZIPF_TOPK}
    ),
    ranked AS (
      SELECT tok, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
      FROM top
    ),
    f1 AS (SELECT MAX(freq) AS f1 FROM top)
    SELECT rank, tok, freq, rank * freq AS rank_x_freq,
           CAST(rank * freq AS DOUBLE) / f1.f1 AS constancy
    FROM ranked CROSS JOIN f1
    ORDER BY rank
    """,
)
def text_zipf_constancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law constancy table, log-free: for the top-20 corpus
    terms, rank·frequency and its ratio to the top term's frequency —
    under Zipf (freq ∝ 1/rank) the constancy column sits near 1.0; a
    fast decay flags a head-heavy vocabulary (boilerplate, templated
    text), a slow one a flat unnatural distribution. The usual log-log
    OLS slope needs ln() (cross-engine transcendental drift — the
    module convention avoids it); rank·freq is the same diagnostic in
    exact integers.

    Scale: one token-frequency rollup (map-side combinable explode),
    then TakeOrderedAndProject to 20 rows — the rank window and the
    f1 broadcast touch only those 20 rows, no global window over the
    vocabulary."""
    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "tok").limit(_ZIPF_TOPK)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy().orderBy(F.desc("freq"), "tok")
        ).cast("long"),
    )
    f1 = top.agg(F.max("freq").alias("f1"))
    return (
        ranked.crossJoin(F.broadcast(f1))
        .select(
            "rank",
            "tok",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rank_x_freq"),
            (
                (F.col("rank") * F.col("freq")).cast("double") / F.col("f1")
            ).alias("constancy"),
        )
        .orderBy("rank")
    )


@query(
    "orders_pareto_frontier",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day, MAX(o_totalprice) AS best_price,
             CAST(MIN(CASE WHEN o_totalprice = m THEN o_orderkey END)
                  AS BIGINT) AS best_orderkey
      FROM (
        SELECT o_orderdate, o_totalprice, o_orderkey,
               MAX(o_totalprice) OVER (PARTITION BY o_orderdate) AS m
        FROM orders
      ) GROUP BY o_orderdate
    ),
    run AS (
      SELECT day, best_price, best_orderkey,
             MAX(best_price) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_best
      FROM daily
    )
    SELECT day, best_orderkey, best_price
    FROM run WHERE prev_best IS NULL OR best_price > prev_best
    ORDER BY day
    """,
)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of (earliest order date, highest
    price): the orders not strictly dominated on both axes — each
    frontier row is a day whose best price beats EVERY earlier day's.
    Skylines are the classic "operator relational engines lack";
    reduced to day grain the frontier is one running-max window: a day
    survives iff its best price exceeds the prefix max. Per-day argmax
    carries the (max price, min orderkey) tiebreak so ties are pinned.

    Scale: one day-grain rollup (map-side combinable) collapses the
    fact table to |days| rows; the running max is a single ordered
    pass over that day frame — the frontier never sorts raw orders
    globally."""
    orders = load(spark, sf_dir, "orders")
    wd = W.partitionBy("o_orderdate")
    daily = (
        orders.select(
            F.col("o_orderdate").alias("day"),
            "o_totalprice",
            "o_orderkey",
            F.max("o_totalprice").over(wd).alias("m"),
        )
        .groupBy("day")
        .agg(
            F.max("o_totalprice").alias("best_price"),
            F.min(
                F.when(F.col("o_totalprice") == F.col("m"), F.col("o_orderkey"))
            ).cast("long").alias("best_orderkey"),
        )
    )
    run = daily.withColumn(
        "prev_best",
        F.max("best_price").over(
            W.partitionBy().orderBy("day")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    return (
        run.filter(
            F.col("prev_best").isNull()
            | (F.col("best_price") > F.col("prev_best"))
        )
        .select("day", "best_orderkey", "best_price")
        .orderBy("day")
    )


_COV_BUCKETS = 16  # hash-range buckets: map-side, no global NTILE sort


@query(
    "sample_coverage_curve",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS fp,
             md5(CAST(doc_id AS VARCHAR) || ':cov') AS h
      FROM documents
    ),
    marked AS (
      SELECT *,
             CAST(concat('0x', substr(h, 1, 1)) AS INT) AS bucket,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY fp ORDER BY h, doc_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM d
    ),
    per_b AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(is_first) AS BIGINT) AS new_fingerprints
      FROM marked GROUP BY bucket
    )
    SELECT bucket, n_docs, new_fingerprints,
           CAST(SUM(new_fingerprints) OVER (
                  ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_fingerprints,
           CAST((1000000 * SUM(new_fingerprints) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                // (SELECT COUNT(DISTINCT fp) FROM d) AS BIGINT)
             AS coverage_ppm
    FROM per_b ORDER BY bucket
    """,
)
def sample_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling coverage curve: take documents in a deterministic
    salted-hash order (a fixed 'random' shuffle both engines agree
    on), split that order into 16 HASH-RANGE buckets, and report how
    many NEW distinct content fingerprints each tranche contributes
    and the cumulative coverage in exact ppm — the curve that says how
    much of the corpus's unique content a p% sample captures (dedup's
    dual: steep early coverage means heavy duplication in the tail).

    The bucket is the hash's first hex nibble — a MAP-SIDE range split
    of the same order the curve walks, where the textbook NTILE(n)
    would force a single-partition global sort of the corpus.
    First-occurrence marking partitions by fingerprint (the dedup
    shuffle); the rollup and running sum touch 16 rows.

    Scale: one fingerprint-partition window (the exact-dedup shuffle
    shape) + one 16-key rollup; integers throughout."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cov"))).alias(
            "h"
        ),
    )
    marked = d.select(
        "doc_id",
        "fp",
        "h",
        F.conv(F.substring("h", 1, 1), 16, 10).cast("int").alias("bucket"),
        F.when(
            F.row_number().over(
                W.partitionBy("fp").orderBy("h", "doc_id")
            )
            == 1,
            1,
        )
        .otherwise(0)
        .alias("is_first"),
    )
    per_b = marked.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_first").cast("long").alias("new_fingerprints"),
    )
    total = d.agg(F.countDistinct("fp").alias("tot"))
    w_run = W.partitionBy().orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        per_b.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_docs",
            "new_fingerprints",
            F.sum("new_fingerprints").over(w_run).cast("long").alias(
                "cum_fingerprints"
            ),
            F.expr(
                "1000000 * sum(new_fingerprints) over ("
                "order by bucket rows between unbounded preceding "
                "and current row) div tot"
            )
            .cast("long")
            .alias("coverage_ppm"),
        )
        .orderBy("bucket")
    )


@query(
    "dq_functional_dependency",
    oracle="""
    WITH pairs AS (
      SELECT 'source->lang' AS fd, source AS x, lang AS y,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
      UNION ALL
      SELECT 'lang->source' AS fd, lang AS x, source AS y,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    per_x AS (
      SELECT fd, x, CAST(COUNT(*) AS BIGINT) AS n_y,
             CAST(SUM(n) AS BIGINT) AS rows_total,
             CAST(MAX(n) AS BIGINT) AS rows_majority
      FROM pairs GROUP BY fd, x
    )
    SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(SUM(rows_total) AS BIGINT) AS n_rows,
           CAST(SUM(rows_total - rows_majority) AS BIGINT)
             AS min_repair_rows
    FROM per_x GROUP BY fd ORDER BY fd
    """,
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD X→Y
    (source→lang and lang→source on the document corpus), the number
    of X keys that map to MORE than one Y (violations) and the minimum
    rows that must be repaired for the FD to hold (rows outside each
    key's majority Y — the exact deletion-repair cost from the FD
    literature). A clean source→lang says routing/labeling is
    consistent; a dirty one quantifies exactly how much. Complements
    dq_uniqueness_audit (key cardinality) with CROSS-field structure.

    Scale: one (x, y) rollup per FD direction (map-side combinable,
    both directions in the same shuffle stage), then a |keys|-row
    rollup; integers only."""
    docs = load(spark, sf_dir, "documents")

    def side(fd: str, x: str, y: str) -> DataFrame:
        return (
            docs.groupBy(
                F.lit(fd).alias("fd"),
                F.col(x).alias("x"),
                F.col(y).alias("y"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    pairs = side("source->lang", "source", "lang").unionByName(
        side("lang->source", "lang", "source")
    )
    per_x = pairs.groupBy("fd", "x").agg(
        F.count(F.lit(1)).cast("long").alias("n_y"),
        F.sum("n").cast("long").alias("rows_total"),
        F.max("n").cast("long").alias("rows_majority"),
    )
    return (
        per_x.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_keys"),
            F.sum("rows_total").cast("long").alias("n_rows"),
            F.sum(F.col("rows_total") - F.col("rows_majority"))
            .cast("long")
            .alias("min_repair_rows"),
        )
        .orderBy("fd")
    )


_DAY_US = 86_400_000_000


@query(
    "events_gaps_and_islands",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS island
      FROM days
    ),
    islands AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS island_len
      FROM grp GROUP BY user_id, island
    )
    SELECT island_len, CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM islands GROUP BY island_len ORDER BY island_len
    """,
)
def events_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic gaps-and-islands pattern: per user, maximal runs of
    CONSECUTIVE active days (an island), found with the row-number
    difference trick — day − row_number() is constant exactly within a
    consecutive run, so one window turns run detection into a groupBy.
    Reported as the island-length histogram with the user count per
    length: the streak table behind "7-day streak" engagement
    features, and a different lens than gap-threshold sessionization
    (events_sessionize_gap cuts on idle TIME; islands cut on missed
    DAYS).

    Scale: one distinct (user, day) rollup (map-side combinable), one
    user-partitioned window over day-grain rows (≤ |days| per user),
    two tiny rollups. Integer day buckets (ts_us div) throughout —
    the pipeline11 convention the oracles share."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day")
    ).distinct()
    grp = days.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.row_number().over(W.partitionBy("user_id").orderBy("day"))
        ).alias("island"),
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("island_len")
    )
    return (
        islands.groupBy("island_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("island_len")
    )


@query(
    "events_local_peaks",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY day
    ),
    ctx AS (
      SELECT day, n_events,
             LAG(n_events) OVER (ORDER BY day) AS prev_n,
             LEAD(n_events) OVER (ORDER BY day) AS next_n
      FROM daily
    )
    SELECT day, n_events, prev_n, next_n
    FROM ctx
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n_events > prev_n AND n_events > next_n
    ORDER BY day
    """,
)
def events_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the daily event-count series: days
    strictly above BOTH calendar neighbors (series edges excluded —
    a boundary day has no two-sided evidence). The simplest shape of
    peak detection every monitoring stack runs before alerting on
    'unusual traffic'; strict inequalities make plateaus non-peaks, so
    ties can't flip membership between engines. Counts are exact
    integers; no thresholds to calibrate.

    Scale: the fact table collapses to a |days|-row day-grain rollup
    (map-side combinable) before the single ordered lag/lead pass —
    the same day-frame discipline as events_changepoint_cusum."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"ts_us div {_DAY_US}").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = W.partitionBy().orderBy("day")
    ctx = daily.select(
        "day",
        "n_events",
        F.lag("n_events").over(w).alias("prev_n"),
        F.lead("n_events").over(w).alias("next_n"),
    )
    return (
        ctx.filter(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n_events") > F.col("prev_n"))
            & (F.col("n_events") > F.col("next_n"))
        )
        .orderBy("day")
    )


_ALLOC_BUDGET = 200  # total sample rows to allocate across sources


@query(
    "sample_proportional_allocation",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM s),
    q AS (
      SELECT source, n_docs,
             CAST(({_ALLOC_BUDGET} * n_docs) // t.total AS BIGINT) AS base,
             ({_ALLOC_BUDGET} * n_docs) % t.total AS rem
      FROM s CROSS JOIN t
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
             CAST({_ALLOC_BUDGET} AS BIGINT) - SUM(base) OVER () AS leftover
      FROM q
    )
    SELECT source, n_docs, base,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM r ORDER BY source
    """,
)
def sample_proportional_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Proportional sample allocation with EXACT largest-remainder
    rounding (the Hamilton method): split a fixed budget of 200 sample
    rows across document sources in proportion to size, with the
    fractional remainders resolved deterministically (remainder DESC,
    source ASC) so the allocations sum to the budget EXACTLY — the
    off-by-rounding drift of naive round(budget·share) is the classic
    bug in stratified sampling plans. Pure integer arithmetic: floor
    quotas via div, remainders via mod, no floats anywhere.

    Scale: one |sources|-key rollup over the corpus (map-side
    combinable); everything after runs on the ≤|sources|-row plan
    frame. The plan feeds sample_stratified_exact's per-stratum
    rank-select take."""
    s = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    t = s.agg(F.sum("n_docs").cast("long").alias("total"))
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr(f"({_ALLOC_BUDGET} * n_docs) div total").cast("long").alias(
            "base"
        ),
        F.expr(f"({_ALLOC_BUDGET} * n_docs) % total").alias("rem"),
    )
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    r = q.select(
        "source",
        "n_docs",
        "base",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("rem"), "source"))
        .alias("rr"),
        (F.lit(_ALLOC_BUDGET) - F.sum("base").over(w_all)).alias("leftover"),
    )
    return r.select(
        "source",
        "n_docs",
        "base",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated"),
    ).orderBy("source")


@query(
    "ivm_delta_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                AS VARCHAR) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an AGGREGATE view — the other
    canonical IVM shape next to ivm_delta_join: the per-status
    (count, exact decimal sum) view is maintained as BASE partials
    (pre-1995-06 orders) merged with DELTA partials (the rest) by
    adding counts and decimal sums — never rescanning the base. The
    oracle is the FULL recompute over all orders, so the gate itself
    proves merge(base, delta) == recompute: the property that makes
    streaming upserts into 100 TB aggregate tables correct. Decimal
    partials make the merge order-independent (the DSUM convention),
    which float partials would not.

    Scale: two filtered aggregations (each map-side combinable,
    stats-pruned by the date predicate) + a |statuses|-key merge.
    In production the base partials are a stored table and only the
    delta scan runs per batch."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1995-06-01 00:00:00").cast("timestamp_ntz")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("s"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n_orders"),
        F.col("s").cast("string").cast("double").alias("sum_price"),
    ).orderBy("o_orderstatus")


@query(
    "text_length_gini",
    oracle="""
    WITH x AS (
      SELECT n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS i
      FROM documents
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS tot,
             CAST(SUM(i * n_chars) AS BIGINT) AS weighted
      FROM x
    )
    SELECT n, tot,
           CAST(2 * weighted AS DOUBLE) / (CAST(n AS DOUBLE) * tot)
             - (CAST(n AS DOUBLE) + 1) / n AS gini
    FROM s
    """,
)
def text_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document lengths — the corpus-inequality
    scalar (0 = all docs equal, →1 = a few giants hold all the chars)
    that decides whether length-bucketed packing and per-doc cost
    attribution are worth the complexity. Computed EXACTLY from the
    rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over the ascending
    (n_chars, doc_id) order: integer rank-weighted sums, two IEEE
    divisions at the end, no sorting of floats and no approximation.
    Ties in n_chars cannot change the value (equal x under adjacent
    ranks contribute the same Σi·x in any tie order).

    Scale: one global rank over (n_chars, doc_id) — the distributed
    range-partitioned sort every exact-percentile query here pays —
    then a 1-row integer rollup."""
    docs = load(spark, sf_dir, "documents")
    x = docs.select(
        "n_chars",
        F.row_number()
        .over(W.partitionBy().orderBy("n_chars", "doc_id"))
        .alias("i"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("n_chars")).cast("long").alias("weighted"),
    )
    return s.select(
        "n",
        "tot",
        (
            (2 * F.col("weighted")).cast("double")
            / (F.col("n").cast("double") * F.col("tot"))
            - (F.col("n").cast("double") + 1) / F.col("n")
        ).alias("gini"),
    )


@query(
    "text_ngram_train_test_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts,
             substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) AS hp
      FROM documents
    ),
    bi AS (
      SELECT hp, unnest(list_transform(range(len(ts) - 1),
               j -> ts[j+1] || ' ' || ts[j+2])) AS bg
      FROM toks
    ),
    train AS (SELECT DISTINCT bg FROM bi WHERE hp < 'e6'),
    test AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS occ
      FROM bi WHERE hp >= 'f3' GROUP BY bg
    ),
    j AS (
      SELECT t.bg, t.occ,
             CASE WHEN tr.bg IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM test t LEFT JOIN train tr ON tr.bg = t.bg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           CAST(SUM(hit) AS BIGINT) AS n_covered,
           CAST(1000000 * SUM(hit) // COUNT(*) AS BIGINT)
             AS type_coverage_ppm,
           CAST(SUM(occ) AS BIGINT) AS n_test_occurrences,
           CAST(SUM(CASE WHEN hit = 1 THEN occ ELSE 0 END) AS BIGINT)
             AS occ_covered,
           CAST(1000000 * SUM(CASE WHEN hit = 1 THEN occ ELSE 0 END)
                // SUM(occ) AS BIGINT) AS occ_coverage_ppm
    FROM j
    """,
)
def text_ngram_train_test_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train→test bigram coverage: what fraction of the TEST split's
    distinct bigrams (and of its bigram OCCURRENCES) also appear in
    the TRAIN split — the n-gram generalization-gap audit that says
    whether a held-out set actually exercises unseen constructions
    (coverage near 1e6 ppm = the test set is lexically inside the
    train distribution; low coverage = genuinely novel text). Splits
    are the corpus's standard salted-hash assignment
    (split_train_val_test), so the audit is stable under re-runs and
    corpus growth.

    Scale: bigram generation is a map-side transform+explode; the only
    shuffles are the two distinct/count rollups on the bigram key and
    ONE bigram-key left join — the exact-dedup shape, never a doc×doc
    comparison. Integer ppm output."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.split("text", " ").alias("ts"),
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            1,
            2,
        ).alias("hp"),
    )
    # size(ts) >= 2 guard: for a 1-token doc sequence(1, 0) descends to
    # [1, 0] and indexes past the array (ANSI INVALID_ARRAY_INDEX under
    # Spark 4) while the DuckDB oracle's empty range emits no bigrams —
    # both engines must agree on "no bigrams" for single-token docs.
    bi = toks.filter(F.size("ts") >= 2).select(
        "hp",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " j -> concat(ts[j-1], ' ', ts[j]))"
            )
        ).alias("bg"),
    )
    train = bi.filter(F.col("hp") < "e6").select("bg").distinct()
    test = (
        bi.filter(F.col("hp") >= "f3")
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    j = test.join(
        train.withColumn("hit", F.lit(1)), "bg", "left"
    ).na.fill({"hit": 0})
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_bigrams"),
        F.sum("hit").cast("long").alias("n_covered"),
        F.expr("1000000 * sum(hit) div count(*)")
        .cast("long")
        .alias("type_coverage_ppm"),
        F.sum("occ").cast("long").alias("n_test_occurrences"),
        F.sum(F.when(F.col("hit") == 1, F.col("occ")).otherwise(0))
        .cast("long")
        .alias("occ_covered"),
        F.expr(
            "1000000 * sum(CASE WHEN hit = 1 THEN occ ELSE 0 END)"
            " div sum(occ)"
        )
        .cast("long")
        .alias("occ_coverage_ppm"),
    )


@query(
    "dq_repeated_event_runs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN event_type = LAG(event_type) OVER w
                  THEN 0 ELSE 1 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    runs AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_id
      FROM seq
    ),
    sized AS (
      SELECT user_id, event_type, run_id,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT event_type, run_len, CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM sized WHERE run_len >= 2
    GROUP BY event_type, run_len
    ORDER BY event_type, run_len
    """,
)
def dq_repeated_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-event run detector: maximal runs of the SAME event
    type emitted back-to-back by one user (event-time order, event_id
    tiebreak), reported as a (type, run-length) histogram for runs of
    length ≥ 2 — the telemetry-quality signal behind double-fire bugs
    (a client retrying its logger) and bot loops, and a different
    defect class than exact dedup (the rows differ in id/ts; only the
    TYPE repeats). Run ids come from the standard change-flag running
    sum, both windows walking the identical (ts, event_id) sequence
    (the q71 lesson, applied from the start).

    Scale: one user_id shuffle, two in-partition window passes over
    the same sort, then a (user, run) rollup and a tiny histogram —
    no joins, no global window."""
    ev = load(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
        F.when(
            F.col("event_type") == F.lag("event_type").over(wu), 0
        )
        .otherwise(1)
        .alias("is_new"),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("is_new").over(w_run).alias("run_id"),
    )
    sized = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        sized.filter(F.col("run_len") >= 2)
        .groupBy("event_type", "run_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type", "run_len")
    )


_GAP_US = 30 * 60 * 1_000_000  # the corpus's standard 30-min session gap


@query(
    "events_type_cooccurrence_sessions",
    oracle=f"""
    WITH lagd AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             LAG(epoch_us(ts)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(CASE WHEN prev IS NULL OR ts_us - prev > {_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM lagd
    ),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    n AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT)
            AS n_sessions FROM st),
    ta AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
           FROM st GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b, p.n_both,
           (CAST(p.n_both AS DOUBLE) * n.n_sessions)
             / (CAST(na.n_t AS DOUBLE) * nb.n_t) AS lift
    FROM pairs p
    JOIN ta na ON na.event_type = p.type_a
    JOIN ta nb ON nb.event_type = p.type_b
    CROSS JOIN n
    WHERE p.n_both >= 2
    ORDER BY p.type_a, p.type_b
    """,
)
def events_type_cooccurrence_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-level event-type co-occurrence lift: which event types
    happen together WITHIN one gap-sessionized visit more (lift > 1)
    or less (< 1) than independent frequencies predict — the basket
    analysis of behavior (text_cooccurrence_lift's shape, with the
    session as the basket and the standard 30-min gap sessionization
    as the basket builder). Lift = n_both·N / (n_a·n_b) over session
    counts; all inputs exact integers, one IEEE expression written
    identically in both engines.

    Scale: the sessionize two-window chain (user-keyed shuffles), a
    distinct (user, session, type) rollup, then a session-key
    self-join whose fan-out is bounded by types-per-session (≤
    |event types|, a constant) — the basket-bounded pair argument,
    never sessions²."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagd = ev.select(
        "user_id",
        "event_type",
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
        "event_type",
        F.sum(new_s)
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sid"),
    )
    st = sess.select("user_id", "sid", "event_type").distinct()
    n = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    ta = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    a = st.select("user_id", "sid", F.col("event_type").alias("type_a"))
    b = st.select(
        F.col("user_id").alias("ub"),
        F.col("sid").alias("sb"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("sid") == F.col("sb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = ta.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("na"))
    nb = ta.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_both") >= 2)
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                (F.col("n_both").cast("double") * F.col("n_sessions"))
                / (F.col("na").cast("double") * F.col("nb"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "graph_rich_club",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l1.l_orderkey AS ok, l1.l_partkey AS a,
             l2.l_partkey AS b
      FROM lineitem l1
      JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
    ),
    adj AS (
      SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
    ks AS (SELECT unnest([2, 4, 8]) AS k),
    nodes AS (
      -- COUNT(deg.v), not COUNT(*): when no vertex passes the cutoff
      -- the unmatched LEFT-JOIN row must count as 0, matching Spark.
      SELECT ks.k, CAST(COUNT(deg.v) AS BIGINT) AS n_rich
      FROM ks LEFT JOIN deg ON deg.d > ks.k GROUP BY ks.k
    ),
    rich_edges AS (
      SELECT ks.k, CAST(COUNT(x.a) AS BIGINT) AS e_rich
      FROM ks LEFT JOIN (
        SELECT e.a, e.b, da.d AS da, db.d AS db
        FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b
      ) x ON x.da > ks.k AND x.db > ks.k
      GROUP BY ks.k
    )
    SELECT n.k, n.n_rich, r.e_rich,
           CASE WHEN n.n_rich >= 2
                THEN (2.0 * r.e_rich)
                     / (CAST(n.n_rich AS DOUBLE) * (n.n_rich - 1))
                ELSE 0.0 END AS phi
    FROM nodes n JOIN rich_edges r ON r.k = n.k
    ORDER BY n.k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the co-purchase graph at k ∈
    {2,4,8}: among vertices of degree > k, the realized fraction of
    possible edges — φ rising with k means the hubs preferentially
    interconnect (a rich club), the topology that concentrates both
    influence AND shuffle load (the same hubs dominate every
    bucket-keyed join downstream — the skew-salting trigger).
    Complements assortativity (correlation view) and knn(k) (curve
    view) with the subgraph-density view. Exact integer counts; one
    IEEE ratio.

    NOTE: eager — the derived edge list is localCheckpointed once:
    the degree rollup reads it twice (a and b endpoints) and the
    edges×degree join once more, and the two driver-side collects
    would otherwise each replay the basket-pair generation for every
    read (the registry contract note lists it).

    Scale: the checkpointed copurchase_edges frame, one degree rollup,
    ONE edges×degree double hash join, then three conditional
    aggregates over the joined frame — k values share the single
    pass."""
    from ..ckpt import checkpoint, release
    from .graph import copurchase_edges

    edges = checkpoint(copurchase_edges(spark, sf_dir))
    adj = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    joined = edges.join(da, "a").join(db, "b")
    ks = (2, 4, 8)
    n_row = deg.agg(
        *[
            F.sum(F.when(F.col("d") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"n{k}")
            for k in ks
        ]
    ).collect()[0]
    e_row = joined.agg(
        *[
            F.sum(
                F.when((F.col("da") > k) & (F.col("db") > k), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"e{k}")
            for k in ks
        ]
    ).collect()[0]
    release(edges)
    rows = []
    for k in ks:
        n_rich, e_rich = n_row[f"n{k}"], e_row[f"e{k}"]
        phi = (
            (2.0 * e_rich) / (float(n_rich) * (n_rich - 1))
            if n_rich >= 2
            else 0.0
        )
        rows.append((k, n_rich, e_rich, phi))
    return spark.createDataFrame(
        rows, "k int, n_rich long, e_rich long, phi double"
    ).orderBy("k")


@query(
    "events_type_hhi",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_types FROM c)
    SELECT t.n_types, t.total,
           CAST(CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS VARCHAR)
                AS DOUBLE)
             / (CAST(t.total AS DOUBLE) * t.total) AS hhi,
           (CAST(t.total AS DOUBLE) * t.total)
             / CAST(CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS VARCHAR)
                    AS DOUBLE) AS effective_types
    FROM c CROSS JOIN t GROUP BY t.n_types, t.total
    """,
)
def events_type_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of the event-type mix:
    HHI = Σ shareᵢ² and its inverse (the "effective number of types",
    inverse Simpson index) — the LOG-FREE diversity scalar (Shannon
    entropy needs ln(), which the module convention bans for
    cross-engine exactness; inverse Simpson answers the same "how
    many types really carry the traffic" question in pure
    arithmetic). HHI near 1/n_types = balanced mix; near 1 = one
    type dominates. Computed as Σnᵢ²/N² with the numerator in exact
    DECIMAL (order-independent) and ONE double division.

    Scale: one |types|-key map-side rollup + a broadcast 1-row total;
    nothing downstream exceeds |types| rows."""
    c = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    num = (
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n"))
        .cast("string")
        .cast("double")
    )
    den = F.col("total").cast("double") * F.col("total")
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n_types", "total")
        .agg(num.alias("__num"))
        .select(
            "n_types",
            "total",
            (F.col("__num") / den).alias("hhi"),
            (den / F.col("__num")).alias("effective_types"),
        )
    )



@query(
    "orders_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS r
      FROM orders GROUP BY o_custkey
    ),
    x AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i
      FROM rev
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(r AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS tot,
             CAST(CAST(SUM(CAST(i * r AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS weighted
      FROM x
    )
    SELECT n, tot,
           2 * weighted / (CAST(n AS DOUBLE) * tot)
             - (CAST(n AS DOUBLE) + 1) / n AS gini
    FROM s
    """,
)
def orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality
    scalar behind profile_pareto_revenue's decile table (there: which
    deciles hold the money; here: ONE number a dashboard tracks).
    Same exact rank identity as text_length_gini, applied to decimal
    revenue sums: per-customer revenue is an exact DECIMAL fold cast
    to double once, ranks follow the total (revenue, custkey) order
    (ties contribute identically in any tie order), and the two
    rank-weighted sums are DECIMAL folds — order-independent in both
    engines.

    Scale: one custkey rollup, one global rank (the exact-percentile
    family's range-partitioned sort), one 1-row fold."""
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias("r")
        )
    )
    x = rev.select(
        "r",
        F.row_number()
        .over(W.partitionBy().orderBy("r", "o_custkey"))
        .alias("i"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r").cast("decimal(38,10)"))
        .cast("string")
        .cast("double")
        .alias("tot"),
        F.sum((F.col("i") * F.col("r")).cast("decimal(38,10)"))
        .cast("string")
        .cast("double")
        .alias("weighted"),
    )
    return s.select(
        "n",
        "tot",
        (
            2 * F.col("weighted") / (F.col("n").cast("double") * F.col("tot"))
            - (F.col("n").cast("double") + 1) / F.col("n")
        ).alias("gini"),
    )


@query(
    "events_dormancy_reactivation_lag",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             day - LAG(day) OVER (PARTITION BY user_id ORDER BY day)
               AS gap_days
      FROM days
    )
    SELECT CAST(LENGTH(BIN(gap_days - 1)) AS BIGINT) AS dormancy_bits,
           CAST(COUNT(*) AS BIGINT) AS n_reactivations,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(gap_days) - 1 AS BIGINT) AS min_dormant_days,
           CAST(MAX(gap_days) - 1 AS BIGINT) AS max_dormant_days
    FROM gaps WHERE gap_days >= 2
    GROUP BY dormancy_bits ORDER BY dormancy_bits
    """,
)
def events_dormancy_reactivation_lag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dormancy-length distribution at reactivation: whenever a user
    returns after ≥1 fully inactive day, how long were they dormant —
    histogrammed in power-of-2 day bins (the length(bin()) trick).
    The dual of events_gaps_and_islands (there: streak LENGTHS; here:
    the GAPS between streaks) and the input a win-back campaign uses
    to time its sends (mass at 2-3 dormant days = short-cycle product;
    a fat 16+ bin = churn, not dormancy). Exact integer day buckets
    and gaps.

    Scale: one distinct (user, day) rollup, one per-user LAG window
    over day-grain rows, one ≤~log(max-gap)-key rollup."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day")
    ).distinct()
    gaps = days.select(
        "user_id",
        (
            F.col("day")
            - F.lag("day").over(W.partitionBy("user_id").orderBy("day"))
        ).alias("gap_days"),
    ).filter(F.col("gap_days") >= 2)
    return (
        gaps.groupBy(
            F.length(F.bin(F.col("gap_days") - 1))
            .cast("long")
            .alias("dormancy_bits")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reactivations"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.min("gap_days") - 1).cast("long").alias("min_dormant_days"),
            (F.max("gap_days") - 1).cast("long").alias("max_dormant_days"),
        )
        .orderBy("dormancy_bits")
    )


@query(
    "events_first_session_profile",
    oracle=f"""
    WITH lagd AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             LAG(epoch_us(ts)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
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
    first_s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(ts_us) - MIN(ts_us) AS span_us
      FROM sess WHERE sid = 1 GROUP BY user_id
    )
    SELECT CASE WHEN n_ev = 1 THEN '1'
                WHEN n_ev = 2 THEN '2'
                WHEN n_ev <= 5 THEN '3-5'
                ELSE '6+' END AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(span_us) // COUNT(*) AS BIGINT) AS avg_span_us
    FROM first_s GROUP BY 1 ORDER BY size_bucket
    """,
)
def events_first_session_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Onboarding profile: each user's FIRST gap session (the standard
    30-min sessionization, sid = 1), histogrammed by size with exact
    average span — the activation table a growth team reads next to
    events_cohort_retention (a fat '1' bucket = users bounce before a
    second event; '6+' mass = the onboarding flow engages). Same
    session construction as events_sessionize_gap, restricted to the
    first session so every user contributes exactly once.

    Scale: the sessionize two-window chain (user-keyed shuffles), one
    (user) rollup on the sid=1 slice, a 4-row histogram. Integer
    epoch-µs spans, integer-division averages."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagd = ev.select(
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
    first_s = (
        sess.filter(F.col("sid") == 1)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ev"),
            (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
        )
    )
    bucket = (
        F.when(F.col("n_ev") == 1, "1")
        .when(F.col("n_ev") == 2, "2")
        .when(F.col("n_ev") <= 5, "3-5")
        .otherwise("6+")
    )
    return (
        first_s.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.expr("sum(span_us) div count(*)")
            .cast("long")
            .alias("avg_span_us"),
        )
        .orderBy("size_bucket")
    )


@query(
    "orders_pareto_8020_point",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS i,
             CAST(CAST(SUM(CAST(r AS DECIMAL(38,10))) OVER (
                    ORDER BY r DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS VARCHAR) AS DOUBLE) AS cum
      FROM rev
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(CAST(SUM(CAST(r AS DECIMAL(38,10))) AS VARCHAR)
                      AS DOUBLE) AS tot
          FROM rev),
    hit AS (
      SELECT CAST(MIN(i) AS BIGINT) AS k
      FROM ranked CROSS JOIN t WHERE cum >= 0.8 * tot
    )
    SELECT t.n AS n_customers, hit.k AS top_k_for_80pct,
           CAST(1000000 * hit.k // t.n AS BIGINT) AS top_share_ppm
    FROM t CROSS JOIN hit
    """,
)
def orders_pareto_8020_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact 80/20 crossing point: the smallest k such that the
    top-k customers (by exact decimal revenue, custkey tiebreak) hold
    ≥ 80% of total revenue, plus that k as a ppm share of the customer
    base — the single number behind profile_pareto_revenue's decile
    table ("the top X% hold 80%"). Cumulative sums are decimal folds
    cast once; the 0.8·total comparison is one IEEE multiply applied
    identically in both engines.

    Scale: one custkey rollup, one global rank + running decimal sum
    (the exact-percentile sort), a 1-row argmin."""
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias("r")
        )
    )
    w = W.partitionBy().orderBy(F.desc("r"), "o_custkey")
    ranked = rev.select(
        "r",
        F.row_number().over(w).alias("i"),
        F.sum(F.col("r").cast("decimal(38,10)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("string")
        .cast("double")
        .alias("cum"),
    )
    t = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r").cast("decimal(38,10)"))
        .cast("string")
        .cast("double")
        .alias("tot"),
    )
    hit = (
        ranked.crossJoin(F.broadcast(t))
        .filter(F.col("cum") >= 0.8 * F.col("tot"))
        .agg(F.min("i").cast("long").alias("k"))
    )
    return (
        t.crossJoin(F.broadcast(hit))
        .select(
            F.col("n").alias("n_customers"),
            F.col("k").alias("top_k_for_80pct"),
            F.expr("1000000 * k div n").cast("long").alias("top_share_ppm"),
        )
    )


@query(
    "events_value_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS v
      FROM events GROUP BY day
    ),
    run AS (
      SELECT day, v,
             MAX(v) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM daily
    ),
    dd AS (SELECT day, v, peak, peak - v AS drawdown FROM run)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(drawdown) AS max_drawdown,
           CAST(MIN(CASE WHEN drawdown = (SELECT MAX(drawdown) FROM dd)
                         THEN day END) AS BIGINT) AS trough_day,
           MAX(peak) AS series_peak
    FROM dd
    """,
)
def events_value_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily event-value series: the deepest
    fall from a running peak (peak − value at the trough), with the
    earliest trough day pinned — the risk-curve scalar (finance's
    max-drawdown, equally the 'worst regression from best' readout for
    any monitored daily metric). Daily values are exact decimal folds
    cast once; the running peak is one ordered MAX window; ties on the
    deepest drawdown resolve to the earliest day.

    Scale: the fact table collapses to the |days|-row day grain
    (map-side combinable) before the single ordered pass — the
    events_local_peaks discipline; output is one row."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"ts_us div {_DAY_US}").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias("v")
        )
    )
    w = W.partitionBy().orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    dd = daily.select(
        "day",
        "v",
        F.max("v").over(w).alias("peak"),
    ).withColumn("drawdown", F.col("peak") - F.col("v"))
    mx = dd.agg(F.max("drawdown").alias("mdd"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("drawdown").alias("max_drawdown"),
            F.min(
                F.when(F.col("drawdown") == F.col("mdd"), F.col("day"))
            )
            .cast("long")
            .alias("trough_day"),
            F.max("peak").alias("series_peak"),
        )
    )
