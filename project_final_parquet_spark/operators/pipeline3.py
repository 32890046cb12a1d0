"""LLM-pipeline operators, fourth tranche: temperature-scaled corpus
mixing, time-windowed funnels, merge-on-read CDC views, and TF-IDF
term extraction.

Not in the reference (its query surface is selective encrypted-column
reads, ``src/parquet_reader.cpp:92-101``); these extend the mandated
LLM-pipeline families: sampling/splits (pipeline.py), event analytics
(events_analytics.py), CDC (streaming/events.py, pipeline.py), and the
retrieval index (text_index.py).

Determinism: every sampling decision is integer-hash based (Knuth
multiplicative hash mod 2^16 — exact BIGINT arithmetic both engines);
every double reduction follows the DECIMAL(38,10) order-independent sum
convention (registry docstring, rule 2); sqrt is IEEE correctly-rounded
so temperature weights match bit-for-bit cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import DAY_US, DSUM_SQL, EPOCH_US_SQL, query
from ..tables import load

# --- temperature-scaled language/source mixing -----------------------------

_MIX_TARGET = 200  # docs the mixed sample should total
_MIX_HASH = 2_654_435_761  # Knuth multiplicative constant
_MIX_MOD = 65_536


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT {DSUM_SQL.format(expr='w')} AS w_total FROM counts),
    rates AS (
      SELECT lang, n_docs,
             CAST(floor(
               least(1.0, (w / w_total) * {_MIX_TARGET} / n_docs)
               * {_MIX_MOD}) AS BIGINT) AS thresh
      FROM counts CROSS JOIN tot
    )
    SELECT lang, n_docs, thresh,
           CAST(SUM(CASE WHEN ((d.doc_id % {_MIX_MOD}) * {_MIX_HASH})
                              % {_MIX_MOD} < r.thresh
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN rates r USING (lang)
    GROUP BY lang, n_docs, thresh
    ORDER BY lang
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (the multilingual-pretraining
    staple, e.g. mBERT/XLM-R exponent α=0.5): per-language sampling
    probability ∝ n_lang^α, flattening the head so low-resource
    languages keep representation. α=1/2 keeps the weight sqrt —
    IEEE-exact — and each keep decision is a pure integer hash of
    doc_id, so the sample is deterministic and resumable (rerunning on
    a grown corpus never flips an existing doc's membership for the
    same thresholds).

    Scale: the per-lang count is one map-side-combined shuffle; the
    5-row rate table broadcasts back; membership is a map-side integer
    compare. Nothing driver-side, nothing quadratic."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("w", F.sqrt(F.col("n_docs").cast("double")))
    )
    tot = counts.agg(
        F.sum(F.col("w").cast("decimal(38,10)")).cast("double").alias("w_total")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.floor(
            F.least(
                F.lit(1.0),
                (F.col("w") / F.col("w_total"))
                * F.lit(float(_MIX_TARGET))
                / F.col("n_docs"),
            )
            * F.lit(float(_MIX_MOD))
        )
        .cast("long")
        .alias("thresh"),
    )
    # Reduce doc_id mod 2^16 BEFORE multiplying: (a*h) mod 2^16 depends
    # only on a mod 2^16, and the reduced product stays < 2^48 — exact
    # BIGINT on both engines at any doc_id magnitude (the unreduced form
    # wraps int64 in Spark but raises in DuckDB for doc_id ≳ 3.47e9).
    kept = (
        (F.col("doc_id") % F.lit(_MIX_MOD)) * F.lit(_MIX_HASH)
    ) % F.lit(_MIX_MOD) < F.col("thresh")
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "thresh")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_sampled")
        )
        .orderBy("lang")
    )


# --- time-windowed conversion funnel ---------------------------------------

_FUNNEL_WIN_US = 72 * 3600 * 1_000_000  # 72 h, integer microseconds


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    v AS (SELECT user_id, MIN(ts_us) AS v_ts FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, v.v_ts, MIN(e.ts_us) AS c_ts
      FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts_us > v.v_ts AND e.ts_us <= v.v_ts + {_FUNNEL_WIN_US}
      GROUP BY e.user_id, v.v_ts
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts_us) AS p_ts
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts_us > c.c_ts AND e.ts_us <= c.v_ts + {_FUNNEL_WIN_US}
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage,
             CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    ) t ORDER BY ord
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a conversion-window constraint: click must
    follow the user's FIRST view, and purchase must follow that click,
    both inside 72 h of the first view — the attribution-correct funnel
    (the plain ``events_funnel`` counts lifetime stage presence). All
    time math is integer epoch-microseconds (TZ-free by construction).

    Scale: three user-keyed aggregations + two user-keyed joins — every
    shuffle is on user_id, so AQE coalesces them into one exchange
    lineage; no window over the raw event stream is needed."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("v_ts"))
            & (F.col("ts_us") <= F.col("v_ts") + F.lit(_FUNNEL_WIN_US))
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("ts_us").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("c_ts"))
            & (F.col("ts_us") <= F.col("v_ts") + F.lit(_FUNNEL_WIN_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"))
    )
    stage = (
        lambda ord_, name, df: df.agg(
            F.count(F.lit(1)).cast("long").alias("n_users")
        ).select(F.lit(ord_).alias("ord"), F.lit(name).alias("stage"), "n_users")
    )
    return (
        stage(1, "view", v)
        .unionAll(stage(2, "click", c))
        .unionAll(stage(3, "purchase", p))
        .orderBy("ord")
        .select("stage", "n_users")
    )


# --- merge-on-read CDC view ------------------------------------------------

_MOR_DEL_EVERY = 50  # orders with o_orderkey % 50 == 0 emit a delete


@query(
    "cdc_merge_on_read",
    oracle=f"""
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS version,
             CASE WHEN o_orderkey % {_MOR_DEL_EVERY} = 0
                  THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS bal
      FROM orders
    ),
    unioned AS (
      SELECT c_custkey AS key, CAST(-1 AS BIGINT) AS version,
             'U' AS op, c_acctbal AS bal
      FROM customer
      UNION ALL SELECT key, version, op, bal FROM log
    ),
    latest AS (
      SELECT key, op, bal FROM (
        SELECT key, op, bal,
               ROW_NUMBER() OVER (PARTITION BY key ORDER BY version DESC)
                 AS rn
        FROM unioned
      ) t WHERE rn = 1
    )
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           {DSUM_SQL.format(expr='l.bal')} AS total_bal
    FROM latest l JOIN customer c ON l.key = c.c_custkey
    WHERE l.op <> 'D'
    GROUP BY c.c_mktsegment
    ORDER BY mktsegment
    """,
)
def cdc_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC: the read-time view over (base snapshot ∪
    change log) — latest version per key wins, tombstones drop — with
    NO rewrite of the base (the lakehouse MOR pattern; ``upsert_
    snapshot`` is its copy-on-write sibling). The log here derives
    deterministically from orders: each order is an upsert of its
    customer's balance, every {_MOR_DEL_EVERY}th order a tombstone.

    Scale: one union (no shuffle) + one key-partitioned window — the
    same single-shuffle shape however large the log grows; compaction
    is just this plan written back out, which is exactly how MOR tables
    compact."""
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        F.lit(-1).cast("long").alias("version"),
        F.lit("U").alias("op"),
        F.col("c_acctbal").alias("bal"),
    )
    log = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % _MOR_DEL_EVERY == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.col("o_totalprice").alias("bal"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("version"))
    latest = (
        base.unionAll(log)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return (
        latest.join(
            cust.select("c_custkey", "c_mktsegment"),
            latest.key == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live"),
            F.sum(F.col("bal").cast("decimal(38,10)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("mktsegment")
    )


# --- per-document TF-IDF top terms -----------------------------------------

_TFIDF_DOCS = 30  # bound the per-doc output
_TFIDF_K = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM t2),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM t2 GROUP BY token),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM t2 WHERE doc_id < {_TFIDF_DOCS} GROUP BY doc_id, token),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf * n.n_docs / df.df AS score
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, rank, token, tf, df FROM (
      SELECT doc_id, token, tf, df,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, token
             ) AS rank
      FROM scored
    ) t WHERE rank <= {_TFIDF_K}
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_K} TF-IDF terms per document (keyword extraction —
    the feature a retrieval/labeling pipeline materializes next to the
    inverted index). The idf is the rational surrogate N/df (strictly
    monotone in the usual ln(N/df), so rankings are identical while the
    score arithmetic stays exact-literal double both engines — the
    text_bm25_rank convention).

    Scale: df is corpus-wide (one token shuffle, map-side combined); tf
    only materializes for the requested doc subset, so the per-doc
    window ranks a few hundred rows however large the corpus. The
    doc_id filter prunes the tf branch at the parquet scan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t2 = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    n = t2.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    df_t = t2.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    tf = (
        t2.filter(F.col("doc_id") < _TFIDF_DOCS)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf") * F.col("n_docs") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "rank", "token", "tf", "df")
        .orderBy("doc_id", "rank")
    )


# --- sub-document (chunk-level) dedup --------------------------------------

CHUNK_TOK = 16  # tokens per chunk (fixed windows, C4-style granularity)
_CHUNK_TOPK = 20


@query(
    "text_chunk_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             md5(array_to_string(
               list_slice(toks, i * {CHUNK_TOK} + 1,
                          (i + 1) * {CHUNK_TOK}), ' ')) AS chunk_hash
      FROM tok
      CROSS JOIN (SELECT unnest(range(16)) AS i) idx
      WHERE len(toks) >= (i + 1) * {CHUNK_TOK}
    ),
    dups AS (
      SELECT chunk_hash,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id * 1000 + chunk_idx) AS BIGINT) AS first_site
      FROM chunks GROUP BY chunk_hash
      HAVING COUNT(*) > 1
    )
    SELECT chunk_hash, n_occurrences, n_docs, first_site
    FROM dups
    ORDER BY n_occurrences DESC, chunk_hash
    LIMIT {_CHUNK_TOPK}
    """,
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document deduplication — the C4/RefinedWeb granularity the
    whole-doc dedup family misses: fixed {_CHUNK_TOK}-token windows are
    hashed and counted across the corpus, surfacing boilerplate chunks
    that repeat inside otherwise-unique documents (the removal set is
    `anti-join on chunk_hash`). first_site (min doc_id·1000+idx) is the
    canonical keeper, deterministic under any partitioning.

    Scale: chunking is map-side (slice + md5 per window, ≤16 windows
    per doc here; unbounded docs chunk by sequence id the same way);
    the only shuffle is the chunk-hash groupBy with map-side partials —
    identical shape to dedup_exact, one granularity down."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    chunked = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(15)),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            F.col("toks"),
                            i * CHUNK_TOK + 1,
                            CHUNK_TOK,
                        ),
                    ),
                )
            ).alias("chunk_idx", "chunk_text"),
        )
        .filter(
            F.size(F.split(F.col("chunk_text"), " ")) == CHUNK_TOK
        )
        .select(
            "doc_id", "chunk_idx", F.md5("chunk_text").alias("chunk_hash")
        )
    )
    return (
        chunked.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min(F.col("doc_id") * 1000 + F.col("chunk_idx"))
            .cast("long")
            .alias("first_site"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
        .limit(_CHUNK_TOPK)
    )


# --- order backlog timeseries (interval event-ification) -------------------


@query(
    "orders_backlog_timeseries",
    oracle=f"""
    WITH opened AS (
      SELECT epoch_us(o_orderdate) // {DAY_US} AS day,
             CAST(COUNT(*) AS BIGINT) AS n_opened
      FROM orders GROUP BY day
    ),
    closed AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_closed FROM (
        SELECT l_orderkey,
               MAX(epoch_us(l_shipdate)) // {DAY_US} AS day
        FROM lineitem GROUP BY l_orderkey
      ) t GROUP BY day
    ),
    merged AS (
      SELECT COALESCE(o.day, c.day) AS day,
             COALESCE(n_opened, 0) AS n_opened,
             COALESCE(n_closed, 0) AS n_closed
      FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
    )
    SELECT day, n_opened, n_closed,
           CAST(SUM(n_opened - n_closed) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS backlog
    FROM merged ORDER BY day LIMIT 100
    """,
)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by INTERVAL EVENT-IFICATION — the
    standard trick for 'how many X were open on day D' without a
    day×order blowup: each order contributes +1 at its open day and −1
    at its close day (last lineitem shipment), and a running sum over
    the day-grain net changes IS the backlog curve. First 100 days for
    a bounded gate output.

    Scale: two key-shuffled aggregations (orders by day; lineitem by
    orderkey then day) produce day-grain rows — bounded by the calendar,
    not the data — so the single-partition cumsum window is safe by
    construction (same argument as layout_compaction_plan's manifest).
    The naive alternative (join every order to every day it spans) is
    O(orders × avg_open_days) and is exactly what this shape avoids."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_day = F.expr(
        f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
    )
    s_us = F.expr(EPOCH_US_SQL.format(col="l_shipdate"))
    opened = orders.groupBy(o_day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_opened")
    )
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.max(s_us).alias("max_ship_us"))
        .select(
            F.expr(f"max_ship_us div {DAY_US}").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
    )
    merged = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        merged.withColumn(
            "backlog",
            F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long"),
        )
        .orderBy("day")
        .limit(100)
    )
