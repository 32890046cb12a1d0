"""Round-9 wave 2: quantization-calibration quantiles per embedding
dimension, word2vec-style unigram negative-sampling weights, and the
column-storage footprint audit read from parquet footers on BOTH
engines (pyarrow vs DuckDB's parquet_metadata — metadata parity, not
just data parity).

Not in the reference (SURVEY.md §2.1); extends the vector-stats,
sampling, and profiling families.

Determinism: quantiles are rank-selected rows (no interpolation);
x^0.75 is computed as sqrt(x·sqrt(x)) — two IEEE square roots and a
multiply, bit-identical across engines, never pow()/exp(); footer byte
counts are exact integers from the same physical file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..registry import DAY_US, DSUM_SQL, EPOCH_US_SQL, dsum, query
from ..tables import load
from .similarity import DIM

_NEG_TOPK = 20


@query(
    "embeddings_dim_quantiles",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(range({DIM})) AS i)
    ),
    r AS (
      SELECT dim, v,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM flat
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           MIN(v) AS lo,
           MAX(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS q25,
           MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS q50,
           MAX(CASE WHEN rn = (75 * n + 99) // 100 THEN v END) AS q75,
           MAX(v) AS hi
    FROM r GROUP BY dim ORDER BY dim
    """,
)
def embeddings_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension calibration table for scalar quantization: exact
    min/q25/q50/q75/max of every embedding coordinate (rank-selected —
    the events_percentiles_exact convention, vec_id tiebreak, no
    interpolation). sim_scalar_quant clips to a fixed range; THIS is
    the table that picks the clip range per dimension — asymmetric
    int8 calibration reads exactly these five numbers, and a dimension
    whose IQR is tiny relative to its extremes is the outlier-clipping
    candidate.

    Scale: one posexplode to (dim, v) — 64 independent partitions, so
    the rank sort parallelizes per dimension (never one global sort);
    selected values are source rows passed through untouched, hence
    bit-identical. At corpus scale the exact rank swaps for the binned
    histogram in the same shape."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    w = W.partitionBy("dim")
    r = flat.select(
        "dim",
        "v",
        F.row_number().over(w.orderBy("v", "vec_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )

    def pick(p: int):
        idx = F.expr(f"({p} * n + 99) div 100")
        return F.max(F.when(F.col("rn") == idx, F.col("v"))).alias(f"q{p}")

    return (
        r.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.min("v").alias("lo"),
            pick(25),
            pick(50),
            pick(75),
            F.max("v").alias("hi"),
        )
        .orderBy("dim")
    )


@query(
    "sample_unigram_neg_sampling",
    oracle=f"""
    WITH freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    w AS (
      SELECT tok, c,
             sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))) AS w
      FROM freq
    ),
    tot AS (
      SELECT {DSUM_SQL.format(expr="w")} AS tw,
             CAST(SUM(c) AS BIGINT) AS tc
      FROM w
    )
    SELECT tok, c, w.w / tot.tw AS p_sample,
           (w.w / tot.tw) / (CAST(c AS DOUBLE) / tot.tc) AS boost
    FROM w CROSS JOIN tot
    ORDER BY w.w DESC, tok LIMIT {_NEG_TOPK}
    """,
)
def sample_unigram_neg_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """word2vec-style unigram negative-sampling distribution: token
    sampling probability ∝ freq^0.75 — the exponent that damps
    high-frequency tokens without flattening the tail (the same trick
    data-mixture temperature sampling uses across sources;
    sample_temperature_mix is the τ=0.5 source-level sibling). Reports
    the top-{_NEG_TOPK} tokens with their smoothed probability and the
    boost relative to raw frequency (head tokens get boost < 1, tail
    tokens > 1).

    Determinism: freq^0.75 is computed as sqrt(c · sqrt(c)) — two IEEE
    square roots and one multiply, bit-identical across engines, never
    pow()/exp() (the no-transcendentals rule); the normalizer is a
    DSUM fold; top-k carries the token tiebreak.

    Scale: one token-key aggregate (map-side combined — the
    text_top_terms shuffle), a broadcast 1-row normalizer, TakeOrdered
    top-k. The full weight table stays distributed for the actual
    sampler to consume."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cd = F.col("c").cast("double")
    w = freq.select("tok", "c", F.sqrt(cd * F.sqrt(cd)).alias("w"))
    tot = w.agg(
        dsum(F.col("w")).alias("tw"), F.sum("c").cast("long").alias("tc")
    )
    p = F.col("w") / F.col("tw")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c",
            p.alias("p_sample"),
            (p / (F.col("c").cast("double") / F.col("tc"))).alias("boost"),
        )
        .orderBy(F.desc("w"), "tok")
        .limit(_NEG_TOPK)
    )


@query(
    "profile_column_storage",
    # The oracle cannot take the sf_dir as a parameter (oracle SQL is a
    # static string and parquet_metadata only accepts constants), so it
    # globs every staged scale factor (the documented corpus layout,
    # TESTDATA.md) and selects the ONE file whose row count equals the
    # registered orders view's — the SFs differ in row count by
    # construction, so the match is unique and independent of how the
    # harness spelled the view's path.
    oracle="""
    WITH rc AS (
      SELECT file_name,
             CAST(SUM(row_group_num_rows) AS BIGINT) AS n_rows
      FROM (
        SELECT DISTINCT file_name, row_group_id, row_group_num_rows
        FROM parquet_metadata('/root/testdata/*/orders.parquet')
      ) GROUP BY file_name
    ),
    target AS (
      -- ADVICE r9: the row-count disambiguation must be UNIQUE; fail
      -- loudly on 0 or >1 matching files instead of silently emitting
      -- zero rows (corpus staged elsewhere) or joining the wrong file
      -- (two scale factors sharing an orders row count).
      SELECT CASE
               WHEN COUNT(*) = 1 THEN MIN(file_name)
               ELSE error('profile_column_storage oracle: expected '
                          || 'exactly 1 file matching the orders row '
                          || 'count, found ' || COUNT(*)::VARCHAR)
             END AS file_name
      FROM rc
      WHERE n_rows = (SELECT COUNT(*) FROM orders)
    )
    SELECT path_in_schema AS column_name,
           CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
           CAST(SUM(total_uncompressed_size) AS BIGINT)
             AS uncompressed_bytes,
           CAST(SUM(total_uncompressed_size) AS DOUBLE)
             / SUM(total_compressed_size) AS compression_ratio
    FROM parquet_metadata('/root/testdata/*/orders.parquet') m
    JOIN target t ON m.file_name = t.file_name
    GROUP BY path_in_schema ORDER BY column_name
    """,
)
def profile_column_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-storage footprint audit from the parquet FOOTER: per
    column of the orders table, total compressed and uncompressed
    column-chunk bytes and the compression ratio — the table that says
    which columns dominate storage cost (and therefore which encodings
    / Z-orders / dictionary decisions matter at 100 TB). Metadata
    parity is the point: the Spark side reads footers with pyarrow,
    the oracle with DuckDB's parquet_metadata() — byte-identical
    numbers prove both engines see the same physical layout.

    Scale: the footer parse is DISTRIBUTED (round-10 rework of the r9
    driver loop): the driver holds only the file-path list (the same
    O(files) listing Spark's own scan planner does), and each task
    opens its files' FOOTERS with pyarrow inside ``mapInPandas`` —
    a seek-to-tail metadata read, zero data pages — emitting per-file
    per-column partial sums that one ordinary groupBy combines. A
    100 TB table with 10⁵ files costs |files|/parallelism footer reads
    per task and a |columns|-row shuffle; the driver never loops
    files. Integer byte sums are exact, so the parallel combine is
    order-independent."""
    from pathlib import Path

    root = Path(f"{sf_dir.rstrip('/')}/orders.parquet")
    # the driver corpus is one file per table; synthetic/staged corpora
    # (scaling study, lake layouts) write a directory of part files —
    # footer aggregation is identical either way
    files = [
        str(f)
        for f in (
            sorted(root.glob("*.parquet")) if root.is_dir() else [root]
        )
    ]

    def _footer_sums(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out: dict[str, list[int]] = {}
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        cur = out.setdefault(col.path_in_schema, [0, 0])
                        cur[0] += col.total_compressed_size
                        cur[1] += col.total_uncompressed_size
            if out:
                yield pd.DataFrame(
                    [(n, c, u) for n, (c, u) in out.items()],
                    columns=["column_name", "comp", "uncomp"],
                )

    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(min(len(files), 32))
    partial = paths.mapInPandas(
        _footer_sums, "column_name string, comp long, uncomp long"
    )
    return (
        partial.groupBy("column_name")
        .agg(
            F.sum("comp").cast("long").alias("compressed_bytes"),
            F.sum("uncomp").cast("long").alias("uncompressed_bytes"),
        )
        .select(
            "column_name",
            "compressed_bytes",
            "uncompressed_bytes",
            (
                F.col("uncompressed_bytes").cast("double")
                / F.col("compressed_bytes")
            ).alias("compression_ratio"),
        )
        .orderBy("column_name")
    )


_SLA_DAYS = 100  # ship within 100 days of order date


@query(
    "orders_ship_delay_sla",
    oracle=f"""
    WITH d AS (
      SELECT o.o_orderpriority AS priority,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // {DAY_US} AS delay_days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    r AS (
      SELECT priority, delay_days,
             ROW_NUMBER() OVER (
               PARTITION BY priority
               ORDER BY delay_days, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d
    )
    SELECT priority,
           CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100
                         THEN delay_days END) AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rn = (95 * n + 99) // 100
                         THEN delay_days END) AS BIGINT) AS p95_days,
           CAST(SUM(CASE WHEN delay_days > {_SLA_DAYS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_breaches,
           CAST(SUM(CASE WHEN delay_days > {_SLA_DAYS} THEN 1 ELSE 0 END)
                AS DOUBLE) / MAX(n) AS breach_rate
    FROM r GROUP BY priority ORDER BY priority
    """,
)
def orders_ship_delay_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA per priority class: exact p50/p95 of
    the ship delay in whole days (rank-selected, line-key tiebreak)
    plus the count and rate of lines breaching the {_SLA_DAYS}-day SLA
    — the fulfillment-health table that shows whether URGENT orders
    actually ship faster. Integer day buckets keep every number exact.

    Scale: the Spark plan never sorts raw lines — delay is a SMALL
    INTEGER, so the percentile comes from an exact (priority, delay)
    HISTOGRAM: one orderkey hash join, one map-side-combinable
    histogram aggregate, then a cumulative window over the ≤
    |priorities|·|distinct delays| histogram frame (the "binned
    histogram rank" every exact-percentile docstring here names as the
    100 TB form — this query IS that form, value-identical to the
    oracle's rank-select spec because the selected rank falls inside
    some delay bin, whose value is what both return). Parallelism is
    never capped at |priorities|."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
        F.col("o_orderpriority").alias("priority"),
    )
    ship_us = EPOCH_US_SQL.format(col="l_shipdate")
    ord_us = EPOCH_US_SQL.format(col="o_orderdate")
    d = li.join(o, "l_orderkey").select(
        "priority",
        F.expr(f"({ship_us} - {ord_us}) div {DAY_US}").alias("delay_days"),
    )
    hist = d.groupBy("priority", "delay_days").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        W.partitionBy("priority")
        .orderBy("delay_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_n = W.partitionBy("priority")
    r = hist.select(
        "priority",
        "delay_days",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_n).alias("n"),
    )

    def pick(p: int):
        # smallest delay bin whose cumulative count reaches ceil(p·n/100)
        idx = F.expr(f"({p} * n + 99) div 100")
        return (
            F.min(F.when(F.col("cum") >= idx, F.col("delay_days")))
            .cast("long")
            .alias(f"p{p}_days")
        )

    breach = F.sum(
        F.when(F.col("delay_days") > _SLA_DAYS, F.col("c")).otherwise(0)
    )
    return (
        r.groupBy("priority")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            pick(50),
            pick(95),
            breach.cast("long").alias("n_breaches"),
            (breach.cast("double") / F.max("n")).alias("breach_rate"),
        )
        .orderBy("priority")
    )


@query(
    "dq_monotonic_id_gaps",
    oracle="""
    WITH ids AS (SELECT DISTINCT event_id FROM events),
    gaps AS (
      SELECT event_id - LAG(event_id) OVER (ORDER BY event_id) AS gap
      FROM ids
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
             CAST(MIN(event_id) AS BIGINT) AS min_id,
             CAST(MAX(event_id) AS BIGINT) AS max_id
      FROM events
    )
    SELECT n_rows, n_distinct, min_id, max_id,
           CAST(max_id - min_id + 1 - n_distinct AS BIGINT) AS n_missing,
           CAST(n_rows - n_distinct AS BIGINT) AS n_dups,
           CAST((SELECT MAX(gap) FROM gaps) AS BIGINT) AS max_gap
    FROM base
    """,
)
def dq_monotonic_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key continuity audit on event_id: row vs distinct
    counts (duplicate detection), the id span vs distinct count
    (missing-id count — dropped ingest batches show up here first),
    and the largest gap between consecutive ids (WHERE the hole is,
    sized). The one-row audit a pipeline asserts on before trusting an
    id column as a join key or a dedup fingerprint.

    Scale: counts and extremes are one map-side-combinable aggregate;
    the max-gap needs consecutive ids — a DISTINCT plus one ordered
    window pass (at production scale: range-bucket ids map-side, then
    per-bucket gaps + bucket-boundary gaps — same answer, no global
    sort; this exact global form is the spec)."""
    ev = load(spark, sf_dir, "events").select("event_id")
    ids = ev.distinct()
    gaps = ids.select(
        (
            F.col("event_id")
            - F.lag("event_id").over(W.orderBy("event_id"))
        ).alias("gap")
    )
    max_gap = gaps.agg(F.max("gap").cast("long").alias("max_gap"))
    base = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_distinct"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )
    return base.crossJoin(F.broadcast(max_gap)).select(
        "n_rows",
        "n_distinct",
        "min_id",
        "max_id",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct"))
        .cast("long")
        .alias("n_missing"),
        (F.col("n_rows") - F.col("n_distinct")).cast("long").alias("n_dups"),
        "max_gap",
    )


# SLO: at most 1% of events may be errors (integer-exact: 100·errors
# vs events), tracked as a cumulative burn series.
_SLO_PCT = 1


@query(
    "events_error_budget_burn",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, n_events, n_errors,
             CAST(SUM(n_events) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events,
             CAST(SUM(n_errors) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_errors
      FROM daily
    )
    SELECT day, n_events, n_errors, cum_events, cum_errors,
           CAST(100 * cum_errors AS DOUBLE) / ({_SLO_PCT} * cum_events)
             AS budget_burned,
           100 * cum_errors > {_SLO_PCT} * cum_events AS slo_breached
    FROM cum ORDER BY day
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-down: under a {_SLO_PCT}%%-errors SLO, the
    cumulative error count against the cumulative budget per day —
    budget_burned > 1 means the budget is spent and the breach flag
    (an integer cross-multiplication, never a float threshold) trips.
    stream_error_rate_alert is the per-window alarm; THIS is the
    month-scale burn series an SRE review reads.

    Scale: one day-grain rollup (map-side combined), then a running
    window over the |days| frame — the cumulative sums never touch raw
    events."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.expr(f"ts_us div {DAY_US}").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )
    w_run = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w_run).cast("long").alias("cum_events"),
        F.sum("n_errors").over(w_run).cast("long").alias("cum_errors"),
    )
    return cum.select(
        "day",
        "n_events",
        "n_errors",
        "cum_events",
        "cum_errors",
        (
            (100 * F.col("cum_errors")).cast("double")
            / (_SLO_PCT * F.col("cum_events"))
        ).alias("budget_burned"),
        (100 * F.col("cum_errors") > _SLO_PCT * F.col("cum_events")).alias(
            "slo_breached"
        ),
    ).orderBy("day")


@query(
    "orders_open_order_aging",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(epoch_us(o_orderdate)) // {DAY_US} AS end_day
      FROM orders
    ),
    aged AS (
      SELECT length(bin(
               end_day - epoch_us(o_orderdate) // {DAY_US} + 1
             )) AS age_bucket,
             CAST(o_totalprice AS DECIMAL(38,10)) AS price
      FROM orders CROSS JOIN mx
      WHERE o_orderstatus = 'O'
    )
    SELECT CAST(age_bucket AS BIGINT) AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_open,
           CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS open_value
    FROM aged GROUP BY age_bucket ORDER BY age_bucket
    """,
)
def orders_open_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging at corpus end: every still-open ('O') order
    bucketed by the bit-width of its age in days (power-of-2 buckets
    via length(bin(n)) — the graph_degree_powerlaw trick, no log), with
    the open value per bucket — the working-capital aging report an
    operations team reads weekly (a fat 2^8-days bucket is stuck
    inventory, not demand).

    Scale: the corpus-end scalar is a 1-row broadcast; the rest is one
    map-side bucket expression + a ≤|buckets| rollup."""
    orders = load(spark, sf_dir, "orders")
    day = f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
    mx = orders.agg(F.expr(f"max({day})").alias("end_day"))
    aged = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            F.length(
                F.bin(F.col("end_day") - F.expr(day) + 1)
            ).alias("age_bucket"),
            F.col("o_totalprice").cast("decimal(38,10)").alias("price"),
        )
    )
    return (
        aged.groupBy(F.col("age_bucket").cast("long").alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_open"),
            F.sum("price").cast("double").alias("open_value"),
        )
        .orderBy("age_bucket")
    )
