"""Relational operator suite over the TPC-H-like corpus: filters and
projections, joins of every kind (star, semi, anti, outer, range, cross,
lateral, as-of), aggregation with rollup/cube/grouping sets, window
frames and ranking, pivot/unpivot, order statistics, subqueries and
their decorrelation, set and multiset operations, string, regex, date,
interval, map, array, JSON and struct functions, exact decimals, sketch
aggregates, the UDF surface and CSV/JSON/ORC/XML round-trips.

Each query is a declarative DataFrame plan, so Catalyst provides
pushdown, pruning, join selection, partial aggregation and AQE, and
each is paired with an exact DuckDB oracle (registry conventions).

Scale: aggregations combine map-side, dimension tables broadcast, sorts
follow aggregation, and correlated subqueries decorrelate into semi,
anti or scalar-broadcast joins. The as-of join is a union of both sides
on (key, time) with ``last(..., ignorenulls=True)`` over a key-
partitioned window: one shuffle on the key and |L|+|R| rows, never
|L|×|R| candidate pairs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, davg, dsum, query
from ..tables import load

# ---------------------------------------------------------------------------
# Q1 — pricing summary (flagship): filter → groupBy → 8 aggs → order.
# Spark plan: parquet scan with pushed l_shipdate filter + pruned columns →
# partial hash agg → exchange on (l_returnflag, l_linestatus) (tiny: ≤ RF×LS
# groups) → final agg → sort. At 100 TB the only shuffle moves a handful of
# partially-aggregated rows per task.
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1998-09-02"


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {DSUM_SQL.format(expr="l_quantity")} AS sum_qty,
      {DSUM_SQL.format(expr="l_extendedprice")} AS sum_base_price,
      {DSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
      {DSUM_SQL.format(expr="l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
      {DSUM_SQL.format(expr="l_quantity")} / COUNT(l_quantity) AS avg_qty,
      {DSUM_SQL.format(expr="l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
      {DSUM_SQL.format(expr="l_discount")} / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary on lineitem."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Scan / filter / projection — the reference's only query capability was
# projection with masking (src/parquet_reader.cpp:92-101); here projection +
# predicate both push into the parquet scan (PushedFilters in .explain).
# ---------------------------------------------------------------------------


@query(
    "q2_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'R'
    """,
)
def q2_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushdown into the parquet scan."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# Multi-way star join. Scale: lineitem⨝orders shuffles on the join key;
# customer/nation/region are broadcast (dims ≪ fact). At 100 TB only the
# fact-fact exchange moves data; AQE handles skew.
# ---------------------------------------------------------------------------


@query(
    "q3_star_join_revenue",
    oracle=f"""
    SELECT r.r_name,
           {DSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def q3_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join + broadcast dimension joins, revenue by region."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# Top-k with total ordering (deterministic LIMIT). Spark's physical plan is
# TakeOrderedAndProject — no global sort materialization.
# ---------------------------------------------------------------------------


@query(
    "q4_top_revenue_orders",
    oracle=f"""
    SELECT l_orderkey,
           {DSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q4_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by revenue (agg → TakeOrderedAndProject)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# ---------------------------------------------------------------------------


@query(
    "q5_semi_join_segments",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q5_semi_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having at least one order, by segment."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q6_anti_join_no_orders",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q6_anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no pending ('P') orders, per nation.

    (Every customer has at least one order in the corpus, so the anti
    join is against the filtered order set to keep the result non-trivial.)
    """
    cust = load(spark, sf_dir, "customer")
    pending = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(pending, cust.c_custkey == pending.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Window functions. Partition key = the natural distribution key, so at
# scale the sort is per-partition after one hash exchange.
# ---------------------------------------------------------------------------


@query(
    "q7_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def q7_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ROW_NUMBER with a unique tiebreaker."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q8_running_qty_per_supplier",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           SUM(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_qty
    FROM lineitem
    """,
)
def q8_running_qty_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total window frame over a total per-partition order."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


# ---------------------------------------------------------------------------
# LAG/LEAD over event streams. Time arithmetic stays on epoch microseconds
# (ts_us, TZ-free) — NTZ↔LTZ casts would silently depend on the driver's
# session timezone.
# ---------------------------------------------------------------------------


@query(
    "q9_event_gaps",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS gap_us,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS next_type
    FROM events
    """,
)
def q9_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (LAG) and next event type (LEAD)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# ---------------------------------------------------------------------------
# Distinct aggregation (exact). Spark plans COUNT(DISTINCT) as a two-phase
# expand+agg — partial per partition, so the shuffle carries distinct keys,
# not rows.
# ---------------------------------------------------------------------------


@query(
    "q10_distinct_aggs",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_finished
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q10_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT + conditional aggregation per group."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("n_finished"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# ROLLUP / CUBE / GROUPING SETS. Subtotal rows carry NULL group keys in
# both engines.
# ---------------------------------------------------------------------------


@query(
    "q11_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM_SQL.format(expr="l_quantity")} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "q12_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {DSUM_SQL.format(expr="o_totalprice")} AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations via CUBE."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q13_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_suppkey,
           {DSUM_SQL.format(expr="l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey))
    """,
)
def q13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (via the SQL API — same Catalyst plan)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    # Spark dialect spells the roundtrip type STRING, not VARCHAR.
    return spark.sql(
        """
        SELECT l_returnflag, l_suppkey,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS STRING)
                    AS DOUBLE) AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey))
        """
    )


# ---------------------------------------------------------------------------
# Row-level set operations.
# ---------------------------------------------------------------------------


@query(
    "q14_set_ops",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'cust_only' AS tag, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'supp_only' AS tag, nationkey FROM (SELECT nationkey FROM sn EXCEPT SELECT nationkey FROM cn)
    """,
)
def q14_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over distinct key sets."""
    cn = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    tag = lambda df, t: df.select(F.lit(t).alias("tag"), "nationkey")  # noqa: E731
    return (
        tag(cn.intersect(sn), "both")
        .unionAll(tag(cn.subtract(sn), "cust_only"))
        .unionAll(tag(sn.subtract(cn), "supp_only"))
    )


# ---------------------------------------------------------------------------
# Scalar function families. Only cross-engine-deterministic functions are
# oracle-matched (sqrt is IEEE-exact; round() on doubles is NOT — Spark
# rounds the shortest-decimal repr, DuckDB the binary value).
# ---------------------------------------------------------------------------


@query(
    "q15_math_funcs",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(CAST(floor(sqrt(l_extendedprice) * 1000000.0) AS BIGINT))
                AS BIGINT) AS sum_sqrt_price_micro,
           {DSUM_SQL.format(expr="abs(l_discount - 0.05)")} AS sum_abs_disc,
           CAST(SUM(CAST(floor(l_quantity / 7) AS BIGINT)) AS BIGINT) AS sum_floor_q7,
           CAST(SUM(CAST(ceil(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_ceil_tax,
           CAST(SUM(CAST(l_partkey % 13 AS BIGINT)) AS BIGINT) AS sum_mod_part
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q15_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt/abs/floor/ceil/modulo arithmetic, aggregated per flag.

    sqrt values are irrational, so even DECIMAL-casting disagrees across
    engines at the 10th decimal; the deterministic form is a floor-scaled
    integer sum (floor/multiply are exact IEEE ops in both engines).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(
                F.floor(F.sqrt(F.col("l_extendedprice")) * 1000000.0)
            ).alias("sum_sqrt_price_micro"),
            dsum(F.abs(F.col("l_discount") - 0.05)).alias("sum_abs_disc"),
            F.sum(F.floor(F.col("l_quantity") / 7)).alias("sum_floor_q7"),
            F.sum(F.ceil(F.col("l_tax") * 100)).alias("sum_ceil_tax"),
            F.sum(F.col("l_partkey") % 13).alias("sum_mod_part"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substring(p_name, 1, 5) AS name_pfx,
           replace(p_name, ' ', '_') AS name_snake,
           concat(p_brand, '/', p_type) AS brand_type,
           split_part(p_name, ' ', 1) AS first_token,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           trim('  ' || p_brand || ' ') AS brand_trimmed
    FROM part
    """,
)
def q16_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/length/substring/replace/concat/split/lpad/trim."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_token"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias(
            "brand_trimmed"
        ),
    )


@query(
    "q17_date_funcs",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           date_trunc('month', o_orderdate) AS month_start,
           COUNT(*) AS n_orders,
           {DSUM_SQL.format(expr="o_totalprice")} AS sum_price
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def q17_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/quarter extraction + date_trunc bucketing."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("timestamp_ntz")
            .alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Array functions over the embeddings table. Spark's F.aggregate and
# DuckDB's list_aggregate are both sequential left folds over doubles —
# verified bit-identical — so no scaled-integer workaround is needed.
# ---------------------------------------------------------------------------


@query(
    "q18_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
             AS vec_sum,
           list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'sum')
             AS l1_norm,
           list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS max_val
    FROM embeddings
    """,
)
def q18_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / element access / transform+aggregate fold / array_max."""
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.col("embedding").getItem(0).cast("double").alias("first_val"),
        F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x).alias("vec_sum"),
        F.aggregate(
            F.transform("embedding", lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("l1_norm"),
        F.array_max(as_double).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# JSON extraction (events.props is a JSON string column).
# ---------------------------------------------------------------------------


@query(
    "q19_json_funcs",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q19_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object + typed extraction, aggregated per event type."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(
                F.get_json_object("props", "$.k").cast("int")
            ).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Subqueries: IN (uncorrelated) and correlated scalar.
# ---------------------------------------------------------------------------


@query(
    "q20_in_subquery",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q20_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (Catalyst rewrites to a left-semi join)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_q20")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_q20")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders
        FROM orders_q20
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer_q20 WHERE c_mktsegment = 'BUILDING'
        )
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@query(
    "q21_correlated_scalar",
    oracle="""
    SELECT n.n_name,
           (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
             AS n_customers,
           (SELECT COUNT(*) FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
             AS n_suppliers
    FROM nation n
    ORDER BY n.n_name
    """,
)
def q21_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (decorrelated to aggregated joins)."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_q21")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_q21")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q21")
    return spark.sql(
        """
        SELECT n.n_name,
               (SELECT COUNT(*) FROM customer_q21 c
                WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
               (SELECT COUNT(*) FROM supplier_q21 s
                WHERE s.s_nationkey = n.n_nationkey) AS n_suppliers
        FROM nation_q21 n
        ORDER BY n.n_name
        """
    )


# ---------------------------------------------------------------------------
# Range (theta) join: equi key + BETWEEN residual. Spark executes the equi
# part as the join key and evaluates the range as a post-join filter, so
# there's no candidate-pair explosion.
# ---------------------------------------------------------------------------


@query(
    "q22_range_join",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_matched,
           {DSUM_SQL.format(expr="l.l_extendedprice")} AS sum_price
    FROM lineitem l
    JOIN part p
      ON l.l_partkey = p.p_partkey
     AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def q22_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-predicate join with broadcast of the dim side."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(part),
            (li.l_partkey == part.p_partkey)
            & (li.l_quantity >= part.p_size - 2)
            & (li.l_quantity <= part.p_size + 2),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Exact percentiles. Spark's percentile() and DuckDB's quantile_cont()
# interpolate identically (verified bit-identical on this corpus).
# ---------------------------------------------------------------------------


@query(
    "q24_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.75) AS p75_price,
           quantile_cont(l_quantity, 0.9) AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.5).alias("median_price"),
            F.percentile("l_extendedprice", 0.25).alias("p25_price"),
            F.percentile("l_extendedprice", 0.75).alias("p75_price"),
            F.percentile("l_quantity", 0.9).alias("p90_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot.
# ---------------------------------------------------------------------------


@query(
    "q25_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {DSUM_SQL.format(expr="CASE WHEN l_linestatus = 'O' THEN l_quantity END")}
             AS qty_O,
           {DSUM_SQL.format(expr="CASE WHEN l_linestatus = 'F' THEN l_quantity END")}
             AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q25_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (explicit value list => no extra
    distinct-scan job at scale)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum(F.col("l_quantity")))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
        .orderBy("l_returnflag")
    )


@query(
    "q27_unpivot",
    oracle=f"""
    WITH agg AS (
      SELECT l_returnflag,
             {DSUM_SQL.format(expr="l_quantity")} AS qty,
             {DSUM_SQL.format(expr="l_discount")} AS disc,
             {DSUM_SQL.format(expr="l_tax")} AS tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS metric, qty AS total FROM agg
    UNION ALL
    SELECT l_returnflag, 'disc' AS metric, disc AS total FROM agg
    UNION ALL
    SELECT l_returnflag, 'tax' AS metric, tax AS total FROM agg
    """,
)
def q27_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide metrics → long) after aggregation."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity")).alias("qty"),
        dsum(F.col("l_discount")).alias("disc"),
        dsum(F.col("l_tax")).alias("tax"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["qty", "disc", "tax"], "metric", "total"
    )


# ---------------------------------------------------------------------------
# Outer joins / HAVING / cross join / distinct.
# ---------------------------------------------------------------------------


@query(
    "q26_full_outer_join",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    ORDER BY nationkey
    """,
)
def q26_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with COALESCE null handling."""
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cn.join(sn, cn.nk == sn.nk, "full_outer")
        .select(
            F.coalesce(cn.nk, sn.nk).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "q28_having",
    oracle=f"""
    SELECT l_suppkey, {DSUM_SQL.format(expr="l_quantity")} AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING {DSUM_SQL.format(expr="l_quantity")} > 15000
    ORDER BY l_suppkey
    """,
)
def q28_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 15000)
        .orderBy("l_suppkey")
    )


@query(
    "q29_cross_join",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    ORDER BY r.r_name, s.o_orderstatus
    """,
)
def q29_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two (small) inputs."""
    region = load(spark, sf_dir, "region").select("r_name")
    statuses = load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(statuses).orderBy("r_name", "o_orderstatus")


@query(
    "q30_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q30_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (hash-aggregate without aggregates)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@query(
    "q31_window_range_frame",
    oracle=f"""
    SELECT o1.o_custkey, o1.o_orderkey,
           {DSUM_SQL.format(expr="o2.o_totalprice")} AS spend_30d
    FROM (
      SELECT o_custkey, o_orderkey,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS t
      FROM orders
    ) o1
    JOIN (
      SELECT o_custkey AS ck, o_totalprice,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS t2
      FROM orders
    ) o2 ON o1.o_custkey = o2.ck AND o2.t2 BETWEEN o1.t - 30 AND o1.t
    GROUP BY o1.o_custkey, o1.o_orderkey
    ORDER BY o1.o_custkey, o1.o_orderkey
    """,
)
def q31_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: rolling 30-day spend per customer, ordered on an
    epoch-day integer (datediff on NTZ — TZ-free). The oracle restates
    the frame as a self-join; Spark's RANGE frame includes all peers at
    equal order value, which is exactly the BETWEEN semantics.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "t", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp_ntz"))
    )
    w = W.partitionBy("o_custkey").orderBy("t").rangeBetween(-30, 0)
    # .over must wrap the aggregate itself; the decimal→double cast sits
    # outside the window expression
    spend = F.sum(F.col("o_totalprice").cast("decimal(38,10)")).over(w)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            spend.cast("double").alias("spend_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q32_rank_functions",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           DENSE_RANK()   OVER w AS drank,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS prank,
           CUME_DIST()    OVER w AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q32_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / percent_rank / cume_dist over a total order."""
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "q33_regex_fuzzy",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           CAST(regexp_matches(p_type, '^(ECONOMY|PROMO)') AS BOOLEAN) AS is_cheap,
           CAST(levenshtein(p_brand, 'Brand#10') AS INT) AS brand_dist
    FROM part
    """,
)
def q33_regex_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / global regexp_replace / rlike / levenshtein."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", r"[aeiou]", "*").alias("devoweled"),
        F.col("p_type").rlike(r"^(ECONOMY|PROMO)").alias("is_cheap"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#10")).alias("brand_dist"),
    )


@query(
    "q34_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           1 AS n_keys,
           'k' AS first_key
    FROM events
    WHERE event_type = 'click'
    """,
)
def q34_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON → MapType → map_keys/size/element access (props = {"k": n})."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    as_map = F.from_json(F.col("props"), "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(as_map, "k").alias("k_val"),
        F.size(as_map).alias("n_keys"),
        F.element_at(F.map_keys(as_map), 1).alias("first_key"),
    )


@query(
    "q35_union_by_name",
    oracle="""
    SELECT src, c_custkey, c_acctbal, c_mktsegment FROM (
      SELECT 'full' AS src, c_custkey, c_acctbal, c_mktsegment FROM customer
      UNION ALL
      SELECT 'slim' AS src, c_custkey, NULL AS c_acctbal, c_mktsegment
      FROM customer WHERE c_nationkey < 5
    )
    """,
)
def q35_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: unionByName(allowMissingColumns=True) pads
    the missing column with NULL — the engine-level analog of the
    reference's union-of-row-schemas write model (SURVEY.md §1.4)."""
    c = load(spark, sf_dir, "customer")
    full = c.select(
        F.lit("full").alias("src"), "c_custkey", "c_acctbal", "c_mktsegment"
    )
    slim = (
        c.filter(F.col("c_nationkey") < 5)
        .select(F.lit("slim").alias("src"), "c_custkey", "c_mktsegment")
    )
    return full.unionByName(slim, allowMissingColumns=True)


@query(
    "q36_hex_codecs",
    oracle="""
    SELECT p_partkey,
           lower(hex(p_name)) AS name_hex,
           CAST(unhex(lower(hex(p_name))) AS VARCHAR) AS roundtrip,
           (CAST(unhex(lower(hex(p_name))) AS VARCHAR) = p_name) AS ok
    FROM part
    """,
)
def q36_hex_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex codecs (reference O14, src/crypto_utils.cpp:143-161 — its
    BytesToHex emits lowercase, Spark's HEX uppercase, hence lower())."""
    p = load(spark, sf_dir, "part")
    hexed = F.lower(F.hex(F.col("p_name").cast("binary")))
    return p.select(
        "p_partkey",
        hexed.alias("name_hex"),
        F.unhex(hexed).cast("string").alias("roundtrip"),
        (F.unhex(hexed).cast("string") == F.col("p_name")).alias("ok"),
    )


@query(
    "q37_try_decrypt_wrong_key",
    oracle="""
    SELECT COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_decryptable
    FROM documents
    """,
)
def q37_try_decrypt_wrong_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative path: try_aes_decrypt under the wrong key yields NULL for
    every row instead of failing the job (reference analog: GCM tag
    mismatch throws, src/crypto_utils.cpp:135-137; the engine offers
    both fail-fast aes_decrypt and NULL-on-failure try_aes_decrypt)."""
    docs = load(spark, sf_dir, "documents")
    enc = docs.select(
        F.aes_encrypt(
            F.col("text"),
            F.unhex(F.lit("00112233445566778899AABBCCDDEEFF")),
            F.lit("GCM"),
        ).alias("ct")
    )
    dec = enc.select(
        F.try_aes_decrypt(
            F.col("ct"),
            F.unhex(F.lit("FFEEDDCCBBAA99887766554433221100")),
            F.lit("GCM"),
        ).alias("pt")
    )
    return dec.agg(
        F.count(F.lit(1)).alias("n_rows"), F.count("pt").alias("n_decryptable")
    )


@query(
    "q38_pandas_udf",
    oracle="""
    SELECT doc_id,
           length(text) * 1.5 + len(string_split(text, ' ')) AS score
    FROM documents
    """,
)
def q38_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF — the sanctioned Python scalar path.
    Deterministic arithmetic so the oracle can restate it in SQL."""
    from pyspark.sql.types import DoubleType

    def make_udf():
        # nested => cloudpickle by value (see operators/multimodal.py);
        # explicit returnType form because `from __future__ import
        # annotations` stringifies hints, which pandas_udf can't resolve
        def score_fn(n_chars, n_tokens):
            return n_chars * 1.5 + n_tokens

        return F.pandas_udf(score_fn, DoubleType())

    score = make_udf()
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        score(
            F.length("text").cast("double"),
            F.size(F.split(F.col("text"), " ")).cast("double"),
        ).alias("score"),
    )


# --- file-format round-trips (CSV / JSON / ORC) ----------------------------

_IO_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_io")


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Write orders to ``fmt``, read it back with an explicit schema, and
    aggregate — proving sink+source fidelity for the format."""
    path = os.path.join(_IO_ROOT, os.path.basename(sf_dir.rstrip("/")), fmt)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    writer = src.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(path)
        back = (
            spark.read.option("header", True)
            .schema("o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double")
            .csv(path)
        )
    elif fmt == "json":
        writer.json(path)
        back = spark.read.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
        ).json(path)
    else:
        writer.orc(path)
        back = spark.read.orc(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


_RT_ORACLE = f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {DSUM_SQL.format(expr="o_totalprice")} AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """


@query("q39_csv_roundtrip", oracle=_RT_ORACLE)
def q39_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (explicit schema, header)."""
    return _roundtrip(spark, sf_dir, "csv")


@query("q40_json_roundtrip", oracle=_RT_ORACLE)
def q40_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip (explicit schema)."""
    return _roundtrip(spark, sf_dir, "json")


@query("q41_orc_roundtrip", oracle=_RT_ORACLE)
def q41_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (schema from ORC metadata)."""
    return _roundtrip(spark, sf_dir, "orc")


@query(
    "q43_left_outer_join",
    oracle="""
    SELECT c.c_custkey, p.n_pending
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_pending
      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
    ) p ON c.c_custkey = p.o_custkey
    ORDER BY c.c_custkey
    """,
)
def q43_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving unmatched left rows as NULLs."""
    cust = load(spark, sf_dir, "customer")
    pending = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_pending"))
    )
    return (
        cust.join(pending, cust.c_custkey == pending.o_custkey, "left")
        .select("c_custkey", "n_pending")
        .orderBy("c_custkey")
    )


@query(
    "q44_null_semantics",
    oracle="""
    WITH g AS (
      SELECT c_custkey,
             NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
             CASE WHEN c_acctbal < 1000 THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           COALESCE(a.seg_or_null, 'masked') AS seg_filled,
           (a.bal IS NULL) AS bal_missing
    FROM g a JOIN g b
      ON a.seg_or_null IS NOT DISTINCT FROM b.seg_or_null
     AND a.c_custkey + 1 = b.c_custkey
    ORDER BY cust_a
    """,
)
def q44_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: NULLIF/COALESCE/IS NULL plus a NULL-SAFE equality
    join (<=> / IS NOT DISTINCT FROM) — ordinary equality would silently
    drop every NULL=NULL pair."""
    c = load(spark, sf_dir, "customer")
    g = c.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.when(F.col("c_acctbal") < 1000, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    a = g.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("seg_or_null").alias("seg_a"),
        F.col("bal").alias("bal_a"),
    )
    b = g.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("seg_or_null").alias("seg_b"),
    )
    return (
        a.join(
            b,
            a.seg_a.eqNullSafe(b.seg_b)
            & (F.col("cust_a") + 1 == F.col("cust_b")),
        )
        .select(
            "cust_a",
            "cust_b",
            F.coalesce("seg_a", F.lit("masked")).alias("seg_filled"),
            F.col("bal_a").isNull().alias("bal_missing"),
        )
        .orderBy("cust_a")
    )


@query(
    "q42_approx_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_ok,
           TRUE AS median_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q42_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates (HLL++ distinct, GK quantiles) — the
    100 TB substitutes for their exact cousins — gated by ERROR BOUND,
    not by value: the sketch outputs are engine-specific by design, so
    the query emits booleans asserting |approx − exact| within the
    sketches' documented bounds (HLL++ rsd 0.05 → 3σ = 15% relative;
    GK accuracy 1000 → rank error 1e-3, checked against the generous
    exact 45th–55th percentile envelope) and the oracle emits literal
    TRUE — a hash match IS the epsilon check.

    Plan note: the exact distinct count runs as its own two-stage
    aggregate (distinct → count) joined back by broadcast, NOT as a
    ``countDistinct`` inside the sketch aggregate — countDistinct
    compiles to an Expand that duplicates every input row per aggregate
    group, and the exact-percentile buffers in the same Aggregate would
    be built over the expanded input (measured at sf0.1: 12.8 s fused
    vs 3.7 s split, 3.5×). At 100 TB the split form is also the right
    shape: the distinct pre-aggregate combines map-side."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    # ONE exact-percentile buffer for both envelope bounds
    # (optimization r13): two scalar percentile() aggregates each
    # collected the full per-group value buffer; the array form
    # computes both order statistics from a single buffer — same
    # algorithm, identical values, half the aggregation state.
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias(
            "approx_median"
        ),
        F.percentile(
            price, F.array(F.lit(0.45), F.lit(0.55))
        ).alias("lohi"),
    ).join(F.broadcast(exact), "l_returnflag")
    agg = agg.withColumn("lo", F.col("lohi")[0]).withColumn(
        "hi", F.col("lohi")[1]
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.15
        ).alias("hll_ok"),
        F.col("approx_median")
        .cast("double")
        .between(F.col("lo"), F.col("hi"))
        .alias("median_ok"),
    ).orderBy("l_returnflag")


@query(
    "q45_pivot",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'P') AS n_pending,
           {DSUM_SQL.format(expr="o.o_totalprice")} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q45_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status counts spread into columns per market segment
    (explicit pivot values keep the plan static — no extra distinct-scan
    job, the form that matters when the pivot source is 100 TB)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"O": "n_open", "F": "n_finished", "P": "n_pending"})
    )
    sums = joined.groupBy("c_mktsegment").agg(
        dsum(F.col("o_totalprice")).alias("sum_price")
    )
    return (
        pivoted.join(sums, "c_mktsegment")
        .select("c_mktsegment", "n_open", "n_finished", "n_pending", "sum_price")
        .orderBy("c_mktsegment")
    )


@query(
    "q46_unpivot",
    oracle=f"""
    WITH m AS (
      SELECT 'p_retailprice' AS metric, p_retailprice AS value FROM part
      UNION ALL
      SELECT 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    )
    SELECT metric, COUNT(*) AS n,
           {DSUM_SQL.format(expr="value")} AS total
    FROM m GROUP BY metric ORDER BY metric
    """,
)
def q46_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide part metrics to long (metric, value) rows,
    then aggregate per metric — the wide→long reshape is a map-side
    explode, no shuffle beyond the final aggregation."""
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    melted = part.unpivot(
        "p_partkey", ["p_retailprice", "p_size"], "metric", "value"
    )
    return (
        melted.groupBy("metric")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
        .orderBy("metric")
    )


@query(
    "q47_median_stats",
    oracle="""
    SELECT l_returnflag,
           median(CAST(l_quantity AS BIGINT)) AS med_qty,
           CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
           CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q47_median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics per group: median over integral
    quantities ((a+b)/2 midpoint is exact in double on both engines —
    the float-interpolated percentiles stay in q42's epsilon gate)."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.median(qty).alias("med_qty"),
            F.min(qty).alias("min_qty"),
            F.max(qty).alias("max_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q48_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'MACHINERY'
    ORDER BY c.c_custkey, t.o_orderkey
    """,
)
def q48_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: top-2 orders per customer expressed as a
    per-row subquery. Catalyst DECORRELATES this into a ranked window
    over one shuffle of orders — same physical plan as the explicit
    row_number formulation, declared at the semantic level."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_q48")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_q48")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_q48 c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_q48 o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'MACHINERY'
        ORDER BY c.c_custkey, t.o_orderkey
        """
    )


@query(
    "q49_exists_forms",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    ORDER BY c.c_custkey
    """,
)
def q49_exists_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS correlated subqueries — Catalyst plans them
    as one left-semi and one left-anti hash join, no subquery re-execution
    per row."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_q49")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_q49")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment
        FROM customer_q49 c
        WHERE EXISTS (SELECT 1 FROM orders_q49 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
          AND NOT EXISTS (SELECT 1 FROM orders_q49 o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        ORDER BY c.c_custkey
        """
    )


@query(
    "q50_multiset_ops",
    oracle="""
    WITH in_both AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ),
    only_open AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'intersect_all' AS op, o_custkey, COUNT(*) AS multiplicity
    FROM in_both GROUP BY o_custkey
    UNION ALL
    SELECT 'except_all' AS op, o_custkey, COUNT(*) AS multiplicity
    FROM only_open GROUP BY o_custkey
    ORDER BY op, o_custkey
    """,
)
def q50_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations: INTERSECT ALL / EXCEPT ALL keep
    multiplicities (min / difference of per-side counts) — unlike the
    DISTINCT set-ops in q14. One shuffle each on the compared columns."""
    orders = load(spark, sf_dir, "orders")
    opens = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fins = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    inter = (
        opens.intersectAll(fins)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "multiplicity")
    )
    exc = (
        opens.exceptAll(fins)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "multiplicity")
    )
    return inter.unionByName(exc).orderBy("op", "o_custkey")


# --- XML / text sources -----------------------------------------------------

_IO3_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_io3")


@query("q51_xml_roundtrip", oracle=_RT_ORACLE)
def q51_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4 built-in XML datasource,
    explicit schema on read — schema inference over 100 TB of XML is a
    full extra pass)."""
    path = os.path.join(_IO3_ROOT, os.path.basename(sf_dir.rstrip("/")), "xml")
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src.write.mode("overwrite").option("rowTag", "order").xml(path)
    back = (
        spark.read.option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .xml(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q52_text_source",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MIN(length(text)) AS BIGINT) AS min_chars
    FROM documents
    """,
)
def q52_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text sink + source: documents written as raw text
    files (one doc per line) and read back with ``spark.read.text`` —
    the ingestion shape of a web-scrape corpus before any schema
    exists."""
    path = os.path.join(_IO3_ROOT, os.path.basename(sf_dir.rstrip("/")), "text")
    docs = load(spark, sf_dir, "documents")
    docs.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)  # one `value` column per line
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value").cast("long")).alias("total_chars"),
        F.min(F.length("value").cast("long")).alias("min_chars"),
    )


@query(
    "q53_conditional_aggs",
    oracle="""
    SELECT c_mktsegment,
           CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative,
           bool_or(c_acctbal > 9000) AS has_rich,
           bool_and(c_acctbal > -1000) AS all_above_floor,
           arg_max(c_name, c_custkey) AS newest_name
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q53_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / argument aggregates: count_if, bool_or/bool_and,
    max_by keyed on a UNIQUE column (ties would be engine-defined
    otherwise). All map-side partial-aggregable."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
            F.bool_or(F.col("c_acctbal") > 9000).alias("has_rich"),
            F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
            F.max_by("c_name", "c_custkey").alias("newest_name"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q54_ignore_nulls_window",
    oracle="""
    SELECT o_orderkey, o_custkey,
           last_value(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END
                      IGNORE NULLS)
             OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_finished_orderkey
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q54_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window forward-fill: each order carries the most
    recent finished order of the same customer — the gap-fill idiom
    behind the as-of join (asof.py) exposed as a first-class query."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    finished_key = F.when(
        F.col("o_orderstatus") == "F", F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.last(finished_key, ignorenulls=True)
        .over(w)
        .alias("last_finished_orderkey"),
    ).orderBy("o_orderkey")


@query(
    "q55_sequence_arrays",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(list_aggregate(range(1, l_linenumber + 1), 'sum'))
                AS BIGINT) AS tri_sum,
           CAST(SUM(len(range(1, l_linenumber + 1))) AS BIGINT) AS n_elems
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q55_sequence_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array generation + fold: per-row integer sequences aggregated
    JVM-side (sequence/aggregate are codegen'd expressions — the
    generate-then-fold shape stays inside the row, no explode
    shuffle)."""
    li = load(spark, sf_dir, "lineitem")
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    tri = F.aggregate(
        seq, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(tri).alias("tri_sum"),
            F.sum(F.size(seq).cast("long")).alias("n_elems"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q56_decimal_exact",
    oracle="""
    SELECT o_orderstatus,
           CAST(CAST(SUM(CAST(o_orderkey % 100000 AS DECIMAL(18,2))
               * CAST('0.01' AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE)
               AS sum_cents,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q56_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL arithmetic: integer-derived decimal amounts scaled
    by a DECIMAL factor (division would degrade to DOUBLE in DuckDB) and
    summed without float involvement — insensitive to aggregation order
    (what money columns should use instead of double).

    The SUM itself is exact decimal; only the FINAL result is cast to
    DOUBLE for output (registry convention #2): Spark types the sum
    DECIMAL(33,4), DuckDB DECIMAL(38,4), and the two clients render raw
    decimals differently (round-2 driver hash mismatch). The sum's
    magnitude (scale 4, < 2^49) is exactly representable in double, so
    the cast loses nothing; DuckDB goes through VARCHAR because its
    direct DECIMAL->DOUBLE cast is not correctly rounded."""
    orders = load(spark, sf_dir, "orders")
    cents = (F.col("o_orderkey") % 100000).cast("decimal(18,2)") * F.lit(
        "0.01"
    ).cast("decimal(4,2)")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.sum(cents).cast("double").alias("sum_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q57_interval_arith",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           strftime(CAST(MIN(date_trunc('quarter',
                    o_orderdate + INTERVAL 3 MONTH)) AS DATE), '%Y-%m-%d')
             AS min_due_quarter,
           MAX(datediff('day', DATE '1995-01-01', o_orderdate))
             AS max_days_since
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q57_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/date arithmetic: due-date shifted a quarter out
    (add_months + trunc) and day deltas vs an epoch date, aggregated
    per priority. All date math is JVM expressions evaluated map-side;
    the shuffle moves only the 5-row aggregate."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # trunc() returns DATE (TZ-free); date_trunc() would return
            # an LTZ timestamp whose value shifts with the session TZ.
            # Emit as a yyyy-MM-dd string so both engines canon equal.
            F.date_format(
                F.min(F.trunc(F.add_months(F.col("o_orderdate"), 3), "quarter")),
                "yyyy-MM-dd",
            ).alias("min_due_quarter"),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            ).alias("max_days_since"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q58_string_agg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def q58_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): nations per region as a
    sorted comma-joined string. Spark spells it
    array_join(array_sort(collect_list(...))) — the sort pins the
    intra-group order that collect_list alone leaves
    partition-dependent, which is exactly the nondeterminism SQL's
    WITHIN GROUP (ORDER BY) exists to remove."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).cast("long").alias("n_nations"),
        )
        .orderBy("r_name")
    )


@query(
    "events_rollup_multigrain",
    oracle="""
    WITH b AS (
      SELECT (epoch_us(ts) // 60000000) * 60000000 AS m,
             (epoch_us(ts) // 3600000000) * 3600000000 AS h,
             (epoch_us(ts) // 86400000000) * 86400000000 AS d,
             value
      FROM events
    )
    SELECT CASE WHEN GROUPING(m) = 0 THEN 'minute'
                WHEN GROUPING(h) = 0 THEN 'hour'
                ELSE 'day' END AS grain,
           COALESCE(m, h, d) AS bucket_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) AS total_value
    FROM b GROUP BY GROUPING SETS ((m), (h), (d))
    ORDER BY grain, bucket_us
    """,
)
def events_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: minute, hour, and
    day grains materialized in ONE pass via GROUPING SETS — the
    timeseries-db pattern (e.g. TimescaleDB continuous aggregates)
    expressed as a single Spark aggregation. Buckets are integer
    epoch-microsecond arithmetic (ts_us), never NTZ↔LTZ casts, so the
    result is timezone-independent; partial aggregation combines
    map-side before the one shuffle that carries all three grains."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        (F.expr("ts_us div 60000000") * 60000000).alias("m"),
        (F.expr("ts_us div 3600000000") * 3600000000).alias("h"),
        (F.expr("ts_us div 86400000000") * 86400000000).alias("d"),
        "value",
    )
    return (
        b.groupingSets([["m"], ["h"], ["d"]], "m", "h", "d")
        .agg(
            # grouping() is only legal inside the grouping-sets agg
            F.grouping("m").alias("gm"),
            F.grouping("h").alias("gh"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.when(F.col("gm") == 0, "minute")
            .when(F.col("gh") == 0, "hour")
            .otherwise("day")
            .alias("grain"),
            F.coalesce("m", "h", "d").alias("bucket_us"),
            "n_events",
            "total_value",
        )
        .orderBy("grain", "bucket_us")
    )


@query(
    "q59_stat_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                  AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice
                  AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           sx / n AS mean_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
             AS corr_qty_price
    FROM s ORDER BY l_returnflag
    """,
)
def q59_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments — sample stddev and Pearson correlation —
    computed from DECIMAL(38,10)-exact power sums, then combined in
    double (every per-row product here is exact in IEEE double, and
    the closed-form combination is the same correctly-rounded op
    sequence on both engines). NOT Spark's stddev_samp/corr: their
    streaming-update formulas are aggregation-order-dependent, which
    breaks cross-engine hashing — the power-sum form is also the
    map-side-combinable one a distributed engine wants anyway."""
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,10)")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sx"),
        F.sum(dec(F.col("l_quantity") * F.col("l_quantity")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sy"),
        F.sum(dec(F.col("l_extendedprice") * F.col("l_extendedprice")))
        .cast("double")
        .alias("syy"),
        F.sum(dec(F.col("l_quantity") * F.col("l_extendedprice")))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    # try_divide (r13 division audit): a 1-row group zeroes n−1 and a
    # constant column zeroes the correlation denominator — both legal;
    # the moments are undefined there => NULL, matching DuckDB's
    # native double division-by-zero NULL. n itself is a group count
    # (>= 1 structurally), so sx/n stays a plain division.
    var_x = F.try_divide(sxx - sx * sx / n, n - 1)
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        (sx / n).alias("mean_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        F.try_divide(
            sxy - sx * sy / n,
            F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n),
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q60_try_funcs",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_totalprice / NULLIF(o_orderkey % 5, 0)
                         IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_divisible,
           CAST(COUNT(TRY_CAST(o_orderpriority AS INT)) AS BIGINT)
             AS n_numeric_priority,
           CAST(COUNT(string_split(o_orderpriority, '-')[3]) AS BIGINT)
             AS n_has_third_part
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q60_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: Spark 4 runs ANSI mode by default, so
    division by zero / bad casts / out-of-bounds indexing THROW unless
    routed through the try_* family — try_divide, try_cast,
    try_element_at — which return NULL exactly like DuckDB's
    NULLIF-guarded division, TRY_CAST, and (natively NULL-padding) list
    indexing. Counting the NULLs proves each soft-failure path."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.try_divide(
                        F.col("o_totalprice"), F.col("o_orderkey") % 5
                    ).isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_divisible"),
            F.count(F.expr("try_cast(o_orderpriority AS INT)"))
            .cast("long")
            .alias("n_numeric_priority"),
            F.count(
                F.try_element_at(F.split("o_orderpriority", "-"), F.lit(3))
            )
            .cast("long")
            .alias("n_has_third_part"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q61_struct_explode",
    oracle="""
    SELECT o_orderpriority, u.scn AS scenario,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(u.px AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS sum_px
    FROM orders,
         UNNEST([struct_pack(scn := 'p90', px := o_totalprice * 0.9),
                 struct_pack(scn := 'p75', px := o_totalprice * 0.75)]) AS t(u)
    GROUP BY o_orderpriority, scenario
    ORDER BY o_orderpriority, scenario
    """,
)
def q61_struct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type construction and flattening: build an array of
    scenario structs per row (what-if discount pricing), explode it,
    access struct fields, aggregate per (priority, scenario). The
    explode doubles row count map-side BEFORE the partial agg shrinks
    it back — no shuffle ever carries the exploded rows, only the
    (priority × scenario) partials."""
    orders = load(spark, sf_dir, "orders")
    from ..registry import dsum

    scenarios = F.array(
        F.struct(
            F.lit("p90").alias("scn"),
            (F.col("o_totalprice") * 0.9).alias("px"),
        ),
        F.struct(
            F.lit("p75").alias("scn"),
            (F.col("o_totalprice") * 0.75).alias("px"),
        ),
    )
    return (
        orders.select("o_orderpriority", F.explode(scenarios).alias("u"))
        .select(
            "o_orderpriority",
            F.col("u.scn").alias("scenario"),
            F.col("u.px").alias("px"),
        )
        .groupBy("o_orderpriority", "scenario")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dsum(F.col("px")).alias("sum_px"),
        )
        .orderBy("o_orderpriority", "scenario")
    )


@query(
    "udaf_grouped_pandas",
    oracle="""
    WITH d AS (
      SELECT lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars * n_tok) AS BIGINT) AS wsum,
           CAST(SUM(n_tok) AS BIGINT) AS wtot,
           CAST((100 * SUM(n_chars * n_tok)) // SUM(n_tok) AS BIGINT)
             AS wmean_x100
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation through applyInPandas (the UDAF
    surface): token-weighted character stats per language, computed in
    Arrow-batched pandas with INTEGER arithmetic only — float
    accumulation in Python would be partition-order-dependent and break
    the cross-engine hash; int64 sums are exact and order-free. The
    group-by shuffle is the same as a native agg; what's lost vs
    built-ins is map-side partial aggregation (each group's rows must
    co-locate), which is exactly why the native power-sum forms
    elsewhere are preferred when expressible."""
    import pandas as pd  # noqa: F401

    docs = load(spark, sf_dir, "documents").select("lang", "n_chars", "text")

    def weighted_stats(pdf):
        import pandas as _pd

        n_tok = pdf["text"].str.split(" ").map(len).astype("int64")
        w = (pdf["n_chars"].astype("int64") * n_tok).sum()
        t = int(n_tok.sum())
        return _pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "wsum": [int(w)],
                "wtot": [t],
                "wmean_x100": [(100 * int(w)) // t],
            }
        )

    return (
        docs.groupBy("lang")
        .applyInPandas(
            weighted_stats,
            schema="lang string, n_docs long, wsum long, wtot long, "
            "wmean_x100 long",
        )
        .orderBy("lang")
    )


@query(
    "q62_nested_order_lines",
    oracle="""
    WITH nested AS (
      SELECT l_orderkey,
             list(struct_pack(ln := l_linenumber,
                              qty := l_quantity,
                              price := l_extendedprice)
                  ORDER BY l_linenumber) AS lines
      FROM lineitem WHERE l_orderkey < 100
      GROUP BY l_orderkey
    )
    SELECT l_orderkey AS o_orderkey,
           CAST(len(lines) AS INT) AS n_lines,
           list_aggregate(list_transform(lines, x -> x.qty), 'sum')
             AS sum_qty,
           list_aggregate(list_transform(lines, x -> x.price), 'max')
             AS max_price
    FROM nested
    ORDER BY o_orderkey
    """,
)
def q62_nested_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized (document-style) modeling: collapse each order's
    line items into an array<struct> column ordered by line number,
    then compute per-order stats WITH HIGHER-ORDER FUNCTIONS over the
    nested column — no second shuffle, no re-join. The fold order is
    pinned by the array sort, so the double sum is deterministic and
    cross-engine (same property the similarity dot products rely on).
    At 100 TB nesting is the read-amplification play: one row per
    order, lines co-located, no orders⋈lineitem join at query time."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                )
            )
        ).alias("lines")
    )
    return (
        nested.select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.size("lines").alias("n_lines"),
            F.aggregate(
                F.transform("lines", lambda x: x["qty"]),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("sum_qty"),
            F.array_max(F.transform("lines", lambda x: x["price"])).alias(
                "max_price"
            ),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q63_hll_sketch_union",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT lang,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct,
           TRUE AS within_bounds
    FROM tok WHERE token <> ''
    GROUP BY lang ORDER BY lang
    """,
)
def q63_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality: build Apache DataSketches HLL
    sketches of the token set per (lang, source) PARTIAL group, then
    hll_union_agg the partial sketches up to lang and estimate. The
    two-level build/merge is the point — mergeability is what makes
    sketch cardinality work at 100 TB (partials combine map-side and
    across days/partitions without re-reading data; exact
    COUNT(DISTINCT) cannot). HLL registers are max-of-hashes, so the
    result is insensitive to row order and partitioning — the estimate
    is deterministic. Gate: estimate must sit within HLL's error bound
    of the exact count (the oracle pins within_bounds TRUE)."""
    docs = load(spark, sf_dir, "documents").select("lang", "source", "text")
    tok = docs.select(
        "lang",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    partials = tok.groupBy("lang", "source").agg(
        F.hll_sketch_agg("token").alias("sk")
    )
    merged = partials.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = tok.groupBy("lang").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return (
        exact.join(merged, "lang")
        .select(
            "lang",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= F.lit(0.05) * F.col("exact_distinct") + F.lit(1.0)
            ).alias("within_bounds"),
        )
        .orderBy("lang")
    )


@query(
    "basket_part_pairs",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey % 200 AS part_grp
      FROM lineitem
    ),
    pairs AS (
      SELECT a.part_grp AS part_a, b.part_grp AS part_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.part_grp < b.part_grp
      GROUP BY a.part_grp, b.part_grp
    ),
    singles AS (
      SELECT part_grp, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM lines GROUP BY part_grp
    )
    SELECT p.part_a, p.part_b, p.support,
           CAST((1000 * p.support) // s.n_orders AS BIGINT)
             AS confidence_x1000
    FROM pairs p JOIN singles s ON p.part_a = s.part_grp
    ORDER BY p.support DESC, p.part_a, p.part_b
    LIMIT 15
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: support and confidence for pairs of
    part groups bought in the same order (parts bucketed to 200 groups
    so pairs repeat at gate scale). The pair join is WITHIN-ORDER only
    — an equi-self-join on the order key where each side is an order's
    distinct part list (≤7 lines in TPC-H-ish data), so the blowup is
    bounded per order, never corpus-quadratic; the same blocking
    argument as the dedup family. Confidence = support/orders(A) as an
    integer ratio (×1000, floor)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 200).alias("part_grp")
    ).distinct()
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("part_grp").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("part_grp").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    singles = li.groupBy(F.col("part_grp").alias("part_a")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        pairs.join(F.broadcast(singles), "part_a")
        .select(
            "part_a",
            "part_b",
            "support",
            F.expr("1000 * support div n_orders").alias("confidence_x1000"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(15)
    )


@query(
    "sql_text_frontend",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10)))
                AS VARCHAR) AS DOUBLE) AS revenue
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    HAVING COUNT(o.o_orderkey) > 0
    ORDER BY n.n_name
    """,
)
def sql_text_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text front end as a first-class surface: the query is
    SUBMITTED AS SQL over registered temp views (not built with the
    DataFrame API), proving a reference user can bring plain SQL and
    get the same Catalyst plan — same broadcast of the nation dim, same
    partial/final aggregation — as the fluent API produces. The decimal
    sum convention applies identically inside SQL text."""
    for t in ("nation", "customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               COUNT(o.o_orderkey) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
                 AS revenue
        FROM sqlv_nation n
        JOIN sqlv_customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN sqlv_orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        HAVING COUNT(o.o_orderkey) > 0
        ORDER BY n.n_name
        """
    )


@query(
    "q64_groupwise_ols",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice
                  AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept
    FROM s ORDER BY l_returnflag
    """,
)
def q64_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise simple linear regression (extendedprice ~ quantity)
    in closed form from DECIMAL-exact power sums — the distributed OLS
    pattern: one map-side-combinable aggregation collects (n, Σx, Σx²,
    Σy, Σxy) per group, the normal-equation solve is a handful of
    double ops on identical operands (q59's moments machinery extended
    to model fitting). Per-group model fitting over 100 TB costs
    exactly one shuffle of five numbers per group."""
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,10)")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sx"),
        F.sum(dec(F.col("l_quantity") * F.col("l_quantity")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sy"),
        F.sum(dec(F.col("l_quantity") * F.col("l_extendedprice")))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "sxy"))
    # try_divide (r13 division audit): a group with CONSTANT x (every
    # line the same quantity — legal) zeroes n·sxx − sx² and ANSI
    # would abort; the slope is undefined there => NULL, matching
    # DuckDB's native double division-by-zero NULL.
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    ).orderBy("l_returnflag")


@query(
    "q65_excess_share_suppliers",
    oracle=f"""
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             {DSUM_SQL.format(expr="l_quantity")} AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    tot AS (
      SELECT l_partkey, {DSUM_SQL.format(expr="l_quantity")} AS tot_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS n_excess_parts
    FROM sp JOIN tot ON sp.l_partkey = tot.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE sp.qty > 0.3 * tot.tot_qty
    GROUP BY s.s_name
    ORDER BY n_excess_parts DESC, s_name
    """,
)
def q65_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (reference capability class: none — standard
    relational extension): suppliers holding an outsized share of a
    part's 1996 shipments. The correlated "more than 30% of this
    part's total" subquery is decorrelated into a partkey equi-join
    between two aggregations over the SAME filtered scan — Catalyst
    reuses the pushed shipdate filter on both branches, and both aggs
    shuffle on (partkey[, suppkey]) so the final join is co-located
    with the finer grouping. Quantity sums follow the DECIMAL
    convention; the 30%-share compare is double-on-identical-operands.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(dsum(F.col("l_quantity")).alias("qty"))
    tot = li.groupBy("l_partkey").agg(dsum(F.col("l_quantity")).alias("tot_qty"))
    sup = load(spark, sf_dir, "supplier")
    return (
        sp.join(tot, "l_partkey")
        .filter(F.col("qty") > 0.3 * F.col("tot_qty"))
        .join(F.broadcast(sup), sp["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
        .orderBy(F.desc("n_excess_parts"), "s_name")
    )


@query(
    "q66_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q66_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole supplier at fault in a multi-supplier
    finalized order ('R' returnflag stands in for the missing
    receipt>commit lateness columns). Two correlated EXISTS over the
    same table decorrelate into a LEFT SEMI + LEFT ANTI join pair on
    l_orderkey with a non-equi residual (suppkey <>) — three scans of
    lineitem all shuffled on orderkey, so at scale the three sorted
    runs merge without re-partitioning; the supplier dim broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = load(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    cand = (
        l1.join(orders, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "leftsemi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "leftanti",
        )
    )
    return (
        cand.join(F.broadcast(sup), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q67_dormant_rich_accounts",
    oracle=f"""
    WITH pool AS (
      SELECT c_custkey, c_custkey % 10 AS cntrycode, c_acctbal
      FROM customer WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
    ),
    thr AS (
      SELECT {DSUM_SQL.format(expr="c_acctbal")} / COUNT(*) AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {DSUM_SQL.format(expr="c_acctbal")} AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pool.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q67_dormant_rich_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers in selected
    country codes with no CURRENT-YEAR order (custkey%10 stands in
    for the missing phone prefix; every customer in this corpus has
    SOME order, so "dormant" = none since 2001). The scalar AVG
    subquery becomes a 1-row broadcast cross join (cheapest possible
    plan for a scalar), the NOT EXISTS an anti join on custkey whose
    orderdate filter is pushed below the join. AVG follows the
    decimal-sum/count convention so the threshold double is
    bit-identical."""
    cust = load(spark, sf_dir, "customer")
    pool = cust.filter((F.col("c_custkey") % 10).isin(1, 3, 5, 7, 9)).select(
        "c_custkey",
        (F.col("c_custkey") % 10).alias("cntrycode"),
        "c_acctbal",
    )
    thr = (
        pool.filter(F.col("c_acctbal") > 0.0)
        .agg((dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal"))
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .select("o_custkey")
    )
    return (
        pool.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, pool["c_custkey"] == orders["o_custkey"], "leftanti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q68_revenue_mom_change",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderpriority,
             strftime(o_orderdate, '%Y-%m') AS month,
             {DSUM_SQL.format(expr="o_totalprice")} AS revenue
      FROM orders
      WHERE o_orderdate >= DATE '2000-01-01'
        AND o_orderdate < DATE '2001-01-01'
      GROUP BY o_orderpriority, strftime(o_orderdate, '%Y-%m')
    )
    SELECT o_orderpriority, month, revenue,
           CASE WHEN LAG(revenue) OVER w IS NULL
                  OR LAG(revenue) OVER w = 0.0 THEN NULL
                ELSE (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w
           END AS mom_change
    FROM monthly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
    ORDER BY o_orderpriority, month
    """,
)
def q68_revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per order priority (one year):
    the reporting-layer lag-ratio pattern. Monthly revenue uses the
    exact decimal-sum convention; the MoM ratio is then ONE double
    division of two already-deterministic doubles (guarded NULL on a
    missing or zero base month, the ANSI-mode-safe form).

    Month keys are yyyy-MM STRINGS on both engines — date_trunc returns
    a TZ-dependent timestamp in Spark (the tz-sweep trap), strings
    don't. One (priority, month) shuffle + one tiny window per
    priority."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "2000-01-01")
        & (F.col("o_orderdate") < "2001-01-01")
    )
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    w = W.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        "revenue",
        F.when(
            prev.isNull() | (prev == 0.0), F.lit(None).cast("double")
        )
        .otherwise((F.col("revenue") - prev) / prev)
        .alias("mom_change"),
    ).orderBy("o_orderpriority", "month")


@query(
    "q69_variant_shred",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS k_sum,
           CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k')
                AS INT)) AS BIGINT) AS k_distinct,
           CAST(COUNT(CASE WHEN json_extract_string(props, '$.missing')
                IS NULL THEN 1 END) AS BIGINT) AS n_missing_path
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q69_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    ``parse_json`` once into a binary-encoded variant, then typed-path
    access with ``variant_get`` / null-safe ``try_variant_get`` — the
    modern engine path for heterogeneous JSON at scale (parse once,
    access many, no per-access string re-parse the get_json_object form
    pays; q24/q34 keep the classic forms for contrast). The oracle is
    engine-neutral JSON extraction — VARIANT is an encoding, not a
    semantics change, which this equality demonstrates.

    Scale: shredding is map-side; one event_type partial-agg shuffle;
    the distinct ride-along re-shuffles (type, k) pairs — bounded by
    value cardinality."""
    ev = load(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        F.expr(
            "try_variant_get(parse_json(props), '$.missing', 'int')"
        ).alias("m"),
    )
    return (
        shredded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.countDistinct("k").alias("k_distinct"),
            F.count(F.when(F.col("m").isNull(), 1)).alias("n_missing_path"),
        )
        .orderBy("event_type")
    )


# --- recursive CTE hierarchy rollup ----------------------------------------


@query(
    "q70_recursive_org_rollup",
    oracle="""
    WITH RECURSIVE org(c_custkey, depth) AS (
      SELECT c_custkey, 0 FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, o.depth + 1
      FROM customer c JOIN org o ON c.c_custkey // 3 = o.c_custkey
      WHERE c.c_custkey > 0
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) AS total_bal
    FROM org JOIN customer c USING (c_custkey)
    GROUP BY depth ORDER BY depth
    """,
)
def q70_recursive_org_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new SQL surface in Spark 4.x):
    walk a synthetic reporting hierarchy over customer (parent(k) =
    k div 3, rooted at 0 — max depth ~log₃ N) and roll account balances
    up per depth. Submitted as SQL text, like sql_text_frontend, so the
    recursion is planned by Catalyst's recursion operator, not a Python
    loop; the DuckDB oracle runs its own native WITH RECURSIVE.

    Scale: each recursion level is one equi-join of the (shrinking)
    frontier against the child table — the same per-level cost profile
    as graph_pagerank's rounds, with depth bounded logarithmically by
    the fan-out, not by data size."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sqlv_customer")
    return spark.sql(
        """
        WITH RECURSIVE org(c_custkey, depth) AS (
          SELECT c_custkey, 0 FROM sqlv_customer WHERE c_custkey = 0
          UNION ALL
          SELECT c.c_custkey, o.depth + 1
          FROM sqlv_customer c JOIN org o ON c.c_custkey div 3 = o.c_custkey
          WHERE c.c_custkey > 0
        )
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
                 AS total_bal
        FROM org JOIN sqlv_customer c USING (c_custkey)
        GROUP BY depth ORDER BY depth
        """
    )


@query(
    "q71_window_distinct_count",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY o_custkey, o_orderpriority
                    ORDER BY o_orderkey) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM orders WHERE o_custkey % 10 = 0
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(is_first) OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_priorities_so_far
    FROM seq ORDER BY o_custkey, o_orderkey
    """,
)
def q71_window_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — the aggregate Spark's
    window functions refuse outright (and many engines only support
    unordered): per customer, how many DISTINCT order priorities have
    appeared up to each order. Expressed portably via the first-
    occurrence trick: mark the first (customer, priority) row in order
    sequence with ONE row_number window, then a running SUM of the
    markers — two ordinary window passes over the SAME partition key,
    no distinct-aggregate support needed in either engine.

    BOTH windows order by o_orderkey ALONE (unique within a customer,
    so deterministic): the marker window and the running sum must walk
    the SAME sequence, or the prefix sum undercounts priorities seen
    in the orderkey prefix whenever date order disagrees with key
    order (ADVICE r9 — the earlier (o_orderdate, o_orderkey) marker
    order had exactly that defect, invisible to the gate because the
    oracle mirrored the construction).

    Scale: both windows partition by o_custkey — one shuffle, two
    in-partition passes; no join, no collect_set memory blow-up (the
    size(collect_set) OVER alternative materializes the set per ROW).
    The custkey % 10 = 0 slice keeps the gated output bounded; the
    operator is the window composition, not the filter."""
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 10 == 0
    )
    from pyspark.sql import Window as W

    w_first = W.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return seq.select(
        "o_custkey",
        "o_orderkey",
        F.sum("is_first").over(w_run).cast("long").alias(
            "distinct_priorities_so_far"
        ),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q72_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderpriority, '<all>') AS priority,
           COALESCE(o_orderstatus, '<all>') AS status,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
             AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    ORDER BY grouping_level, priority, status
    """,
)
def q72_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING_ID level labels — the function that makes
    multi-grain rollups machine-consumable: level 0 = leaf cells,
    1 = per-priority subtotal, 3 = grand total, distinguished from
    REAL NULL group keys (which COALESCE alone would conflate). Both
    engines emit the identical bitmask (Spark grouping_id() ==
    DuckDB GROUPING(...)), so downstream cube readers can filter on
    the level instead of guessing from NULLs.

    Scale: one ROLLUP aggregate — Spark expands to a 3-grouping-set
    Expand + one shuffle, map-side combinable."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("grouping_level"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias(
                "status"
            ),
            "grouping_level",
            "n_orders",
        )
        .orderBy("grouping_level", "priority", "status")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    tiebreak: str,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right[right_time] <= left[left_time]``, matching on ``on``.

    ``tiebreak`` is a unique right-side column ordering simultaneous
    right rows (latest wins). Left columns pass through unchanged.

    The payload forward-fill is ONE struct, not per-column: filling each
    payload column independently with last(ignorenulls) would resurrect
    a stale value wherever the matched row holds a NULL — tearing columns
    from different right rows (DuckDB ASOF and pandas merge_asof attach
    the matched row wholesale, NULLs included).

    NULL join keys never match: ``Window.partitionBy`` groups NULL keys
    into one partition (unlike SQL equality, where NULL = NULL is not
    true), so NULL-key right rows are dropped up front — NULL-key left
    rows still pass through, payload NULL, matching ASOF LEFT JOIN.
    """
    from pyspark.sql import types as T

    right = right.filter(F.col(on).isNotNull())

    l_cols = left.columns
    payload_struct_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in right_payload]
    )
    tagged_l = left.select(
        F.col(on).alias("__key"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("__tie"),
        *[F.col(c) for c in l_cols],
        F.lit(None).cast(payload_struct_type).alias("__payload"),
    )
    tagged_r = right.select(
        F.col(on).alias("__key"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.col(tiebreak).cast("long").alias("__tie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_cols],
        F.struct(*[F.col(c) for c in right_payload]).alias("__payload"),
    )
    # right rows sort before left rows at equal time (<= semantics); the
    # window is rows-unbounded-preceding so last() sees only earlier rows.
    w = (
        W.partitionBy("__key")
        .orderBy("__t", "__is_left", "__tie")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled_payload = F.last("__payload", ignorenulls=True).over(w)
    out_cols: list[Column] = [F.col(c) for c in l_cols] + [
        filled_payload.getField(c).alias(c) for c in right_payload
    ]
    return (
        tagged_l.unionByName(tagged_r)
        .select(*out_cols, F.col("__is_left"))
        .filter(F.col("__is_left") == 1)
        .drop("__is_left")
    )


@query(
    "q23_asof_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, e.event_id AS last_event_id,
           e.value AS last_event_value
    FROM orders o
    ASOF LEFT JOIN events e
      ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
    """,
)
def q23_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user at each order's date (point-in-time join)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    events = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_event_value"),
        "event_id",
    )
    joined = asof_join(
        orders.withColumnRenamed("o_custkey", "__on_key"),
        events.withColumnRenamed("user_id", "__on_key"),
        on="__on_key",
        left_time="o_orderdate",
        right_time="ts",
        right_payload=["last_event_id", "last_event_value"],
        tiebreak="event_id",
    )
    return joined.select(
        "o_orderkey",
        F.col("__on_key").alias("o_custkey"),
        "last_event_id",
        "last_event_value",
    )
