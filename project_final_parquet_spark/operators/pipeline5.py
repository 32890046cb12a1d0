"""LLM-pipeline operators, sixth tranche (round 6): referential-
integrity auditing, churn-hazard life tables, and k-core graph
decomposition.

Not in the reference (its query surface is selective encrypted-column
reads, ``src/parquet_reader.cpp:92-101``); these extend the mandated
data-quality (profiling.py, pipeline4.py), event-analytics
(events_analytics*.py), and graph (graph.py) families.

Determinism: every emitted column is exact BIGINT algebra (counts,
integer ``div`` rates); no doubles anywhere in this module, so the
oracles need no float conventions at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import checkpoint
from ..registry import DAY_US, EPOCH_US_SQL, query
from ..tables import load

# --- referential integrity audit --------------------------------------------

# Every FK edge of the TPC-H-ish corpus: (fk label, child table, child
# key, parent table, parent key). The audit is schema knowledge, not
# data knowledge — orphan counts of 0 on clean data are the PASSING
# result; unreferenced-parent counts are the real corpus signal
# (customers with no orders exist by construction).
_FK_EDGES = [
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _ri_oracle() -> str:
    parts = []
    for fk, child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{fk}' AS fk,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_child_rows,
           CAST(COUNT(k) AS BIGINT) AS n_child_keys,
           CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt END), 0)
                AS BIGINT) AS n_orphan_rows,
           CAST(COUNT(pk) AS BIGINT) AS n_parent_keys,
           CAST(SUM(CASE WHEN k IS NULL AND pk IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unreferenced_parents
    FROM (
      SELECT c.k, c.cnt, p.pk
      FROM (SELECT {ck} AS k, COUNT(*) AS cnt FROM {child} GROUP BY 1) c
      FULL JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON c.k = p.pk
    )""")
    return "\nUNION ALL".join(parts) + "\nORDER BY fk"


@query("dq_referential_integrity", oracle=_ri_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the corpus
    schema: per edge, child row/key counts, orphan rows/keys (child
    keys with no parent — 0 on clean data, and 0 must be PROVEN, which
    is the audit's job), parent key count, and unreferenced parents
    (parent rows no child points at — the reachability signal a
    retention/compaction policy needs). The standard warehouse DQ gate
    next to dq_constraint_checks' single-table rules.

    Scale: per edge, ONE key-grain shuffle (the child groupBy, map-side
    combined so the exchange carries distinct keys only) + one full
    outer join on the key + one bounded aggregate; the seven edges are
    independent plan branches. No row-grain data ever moves — at 100 TB
    the exchanges carry |distinct keys|, and AQE broadcasts the small
    parent sides (nation/region) automatically."""
    rows = []
    for fk, child, ck, parent, pk in _FK_EDGES:
        c = (
            load(spark, sf_dir, child)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        full = c.join(p, c["k"] == p["pk"], "full_outer")
        rows.append(
            full.agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_child_rows"),
                F.count("k").cast("long").alias("n_child_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("pk").isNull(), F.col("cnt"))), F.lit(0)
                ).cast("long").alias("n_orphan_rows"),
                F.count("pk").cast("long").alias("n_parent_keys"),
                F.sum(
                    F.when(
                        F.col("k").isNull() & F.col("pk").isNotNull(), 1
                    ).otherwise(0)
                ).cast("long").alias("n_unreferenced_parents"),
            ).select(F.lit(fk).alias("fk"), "*")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("fk")


# --- churn hazard life table -------------------------------------------------

CHURN_WINDOW_DAYS = 90  # last order within 90 days of corpus end = censored


@query(
    "events_churn_hazard",
    oracle=f"""
    WITH u AS (
      SELECT o_custkey,
             MIN(epoch_us(o_orderdate) // {DAY_US}) AS f,
             MAX(epoch_us(o_orderdate) // {DAY_US}) AS l
      FROM orders GROUP BY o_custkey
    ),
    obs AS (SELECT MAX(l) AS end_day FROM u),
    lt AS (
      SELECT (l - f) // 7 AS dur,
             (l < end_day - {CHURN_WINDOW_DAYS - 1}) AS churned
      FROM u CROSS JOIN obs
    ),
    g AS (
      SELECT dur,
             CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
      FROM lt GROUP BY dur
    ),
    r AS (
      SELECT dur, d, c,
             SUM(d + c) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
      FROM g
    )
    SELECT CAST(dur AS BIGINT) AS duration_weeks,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           d AS n_churned,
           c AS n_censored,
           CAST((1000000 * d) // at_risk AS BIGINT) AS hazard_ppm
    FROM r WHERE d > 0 ORDER BY duration_weeks
    """,
)
def events_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style churn life table over customer order
    histories: per customer, lifetime = last order day − first order
    day (bucketed to weeks — the life-table grain); a customer whose
    last order falls in the final 90 days of the corpus is CENSORED
    (their true lifetime is only known to exceed what we saw — dropping
    them would bias hazard upward, the classic survival-analysis
    mistake). Per lifetime-week t: the at-risk count (customers whose
    lifetime ≥ t), the churned and censored counts AT t, and the
    discrete hazard d/n_at_risk ×1e6 (floor — exact integer, never a
    float division). This is the retention curve's derivative, the
    input to any churn model. (Built on orders, not events: the events
    corpus spans 30 days with every user active at the end — zero
    variation; orderdates span 1995–2001.)

    Scale: ONE customer-grain shuffle (min/max day per key, map-side
    combined), then every later frame is |distinct lifetime weeks| rows
    (bounded by the corpus date span, ~350 at any corpus size) — the
    descending cumulative window runs single-partition over that
    bounded frame by design, the same bounded-frame argument as
    events_rolling_distinct. The observation end is a broadcast
    1-row aggregate."""
    ev = load(spark, sf_dir, "orders")
    day = f"{EPOCH_US_SQL.format(col='o_orderdate')} div {DAY_US}"
    u = (
        ev.select("o_custkey", F.expr(day).alias("day"))
        .groupBy("o_custkey")
        .agg(F.min("day").alias("f"), F.max("day").alias("l"))
    )
    obs = u.agg(F.max("l").alias("end_day"))
    lt = u.crossJoin(F.broadcast(obs)).select(
        F.expr("(l - f) div 7").alias("dur"),  # integer div, never double
        (F.col("l") < F.col("end_day") - (CHURN_WINDOW_DAYS - 1)).alias(
            "churned"
        ),
    )
    g = lt.groupBy("dur").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1)).cast("long").alias("c"),
    )
    w = (
        Window.orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        "dur", "d", "c", F.sum(F.col("d") + F.col("c")).over(w).alias("at_risk")
    )
    return (
        r.filter(F.col("d") > 0)
        .select(
            F.col("dur").cast("long").alias("duration_weeks"),
            F.col("at_risk").cast("long").alias("n_at_risk"),
            F.col("d").alias("n_churned"),
            F.col("c").alias("n_censored"),
            F.expr("1000000 * d div at_risk").cast("long").alias("hazard_ppm"),
        )
        .orderBy("duration_weeks")
    )


# --- k-core decomposition ----------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    base = """
    pairs AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l1
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    e0 AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2)"""
    ctes = [base]
    for i in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{i - 1}"
        ctes.append(f"""
    d{i} AS (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev}
      ) GROUP BY v
    ),
    k{i} AS (SELECT v FROM d{i} WHERE deg >= {_KCORE_K}),
    e{i} AS (
      SELECT e.a, e.b FROM {prev} e
      JOIN k{i} ka ON e.a = ka.v JOIN k{i} kb ON e.b = kb.v
    )""")
    selects = [
        f"""SELECT CAST({i} AS BIGINT) AS round,
          CAST((SELECT COUNT(*) FROM (SELECT a AS v FROM e{i}
                UNION SELECT b FROM e{i})) AS BIGINT) AS n_nodes,
          CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT) AS n_edges"""
        for i in range(_KCORE_ROUNDS + 1)
    ]
    return (
        "WITH " + ",".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round"
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the co-purchase graph by iterative
    peeling: each round drops every vertex with degree < k and every
    edge touching one, until the 3-core remains. Emits the (round,
    n_nodes, n_edges) shrinkage curve — round 0 is the raw graph, the
    last row is the stable core. The k-core is the standard dense-
    substructure signal (spam/bot rings, bulk-buyer cliques) and the
    cheap preconditioner before any expensive community algorithm:
    peeling first shrinks the graph the LPA/triangle passes touch.
    Three peel rounds are the fixed cross-engine-comparable form (this
    graph's peel stabilizes in 2); production loops the same per-round
    plan until the edge count stops changing, exactly like
    graph_pagerank's ε-stop twin.

    Scale: the same co-purchase edge derivation as graph_triangle_count
    (basket-bounded pair join); each peel round is one degree aggregate
    (map-side combined, |V| keys) + two semi joins back to the edge
    list, all keyed shuffles, state = the shrinking edge list itself,
    localCheckpointed per round (the registry eager-query contract;
    cluster jobs swap in checkpoint())."""
    from .graph import copurchase_edges

    edges = checkpoint(copurchase_edges(spark, sf_dir))
    stages = [edges]
    for _ in range(_KCORE_ROUNDS):
        prev = stages[-1]
        deg = (
            prev.select(F.col("a").alias("v"))
            .unionAll(prev.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("v")
        nxt = checkpoint(
            prev.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
        )
        stages.append(nxt)
    rows = []
    for i, e in enumerate(stages):
        nodes = (
            e.select(F.col("a").alias("v"))
            .union(e.select(F.col("b").alias("v")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_nodes"))
        )
        cnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
        rows.append(
            nodes.crossJoin(cnt).select(
                F.lit(i).cast("long").alias("round"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.col("n_edges").cast("long").alias("n_edges"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")
