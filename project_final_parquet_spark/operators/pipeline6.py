"""Round-6 pipeline operators: degree assortativity of the co-purchase
graph, l-diversity (the sensitive-attribute companion to
dq_k_anonymity), and CUPED variance-reduced A/B readout (the
industry-standard experiment-sensitivity upgrade over the raw lift).

Not in the reference (no graph/DQ/experiment surface, SURVEY.md §2.1);
extends the graph.py, profiling.py, and events_analytics families with
the metrics those audits report next.

Determinism: degrees and counts are exact BIGINTs; every double is
produced by DSUM (order-independent DECIMAL(38,10) sums) followed by
identical IEEE arithmetic on both engines, with sqrt correctly rounded
— the registry convention #2 chain throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ckpt import checkpoint
from ..registry import DSUM_SQL, dsum, query
from ..tables import load

_EDGES_SQL = """
    pairs AS (
      SELECT l1.l_orderkey AS ok, l1.l_partkey AS a, l2.l_partkey AS b
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l1
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared co-purchase edge list (edge = two parts bought
    together in >= 2 orders; a < b orientation) — delegates to the
    family-wide array-combination derivation in graph.py."""
    from .graph import copurchase_edges

    return copurchase_edges(spark, sf_dir)


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
      ) GROUP BY v
    ),
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    xy AS (
      SELECT CAST(du.d AS DOUBLE) AS x, CAST(dv.d AS DOUBLE) AS y
      FROM und JOIN deg du ON und.u = du.v JOIN deg dv ON und.v = dv.v
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             {DSUM_SQL.format(expr="x")} AS sx,
             {DSUM_SQL.format(expr="y")} AS sy,
             {DSUM_SQL.format(expr="x * y")} AS sxy,
             {DSUM_SQL.format(expr="x * x")} AS sxx,
             {DSUM_SQL.format(expr="y * y")} AS syy
      FROM xy
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
           CAST(2 * (SELECT COUNT(*) FROM edges) AS DOUBLE)
             / (SELECT COUNT(*) FROM deg) AS avg_degree,
           (m * sxy - sx * sy)
             / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
             AS assortativity_r
    FROM mom
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over every edge (both orientations,
    the standard undirected form). Positive r = hubs buy with hubs
    (assortative, social-network-like), negative r = hubs connect to
    leaves (disassortative, catalog-like) — the one-number structure
    signal that decides whether degree-based sampling or hub-capping is
    needed before graph algorithms run at scale.

    Scale: the edge list is the shared basket-bounded derivation,
    localCheckpointed ONCE — six plan consumers (und both orientations,
    deg, the two degree joins, the vertex/edge counts) would otherwise
    each replay the basket pair join (measured: 18 lineitem scans and
    19.4 s at sf0.1 fully lazy vs 3.4 s checkpointed; cluster jobs swap
    checkpoint() — the registry eager-query contract, like
    graph_jaccard_link_prediction). The degree join is two keyed
    shuffles on vertex id; the moments are ONE map-side-combined
    aggregate into a single row. Degrees are exact BIGINTs cast to
    double (exact below 2^53), the six moments are order-independent
    DSUMs, and r is a fixed IEEE expression over them — bit-identical
    cross-engine. At 100 TB the identical plan holds; only the DSUM
    precision ceiling would move the sums to DECIMAL(38,0) on raw
    integers."""
    edges = checkpoint(_copurchase_edges(spark, sf_dir))
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    xy = (
        und.join(
            deg.select(F.col("v").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(deg.select("v", F.col("d").alias("dv")), "v")
        .select(
            F.col("du").cast("double").alias("x"),
            F.col("dv").cast("double").alias("y"),
        )
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    nv = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.max("d").cast("long").alias("max_degree"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    # try_divide (r13 division audit): a REGULAR graph (all degrees
    # equal — legal, e.g. disjoint-pair baskets) zeroes the variance
    # terms and ANSI would abort; r is undefined there => NULL, which
    # DuckDB's native double division-by-zero already yields.
    r = F.try_divide(
        m * F.col("sxy") - sx * sy,
        F.sqrt(
            (m * F.col("sxx") - sx * sx) * (m * F.col("syy") - sy * sy)
        ),
    )
    return (
        mom.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_vertices",
            "n_edges",
            "max_degree",
            F.try_divide(
                F.lit(2).cast("double") * F.col("n_edges"),
                F.col("n_vertices"),
            ).alias("avg_degree"),
            r.alias("assortativity_r"),
        )
    )


@query(
    "dq_l_diversity",
    oracle="""
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
      FROM customer GROUP BY 1, 2
    ),
    risk AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN l_distinct < 3 THEN n_rows END), 0)
                  AS BIGINT) AS low_div_rows,
             CAST(SUM(n_rows) AS BIGINT) AS total_rows
      FROM cells
    )
    SELECT c.nation, c.bal_bucket, c.n_rows, c.l_distinct,
           r.low_div_rows, r.total_rows,
           CAST(r.low_div_rows AS DOUBLE) / r.total_rows AS low_div_frac
    FROM cells c CROSS JOIN risk r
    WHERE c.l_distinct < 3
    ORDER BY c.nation, c.bal_bucket
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) — the companion dq_k_anonymity cannot
    replace: a QI cell can hold >= k individuals yet still leak the
    sensitive attribute if they all share one value (homogeneity
    attack). QI = (nation, account-balance band), sensitive = market
    segment; every cell whose segment diversity is below 3 is reported
    with the global fraction of rows sitting in such cells — the
    number a release gate thresholds on.

    Scale: one groupBy over the QI tuple (map-side combined; DISTINCT
    sensitive count is a two-stage aggregate bounded by |QI| x
    |segments| partial keys), plus a broadcast singleton risk row —
    the exact shape of dq_k_anonymity, output bounded by the QI
    domain."""
    cust = load(spark, sf_dir, "customer")
    cells = cust.groupBy(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("c_mktsegment").cast("long").alias("l_distinct"),
    )
    risk = cells.agg(
        F.coalesce(
            F.sum(F.when(F.col("l_distinct") < 3, F.col("n_rows"))), F.lit(0)
        )
        .cast("long")
        .alias("low_div_rows"),
        F.sum("n_rows").cast("long").alias("total_rows"),
    )
    return (
        cells.filter(F.col("l_distinct") < 3)
        .crossJoin(F.broadcast(risk))
        .select(
            "nation",
            "bal_bucket",
            "n_rows",
            "l_distinct",
            "low_div_rows",
            "total_rows",
            (
                F.col("low_div_rows").cast("double") / F.col("total_rows")
            ).alias("low_div_frac"),
        )
        .orderBy("nation", "bal_bucket")
    )


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH days AS (
      SELECT MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS d0,
             MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS d1
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             {DSUM_SQL.format(
                 expr="CASE WHEN date_diff('day', DATE '1970-01-01', "
                 "CAST(ts AS DATE)) < d0 + (d1 - d0 + 1) // 2 "
                 "THEN value ELSE 0.0 END"
             )} AS x,
             {DSUM_SQL.format(
                 expr="CASE WHEN date_diff('day', DATE '1970-01-01', "
                 "CAST(ts AS DATE)) >= d0 + (d1 - d0 + 1) // 2 "
                 "THEN value ELSE 0.0 END"
             )} AS y
      FROM events CROSS JOIN days
      GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {DSUM_SQL.format(expr="x")} AS sx,
             {DSUM_SQL.format(expr="y")} AS sy,
             {DSUM_SQL.format(expr="x * y")} AS sxy,
             {DSUM_SQL.format(expr="x * x")} AS sxx
      FROM per_user
    ),
    arm AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             {DSUM_SQL.format(expr="x")} AS sx_a,
             {DSUM_SQL.format(expr="y")} AS sy_a
      FROM per_user GROUP BY variant
    )
    SELECT variant, n_users,
           sx_a / n_users AS mean_x,
           sy_a / n_users AS mean_y,
           sy_a / n_users
             - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
               * (sx_a / n_users - sx / n) AS mean_y_cuped,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta
    FROM arm CROSS JOIN mom ORDER BY variant
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013, WSDM —
    the controlled-experiment sensitivity technique every large
    experimentation platform runs): split the observed window at its
    midpoint day into pre-period and experiment period, use each
    user's PRE-period value sum as the covariate X, and report each
    arm's experiment metric Y adjusted by theta*(X_arm - X_global)
    where theta = cov(X,Y)/var(X). The adjustment removes the
    between-user variance X explains, shrinking the confidence
    interval at the same traffic — arms assigned by the same user-id
    parity as events_abtest_lift / events_ab_srm_check, so the three
    experiment audits read one consistent experiment.

    Scale: one user-keyed shuffle builds (x, y) per user (map-side
    combined conditional sums; the day-range row is a broadcast
    singleton), then the global moments and per-arm sums are two
    constant-size combine-aggregates over the user frame. Every double
    flows DSUM -> identical IEEE arithmetic, so theta and the adjusted
    means are bit-identical cross-engine at any row order."""
    ev = load(spark, sf_dir, "events")
    day_idx = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    days = ev.agg(
        F.min(day_idx).alias("d0"), F.max(day_idx).alias("d1")
    )
    mid = F.col("d0") + F.expr("(d1 - d0 + 1) div 2")
    per_user = (
        ev.crossJoin(F.broadcast(days))
        .select(
            "user_id",
            F.when(day_idx < mid, F.col("value"))
            .otherwise(0.0)
            .alias("xv"),
            F.when(day_idx >= mid, F.col("value"))
            .otherwise(0.0)
            .alias("yv"),
        )
        .groupBy("user_id")
        .agg(dsum(F.col("xv")).alias("x"), dsum(F.col("yv")).alias("y"))
        .select(
            F.when(F.col("user_id") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "x",
            "y",
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    arm = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dsum(F.col("x")).alias("sx_a"),
        dsum(F.col("y")).alias("sy_a"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # try_divide (r13 division audit): a CONSTANT pre-period covariate
    # (e.g. zero pre-period activity for every user — legal) zeroes
    # var(x) and ANSI would abort; theta is undefined there => NULL,
    # matching DuckDB's native double division-by-zero NULL.
    theta = F.try_divide(
        n * F.col("sxy") - sx * sy, n * F.col("sxx") - sx * sx
    )
    mean_x_a = F.col("sx_a") / F.col("n_users")
    mean_y_a = F.col("sy_a") / F.col("n_users")
    return (
        arm.crossJoin(F.broadcast(mom))
        .select(
            "variant",
            "n_users",
            mean_x_a.alias("mean_x"),
            mean_y_a.alias("mean_y"),
            (mean_y_a - theta * (mean_x_a - sx / n)).alias("mean_y_cuped"),
            theta.alias("theta"),
        )
        .orderBy("variant")
    )
