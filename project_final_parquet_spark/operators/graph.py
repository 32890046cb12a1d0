"""PageRank over the customer↔supplier trade graph — the iterative
link-analysis representative (beside connected components and k-means,
the third classic iterate-until-stable distributed algorithm).

Graph: bipartite, nodes = customers ∪ suppliers (supplier ids offset to
disjoint range), one undirected edge per distinct (customer, supplier)
trading pair from orders⋈lineitem; undirected = each edge contributes
in both directions, so out-degree == degree.

Determinism: contributions rank/degree are per-edge double math
(bit-identical cross-engine), then quantized to a 1e-9 fixed-point
BIGINT (floor of an identical double is identical) and summed as exact
integers — order-free and engine-free, with no decimal-rounding
semantics in play at all. The damping update 0.15 + 0.85·s is a fixed
textual expression over the de-quantized sum, so 3 unrolled rounds
match the DuckDB oracle exactly (the chained-iteration analog of the
scaled-integer trick sim_ivf_probe uses for centroid distances).

Scale (100 TB of edges): per round = one join (ranks⋈edges, both
pre-partitioned on node id — co-partitioned, no re-shuffle of the edge
list after the first round) + one aggregate with map-side combine.
Lineage is truncated per round (localCheckpoint; cluster jobs use
checkpoint()); the production form adds an |Δrank|<ε early stop like
connected_components_converged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import checkpoint, release
from ..registry import query
from ..tables import load

_ITERS = 3
_SUPP_OFFSET = 1_000_000
_DAMP = "0.85"
_TELEPORT = "0.15"
_SCALE = 1_000_000_000  # fixed-point quantum for contributions


def _edges_sql() -> str:
    return f"""
    SELECT DISTINCT o.o_custkey AS u,
           l.l_suppkey + {_SUPP_OFFSET} AS v
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """


def _pagerank_oracle() -> str:
    sql = f"""
    WITH pair AS ({_edges_sql()}),
    edges AS (
      SELECT u, v FROM pair
      UNION ALL
      SELECT v AS u, u AS v FROM pair
    ),
    deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u
    ),
    r0 AS (SELECT u, 1.0 AS rank FROM deg)
    """
    prev = "r0"
    cq = (
        "CAST(floor(r.rank / CAST(d.deg AS DOUBLE) "
        f"* {_SCALE}.0 + 0.5) AS BIGINT)"
    )
    for k in range(1, _ITERS + 1):
        sql += f""",
    s{k} AS (
      SELECT e.v AS u, CAST(SUM({cq}) AS BIGINT) AS s
      FROM edges e
      JOIN {prev} r ON e.u = r.u
      JOIN deg d ON e.u = d.u
      GROUP BY e.v
    ),
    r{k} AS (
      SELECT deg.u,
             {_TELEPORT} + {_DAMP}
               * (CAST(COALESCE(s{k}.s, 0) AS DOUBLE) / {_SCALE}.0) AS rank
      FROM deg LEFT JOIN s{k} ON deg.u = s{k}.u
    )
    """
        prev = f"r{k}"
    sql += f"""
    SELECT u AS node_id,
           CASE WHEN u >= {_SUPP_OFFSET} THEN 'supplier'
                ELSE 'customer' END AS node_type,
           rank
    FROM {prev}
    ORDER BY rank DESC, node_id
    LIMIT 20
    """
    return sql


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 unrolled PageRank rounds (damping 0.85) on the bipartite
    customer↔supplier graph; top-20 nodes by rank. Executes iterations
    at construction (registry contract note on iterative queries)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("v"),
        )
        .distinct()
    )
    edges = pair.union(
        pair.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # edges stays LAZY here: _pagerank_ranks folds the degree in with
    # one window pass and materializes exactly once (optimization r14;
    # previously edges ckpt → deg agg → edges⋈deg ckpt = two
    # materializations of the |2E| frame plus a join)
    ranks, _rounds = _pagerank_ranks(edges, iters=_ITERS)

    return (
        ranks.select(
            F.col("u").alias("node_id"),
            F.when(F.col("u") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            "rank",
        )
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    )


def _pagerank_ranks(
    edges: DataFrame,
    *,
    iters: int | None = None,
    eps: float | None = None,
    max_iters: int = 50,
) -> tuple[DataFrame, int]:
    """Shared PageRank loop. ``iters`` = fixed rounds (the exact-oracle
    form); ``eps`` = production early stop, halting when
    max_u |rank_new − rank_old| < eps. Returns (ranks, rounds run).

    The eps probe is one join + max-aggregate over the checkpointed rank
    frame (n rows, trivially small next to the round's edge join). An
    EXACT cross-engine oracle for the eps form is impossible — the
    damping chain shrinks deltas by 0.85× per round, so an exact double
    fixed point takes ~700 rounds — which is why the gated query keeps
    the fixed-round form and this is the production entry point."""
    damp, tele = float(_DAMP), float(_TELEPORT)
    # degree folded into the edge list ONCE (optimization r13), and —
    # r14 — folded by a COUNT WINDOW over the edge shuffle itself
    # instead of a separate deg aggregate + join: the |2E| edge frame
    # is now materialized exactly once (was twice: raw edges ckpt,
    # then edges⋈deg ckpt), and the tiny per-vertex deg frame is an
    # aggregate over the materialized blocks. Rank values unchanged —
    # the same rank/deg arithmetic reads the identical integer degree.
    edges_deg = checkpoint(
        edges.withColumn(
            "deg",
            F.count(F.lit(1)).over(Window.partitionBy("u")),
        )
    )
    deg = checkpoint(
        edges_deg.groupBy("u").agg(F.min("deg").alias("deg"))
    )
    ranks = deg.select("u", F.lit(1.0).alias("rank"))
    rounds = 0
    budget = iters if iters is not None else max_iters
    for _ in range(budget):
        contrib = edges_deg.join(ranks, "u").select(
            F.col("v").alias("dst"),
            F.floor(
                F.col("rank")
                / F.col("deg").cast("double")
                * F.lit(float(_SCALE))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cq"),
        )
        sums = contrib.groupBy("dst").agg(F.sum("cq").alias("s"))
        new_ranks = checkpoint(
            deg.join(sums, deg["u"] == sums["dst"], "left").select(
                "u",
                (
                    F.lit(tele)
                    + F.lit(damp)
                    * (
                        F.coalesce(F.col("s"), F.lit(0)).cast("double")
                        / F.lit(float(_SCALE))
                    )
                ).alias("rank"),
            )
        )
        rounds += 1
        if eps is not None:
            delta = (
                new_ranks.join(
                    ranks.select("u", F.col("rank").alias("prev")), "u"
                )
                .agg(F.max(F.abs(F.col("rank") - F.col("prev"))).alias("d"))
                .first()["d"]
            )
            release(ranks)  # round N-1 superseded by round N's blocks
            ranks = new_ranks
            if delta is not None and delta < eps:
                break
        else:
            release(ranks)
            ranks = new_ranks
    # the final rank frame is materialized; the degree-folded edge list
    # and degree frame no longer back the returned plan
    release(edges_deg, deg)
    return ranks, rounds


def graph_pagerank_converged(
    spark: SparkSession,
    sf_dir: str,
    eps: float = 1e-6,
    max_iters: int = 50,
) -> tuple[DataFrame, int]:
    """Production PageRank: iterate until max rank delta < ``eps``
    (bounded by ``max_iters``) instead of a fixed round count. Same
    graph, same per-round plan as the gated ``graph_pagerank``."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("v"),
        )
        .distinct()
    )
    edges = pair.union(
        pair.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ranks, rounds = _pagerank_ranks(edges, eps=eps, max_iters=max_iters)
    return (
        ranks.select(
            F.col("u").alias("node_id"),
            F.when(F.col("u") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            "rank",
        )
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    ), rounds


# --- triangle counting over the co-purchase graph ----------------------------


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared co-purchase edge derivation (edge = two parts bought
    together in >= 2 orders, oriented a < b) used by the whole graph
    family (triangle count, k-core, LPA, link prediction,
    assortativity). Per-order part sets are collected and pairs
    generated map-side by array combination — ONE orderkey shuffle +
    one (a,b) pair shuffle, versus the older distinct + self-join form
    that paid an extra exchange (measured at sf0.1: 2.4 s vs 2.9 s
    warm, and a 2x gap cold). collect_set both dedupes (order, part)
    and bounds the array by basket size, so the explode is the same
    basket-bounded |order|^2 work as the join form — identical 3573
    edges at sf0.1, oracle SQL unchanged (the relational self-join
    remains the clearest spec for DuckDB)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # Each part a (0-based position i) pairs with every part after it,
    # through built-ins only: higher-order-function lambdas run
    # interpreted.
    pairs = arr.select("ps", F.posexplode("ps").alias("i", "a")).select(
        "a", F.explode(F.slice("ps", F.col("i") + 2, F.size("ps"))).alias("b")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("a", "b")
    )


def triangle_corners(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Shared triangle enumeration for the whole triangle family
    (global count, per-node clustering, bridge detection): each
    triangle of the co-purchase graph exactly once, as corner columns
    (x, y, z), via DEGREE-ORDERED orientation (the compact-forward
    algorithm): every edge points from its lower-(degree, id) endpoint
    to the higher, wedges pair two out-edges of the same source in
    (degree, id) order, and the closing edge is probed in its oriented
    form. Orientation does not change the triangle SET — the oracles
    (an unoriented 3-way join spec) are unchanged — but it bounds the
    wedge join's per-vertex fan-out by OUT-degree, which the (degree,
    id) total order caps at O(√m) amortized (the arboricity bound):
    a skewed 100× graph pays Σ outdeg² ≈ m^1.5, never the hub's
    indeg² that raw-id orientation leaves in the plan.

    One derivation, three consumers (the copurchase_edges precedent):
    the count, the per-corner explode, and the edge-granularity
    triangle-membership set are all cheap reshapes of this frame."""
    if edges is None:
        edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ab = edges.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ab.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    t1 = o.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("dd").alias("dv")
    )
    t2 = o.select(
        F.col("src").alias("u2"),
        F.col("dst").alias("w"),
        F.col("dd").alias("dw"),
    )
    wedge = t1.join(t2, F.col("u2") == F.col("u")).filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    close = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedge.join(close, ["v", "w"]).select(
        F.col("u").alias("x"), F.col("v").alias("y"), F.col("w").alias("z")
    )


@query(
    "graph_triangle_count",
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
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
      ) GROUP BY v
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST(3 * (SELECT t FROM tri) AS BIGINT)
             / NULLIF((SELECT SUM(d * (d - 1) // 2) FROM deg), 0)
             AS clustering
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (edge = two parts bought together in >= 2
    orders). Triangles are counted on the ORIENTED graph (a < b < c,
    each triangle once): edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c) — the
    standard distributed triangle enumeration; wedges Σ d(d-1)/2 give
    the closure ratio (3T / wedges), the density signal behind
    recommendation-graph quality checks.

    Scale: the only quadratic-looking step, per-order part pairs, is
    bounded by basket size (|order|² per order, never |parts|²); the
    enumeration is the family-shared ``triangle_corners`` —
    DEGREE-ORDERED orientation, so the wedge join's fan-out is bounded
    by arboricity (O(m^1.5) total work even on a skewed 100× graph),
    with each triangle found exactly once and no post-dedup; integer
    division `div` keeps wedges exact at any degree."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nw = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    nt = triangle_corners(spark, sf_dir, edges=edges).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return (
        nv.crossJoin(ne)
        .crossJoin(nw)
        .crossJoin(nt)
        .withColumn(
            "clustering",
            (F.lit(3) * F.col("n_triangles"))
            / F.nullif(F.col("n_wedges"), F.lit(0)),
        )
    )


# --- link prediction: common-neighbor Jaccard ------------------------------


@query(
    "graph_jaccard_link_prediction",
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
      SELECT a AS v, b AS w FROM edges
      UNION ALL SELECT b AS v, a AS w FROM edges
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v),
    cand AS (
      SELECT n1.v AS u, n2.v AS w, COUNT(*) AS common
      FROM adj n1 JOIN adj n2 ON n1.w = n2.w AND n1.v < n2.v
      GROUP BY n1.v, n2.v
    ),
    new_links AS (
      SELECT c.u, c.w, c.common
      FROM cand c
      LEFT JOIN edges e ON e.a = c.u AND e.b = c.w
      WHERE e.a IS NULL
    )
    SELECT nl.u AS u, nl.w AS w,
           CAST(nl.common AS BIGINT) AS common_neighbors,
           CAST(du.d AS BIGINT) AS deg_u, CAST(dw.d AS BIGINT) AS deg_w,
           CAST(nl.common AS BIGINT)
             / CAST(du.d + dw.d - nl.common AS BIGINT) AS jaccard
    FROM new_links nl
    JOIN deg du ON du.v = nl.u
    JOIN deg dw ON dw.v = nl.w
    ORDER BY common_neighbors DESC, jaccard DESC, u, w
    LIMIT 20
    """,
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction on the part co-purchase graph: for every
    NON-adjacent pair with at least one common neighbor, score by
    neighbor-set Jaccard |N(u)∩N(w)| / |N(u)∪N(w)| and keep the top-20
    candidate links — the classic common-neighbors recommender (and the
    candidate generator behind "bought together" suggestions).

    Shares graph_triangle_count's edge definition (co-bought in >= 2
    orders) so the two queries audit the same graph. The union size
    needs no set materialization: |N(u)∪N(w)| = d(u)+d(w)-common, all
    exact BIGINTs; jaccard is one bigint→double division (IEEE-
    deterministic both engines).

    Scale: candidate generation is the 2-path self-join keyed on the
    SHARED middle vertex — cost Σ_x d(x)², the same bound as wedge
    counting, never |V|². Existing edges leave via left_anti on the
    oriented pair (u<w matches the edge orientation a<b, so one probe
    side suffices). The top-20 compiles to TakeOrderedAndProject —
    only 20 rows reach the driver. At production scale super-nodes are
    degree-capped before the 2-path join (drop or sample x with d(x)
    over the cap) — the standard mitigation, which only REMOVES
    candidates scored against hub vertices.

    The DERIVED edge list is materialized once (localCheckpoint — the
    pipeline_e2e_pretrain precedent, so this query executes its edge
    extraction at construction): the graph has seven downstream
    consumers (two adjacency directions, two degree probes, the 2-path
    self-join, the anti-join), and while exchange reuse serves the
    shuffle, each consumer would still replay the post-shuffle
    aggregate over the |order|²-pair stream — measured 21.4 s → 4.3 s
    at sf0.1. The co-bought-twice filter collapses the edge list to a
    vanishing fraction of lineitem (3.6 k edges from 600 k rows at
    sf0.1), so the checkpoint is tiny at any corpus scale and AQE
    broadcasts the downstream joins on its runtime size."""
    edges = (
        copurchase_edges(spark, sf_dir)
        .localCheckpoint()  # tiny (see docstring); cluster: checkpoint()
    )
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("w")))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    n1, n2 = adj.alias("n1"), adj.alias("n2")
    cand = (
        n1.join(
            n2,
            (F.col("n1.w") == F.col("n2.w"))
            & (F.col("n1.v") < F.col("n2.v")),
        )
        .groupBy(F.col("n1.v").alias("u"), F.col("n2.v").alias("w"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    new_links = cand.join(
        edges,
        (cand["u"] == edges["a"]) & (cand["w"] == edges["b"]),
        "left_anti",
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("deg_u"))
    dw = deg.select(F.col("v").alias("w"), F.col("d").alias("deg_w"))
    scored = (
        new_links.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            F.col("common").cast("long").alias("common_neighbors"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_w").cast("long").alias("deg_w"),
            (
                F.col("common").cast("long").cast("double")
                / (F.col("deg_u") + F.col("deg_w") - F.col("common"))
                .cast("long")
                .cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"), F.desc("jaccard"), "u", "w"
    ).limit(20)


# --- label propagation (community detection) -------------------------------

_LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    edges = """
    pairs AS (
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
      SELECT a AS v, b AS w FROM edges
      UNION ALL SELECT b AS v, a AS w FROM edges
    ),
    l0 AS (SELECT DISTINCT v, v AS label FROM adj)"""
    rounds = []
    for i in range(1, _LPA_ROUNDS + 1):
        prev = f"l{i - 1}"
        rounds.append(f"""
    c{i} AS (
      SELECT a.v, l.label, COUNT(*) AS c
      FROM adj a JOIN {prev} l ON l.v = a.w
      GROUP BY a.v, l.label
    ),
    l{i} AS (
      SELECT v, label FROM (
        SELECT v, label,
               ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label)
                 AS rn
        FROM c{i}
      ) WHERE rn = 1
    )""")
    return (
        "WITH " + edges + "," + ",".join(rounds) + f"""
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM l{_LPA_ROUNDS}
    GROUP BY label ORDER BY size DESC, label LIMIT 20
    """
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph by semi-synchronous
    label propagation: init label(v)=v, then each round every vertex
    adopts the MOST FREQUENT label among its neighbors (ties → smallest
    label — the determinism rule that makes LPA reproducible across
    engines and runs, which vanilla random-tie LPA is not). Two rounds
    here (the oracle unrolls them; production runs the same per-round
    plan until the changed-count hits zero, exactly like
    graph_pagerank's ε-stop twin), then the top-20 communities by size
    — the category-cluster signal behind "customers also shop this
    aisle" groupings.

    Scale: one round = one join of the adjacency list with the label
    frame (co-partitioned on the neighbor key) + a (v,label) count and
    an argmax window partitioned BY VERTEX — all keyed shuffles, state
    is one label per vertex, never a matrix. The shared edge list is
    localCheckpointed once (same graph and same reason as
    graph_jaccard_link_prediction: multiple consumers of a derived
    subtree); per-round frames are localCheckpointed per the registry
    iterative-query contract, each round releasing the previous round's
    blocks and the edge list released once the final label frame is
    materialized (ckpt.py)."""
    edges = checkpoint(copurchase_edges(spark, sf_dir))
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("w")))
    labels = adj.select("v").distinct().withColumn("label", F.col("v"))
    from pyspark.sql import Window as W

    for _ in range(_LPA_ROUNDS):
        nl = adj.join(
            labels.withColumnRenamed("v", "w"), "w"
        ).select("v", "label")
        cnt = nl.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        rn = F.row_number().over(
            W.partitionBy("v").orderBy(F.desc("c"), "label")
        )
        prev = labels
        labels = checkpoint(
            cnt.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("v", "label")
        )
        release(prev)
    release(edges)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("size").cast("long").alias("size"),
        )
        .orderBy(F.desc("size"), "label")
        .limit(20)
    )


# --- local bridges (edges with no common neighbor) ---------------------------


@query(
    "graph_bridge_edges",
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
      SELECT a AS v, b AS w FROM edges
      UNION ALL SELECT b AS v, a AS w FROM edges
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
    cn AS (
      SELECT DISTINCT e.a, e.b
      FROM edges e
      JOIN adj na ON na.v = e.a
      JOIN adj nb ON nb.v = e.b AND nb.w = na.w
    ),
    bridges AS (
      SELECT e.a, e.b FROM edges e
      LEFT JOIN cn ON cn.a = e.a AND cn.b = e.b
      WHERE cn.a IS NULL
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM bridges) AS BIGINT) AS n_bridges,
             CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges
    )
    SELECT b.a, b.b, da.d AS deg_a, db.d AS deg_b,
           t.n_bridges, t.n_edges
    FROM bridges b
    JOIN deg da ON da.v = b.a
    JOIN deg db ON db.v = b.b
    CROSS JOIN tot t
    ORDER BY deg_a + deg_b DESC, b.a, b.b
    LIMIT 20
    """,
)
def graph_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local bridges of the co-purchase graph: edges whose endpoints
    share ZERO common neighbors — removing one disconnects its
    endpoints locally (the span-2 structural-hole definition). These
    are the weak-tie conduits between product communities: the
    recommendation edges that EXPAND a basket rather than echo it, and
    the first edges a noise filter should inspect. Reports the top-20
    by combined endpoint degree (high-degree bridges are the
    interesting ones — hubs whose link shares no triangle) plus the
    global bridge/edge counts.

    Scale: an edge has a common neighbor iff it closes at least one
    triangle, so common-neighbor detection IS the family-shared
    ``triangle_corners`` enumeration (degree-ordered, arboricity-
    bounded fan-out — strictly cheaper than the old Σ d(x)² 2-path
    join this query used to re-derive) exploded to edge granularity;
    bridges are one left-anti probe of the edge list against it. The
    shared edge list is localCheckpointed once (jaccard precedent:
    multiple plan consumers) and backs the returned frame, so it stays
    resident — it is the co-bought-twice filtrate, vanishingly small
    at any corpus scale. Top-20 is TakeOrderedAndProject; integer math
    throughout."""
    edges = checkpoint(copurchase_edges(spark, sf_dir))
    adj = edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("w")))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    tri = triangle_corners(spark, sf_dir, edges=edges)
    cn = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"),
                    ),
                    F.struct(
                        F.least("x", "z").alias("a"),
                        F.greatest("x", "z").alias("b"),
                    ),
                    F.struct(
                        F.least("y", "z").alias("a"),
                        F.greatest("y", "z").alias("b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    bridges = edges.join(cn, ["a", "b"], "left_anti")
    tot = bridges.agg(
        F.count(F.lit(1)).cast("long").alias("n_bridges")
    ).crossJoin(
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("deg_b"))
    return (
        bridges.join(da, "a")
        .join(db, "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "deg_a", "deg_b", "n_bridges", "n_edges")
        .orderBy(
            (F.col("deg_a") + F.col("deg_b")).desc(), "a", "b"
        )
        .limit(20)
    )


# --- per-node local clustering coefficient ----------------------------------


@query(
    "graph_local_clustering",
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
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
      ) GROUP BY v
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tv AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t
      FROM (SELECT unnest([x, y, z]) AS v FROM tri) GROUP BY v
    ),
    lcc AS (
      SELECT deg.v, deg.d, COALESCE(tv.t, 0) AS t,
             CAST(2 * COALESCE(tv.t, 0) AS DOUBLE) / (deg.d * (deg.d - 1))
               AS coeff
      FROM deg LEFT JOIN tv ON deg.v = tv.v
      WHERE deg.d >= 2
    )
    SELECT v AS node_id, d AS degree, t AS n_triangles, coeff
    FROM lcc
    ORDER BY coeff DESC, node_id
    LIMIT 20
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the part co-purchase
    graph: c(v) = 2·t(v) / (d(v)·(d(v)−1)), where t(v) counts the
    triangles through v — the node-level sibling of
    graph_triangle_count's global closure ratio, and the signal a
    recommender uses to tell tight accessory bundles (c≈1) from hub
    parts that bridge unrelated baskets (c≈0). Top-20 by coefficient
    (node id tiebreak), degree ≥ 2 (the coefficient is undefined below).

    Determinism: triangle and degree counts are exact integers from the
    family-shared ``triangle_corners`` enumeration — each triangle
    found once, then credited to all three corners via an array explode
    (map-side, no extra join); the coefficient is one double division
    of exact ints; ordering carries the node tiebreak.

    Scale: identical join profile to graph_triangle_count (the shared
    copurchase_edges derivation + the degree-ordered triangle join,
    arboricity-bounded fan-out), plus one map-side-combinable per-node
    count; the top-20 is TakeOrderedAndProject, never a global sort
    materialization.

    Edge list checkpointed once (optimization r14): the degree frame,
    the triangle enumeration (which itself references the edges four
    times through the degree orientation), and the coefficient join
    are column-pruned consumers AQE reuse never serves — the
    before-plan re-derived copurchase_edges from parquet 34 times.
    EXECUTES the edge derivation at construction (registry contract
    note)."""
    edges = checkpoint(copurchase_edges(spark, sf_dir))
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tri = triangle_corners(spark, sf_dir, edges=edges)
    tv = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    lcc = (
        deg.filter(F.col("d") >= 2)
        .join(tv, "v", "left")
        .select(
            "v",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"),
            (
                (F.lit(2) * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("coeff"),
        )
    )
    return (
        lcc.select(
            F.col("v").alias("node_id"),
            F.col("d").alias("degree"),
            F.col("t").alias("n_triangles"),
            "coeff",
        )
        .orderBy(F.desc("coeff"), "node_id")
        .limit(20)
    )
