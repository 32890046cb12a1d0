"""Iterative distributed k-means (Lloyd's algorithm) over embeddings —
the engine's iterative-algorithm pattern (not in the reference; SURVEY.md
§2.2 has no iterative/ML surface at all).

Determinism discipline (what makes an EXACT DuckDB oracle possible for an
iterative float algorithm):
- init: centroids = embeddings of vec_id 0..k-1 (fixed, no RNG);
- assignment: squared-L2 distance summed as floor-scaled integers →
  argmin is integer comparison, ties break on cluster id;
- update: per-dimension mean via floor-scaled integer sums (exact,
  order-independent) — the same convention as sim_centroids;
- fixed iteration count (the cross-engine-comparable form of a
  convergence loop).

Scale (100 TB): the iteration state is k×64 doubles and lives on the
DRIVER (the MLlib pattern): each round ships the centroids as one array
literal into the ``kmeans_assign`` JVM kernel (see ``_assign_col`` for
why built-in HOFs lose here), then ONE aggregation over a posexplode of
the floor-scaled values collects k×dim rows of (count, scaled-integer
sum) back to the driver — no crossJoin, no per-vector window shuffle, no
localCheckpoint blocks, no Python worker. Per round the cluster shuffles
k×dim partial sums per task (map-side partial aggs) and the driver holds
k×64 doubles; data rows never shuffle at all. The returned assignment
frame is a fully LAZY projection over the source — the only eager work
at construction is the (iters-1) tiny stats collects. (The round-5
form — crossJoin + row_number window + localCheckpoint per round —
measured 6.1 s at sf0.1 isolated and 151.7 s under suite memory
pressure, BENCH_r05; this form is one map-side pass per round.)

NULLs follow the oracle: a NULL element or a NULL row drops out of the
distance and of the centroid sums but counts in the cluster size.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from . import vecmath

_K = 4
_ITERS = 3
_DIM = 64
_CSCALE = 1_000_000_000  # centroid mean scaling (exact integer sums)
_DSCALE = 1_000_000_000_000  # distance scaling ((v-c)^2 ~ 1e-4)


# --- DuckDB oracle generation ----------------------------------------------


def _sql_dist(vec: str, cent: str) -> str:
    """Σ_d floor((v_d - c_d)² · S) as BIGINT — deterministic distance."""
    return f"""list_aggregate(list_transform(range({_DIM}),
      d -> CAST(floor((CAST({vec}[d+1] AS DOUBLE) - {cent}[d+1])
                      * (CAST({vec}[d+1] AS DOUBLE) - {cent}[d+1])
                      * {_DSCALE}.0) AS BIGINT)), 'sum')"""


def _kmeans_cte_prefix() -> tuple[str, str]:
    """The shared iterative CTE chain (cent0 → assign{N-1}) and the name
    of the final assignment CTE — reused by the purity eval oracle."""
    parts = [
        f"""
    WITH cent0 AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
      FROM embeddings WHERE vec_id < {_K}
    )"""
    ]
    prev = "cent0"
    for i in range(_ITERS):
        parts.append(
            f""",
    assign{i} AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c0.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_dist('e.embedding', 'c0.c')}, c0.cid
               ) AS rn
        FROM embeddings e CROSS JOIN {prev} c0
      ) ranked WHERE rn = 1
    ),
    cent{i + 1} AS (
      SELECT cid, list(cd ORDER BY d) AS c FROM (
        SELECT cid, d,
               (CAST(SUM(CAST(floor(CAST(embedding[d+1] AS DOUBLE)
                    * {_CSCALE}.0) AS BIGINT)) AS DOUBLE) / {_CSCALE}.0)
                 / COUNT(*) AS cd
        FROM assign{i} CROSS JOIN (SELECT unnest(range({_DIM})) AS d) dims
        GROUP BY cid, d
      ) t GROUP BY cid
    )"""
        )
        prev = f"cent{i + 1}"
    return "".join(parts), f"assign{_ITERS - 1}"


def _kmeans_oracle() -> str:
    prefix, last = _kmeans_cte_prefix()
    return (
        prefix
        + f"""
    SELECT a.cid AS cluster_id, COUNT(*) AS n_points,
           CAST(MIN(a.vec_id) AS BIGINT) AS min_vec_id
    FROM {last} a
    GROUP BY a.cid
    ORDER BY a.cid
    """
    )


# --- Spark implementation --------------------------------------------------


def _assign_col(emb: DataFrame, cents: list[tuple[int, list[float]]]) -> Column:
    """The cluster id of each row: argmin by (dist, cid) over the
    driver-held centroids, through the ``kmeans_assign`` JVM kernel.

    Why a kernel and not built-ins: the distance is a 64-term fold per
    centroid, and as zip_with+aggregate HOFs it is interpreted (~70
    µs/row, no codegen); unrolled into a 128-deep expression tree it is
    3× slower still (see SCALE.md "HOF fold"). The centroids travel as
    ONE k×dim array literal: 256 scalar literals made plan construction
    slower than the Python UDF the kernel replaced.

    Bit-exactness vs the oracle: float32→float64 is exact; (v-c)·(v-c)
    ·S and floor are the identical IEEE-754 ops; the int64 summands are
    exact and order-free; the kernel takes the FIRST minimum over
    centroids sorted by cid — the oracle's ORDER BY dist, cid. A NULL
    centroid dimension travels as NaN, which the kernel drops as a NULL
    term. The kernel returns the centroid's position and ``ids`` maps it
    to the cid: a cluster that emptied has no centroid next round."""
    spark = emb.sparkSession
    vecmath.register_kernels(spark)
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    flat = np.array([c for _, c in cents], dtype=np.float64).reshape(-1)
    pos = F.call_function(
        vecmath.KMEANS_ASSIGN,
        F.col("embedding"),
        vecmath.double_array_lit(flat),
        F.lit(_DIM),
        F.lit(float(_DSCALE)),
    )
    return F.lit(ids)[pos]


def _fixed_dim(vec) -> list[float]:
    """``vec`` as exactly _DIM doubles, NaN where the oracle's
    ``vec[d+1]`` is NULL (a NULL row, a NULL element, a short row)."""
    vals = list(vec or [])[:_DIM]
    vals += [None] * (_DIM - len(vals))
    return [math.nan if x is None else float(x) for x in vals]


def _collect_init(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """c0 = embeddings of vec_id 0..k-1, as driver-side doubles."""
    rows = (
        emb.filter(F.col("vec_id") < _K)
        .select(F.col("vec_id").alias("cid"), "embedding")
        .collect()
    )
    return sorted((int(r["cid"]), _fixed_dim(r["embedding"])) for r in rows)


def _collect_stats(
    emb: DataFrame, cents: list[tuple[int, list[float]]]
) -> list[tuple[int, int, tuple[int | None, ...]]]:
    """One aggregation pass: per (cluster, dim), the floor-scaled integer
    sum and the cluster row count — k×dim tiny rows back to the driver.

    The assignment is projected BEFORE the explode, so the kernel runs
    once per row (a select holding both would evaluate it above the
    Generate, once per element). ``posexplode_outer`` keeps a NULL or
    empty row as one (NULL, NULL) element, so COUNT(*) counts it as the
    oracle does while SUM skips it: a cluster's row count is its d = 0
    count plus its d = NULL count. A (cluster, dim) whose every value is
    NULL has a NULL sum, the oracle's NULL centroid dimension."""
    assigned = emb.select(_assign_col(emb, cents).alias("cid"), "embedding")
    rows = (
        assigned.select(
            "cid",
            F.posexplode_outer(
                F.transform(
                    "embedding", lambda x: F.floor(x.cast("double") * _CSCALE)
                )
            ).alias("d", "sv"),
        )
        .groupBy("cid", "d")
        # DECIMAL(38,0): Spark's integral SUM overflows int64 silently;
        # with CSCALE=1e9 and |v|~0.1 the long headroom is ~1e11 rows
        # per (cid, dim) — under the 100 TB design point (ADVICE r6)
        .agg(
            F.sum(F.col("sv").cast("decimal(38,0)")).alias("sv"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    sums: dict[tuple[int, int], int] = {}
    counts: dict[int, int] = {}
    for r in rows:
        cid, d = int(r["cid"]), r["d"]
        if d in (0, None):
            counts[cid] = counts.get(cid, 0) + int(r["n"])
        if r["sv"] is not None:
            sums[cid, d] = int(r["sv"])
    return sorted(
        (cid, n, tuple(sums.get((cid, d)) for d in range(_DIM)))
        for cid, n in counts.items()
    )


def _means(
    stats: list[tuple[int, int, tuple[int | None, ...]]],
) -> list[tuple[int, list[float]]]:
    """Centroid means from integer stats, with the engines' exact cast
    order: sum → double FIRST (float(s) is round-to-nearest, the same as
    Spark's ``.cast("double")`` and DuckDB's ``CAST(... AS DOUBLE)``),
    then two IEEE double divisions. A NULL sum is a NULL mean, carried
    as NaN."""
    return [
        (
            cid,
            [
                math.nan if s is None else (float(s) / float(_CSCALE)) / float(n)
                for s in sums
            ],
        )
        for cid, n, sums in stats
    ]


def _lloyd(
    emb: DataFrame, iters: int, *, converge: bool = False
) -> tuple[DataFrame, int]:
    """Run Lloyd iterations; returns (assignment frame, rounds executed).

    ``converge=False``: exactly ``iters`` assignment rounds (the oracle
    form) — centroids are updated ``iters - 1`` times and the returned
    frame assigns under the last update, exactly the CTE chain.
    ``converge=True``: stop as soon as a round's cluster stats repeat
    the previous round's (then the next centroid update is a no-op —
    Lloyd's fixed point — and every later round is identical), bounded
    by ``iters``. The probe is a driver-side tuple compare of the stats
    the update pass already collected: free.

    The returned assignment frame is fully LAZY (a projection with the
    final centroids as literals); the construction-time work is the
    (rounds - 1) k-row stats collects. See the module docstring for the
    scale story."""
    cents = _collect_init(emb)
    rounds = 0
    prev_stats: list | None = None
    for i in range(iters):
        rounds += 1
        if i == iters - 1:
            break  # final round: assignment only, no update executes
        stats = _collect_stats(emb, cents)
        if converge and stats == prev_stats:
            # assignment under ``cents`` equals the previous round's;
            # centroids (and all later rounds) have stopped moving
            break
        prev_stats = stats
        cents = _means(stats)
    assigned = emb.select(emb["*"], _assign_col(emb, cents).alias("cid"))
    return assigned, rounds


def _cluster_sizes(assigned: DataFrame) -> DataFrame:
    # k rows: sorted on one partition, with no range-partition sampling
    # job and no second shuffle
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .coalesce(1)
        .orderBy("cluster_id")
    )


@query("ml_kmeans", oracle=_kmeans_oracle())
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means(k=4, 3 Lloyd iterations) cluster sizes over embeddings."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = _lloyd(emb, _ITERS)
    return _cluster_sizes(assigned)


def ml_kmeans_converged(
    spark: SparkSession, sf_dir: str, max_iters: int = 25
) -> tuple[DataFrame, int]:
    """Production k-means: Lloyd with assignment-stability early stop
    (bounded by ``max_iters``). Returns (cluster sizes, rounds run); a
    round whose assignment matches the previous one is the fixed point,
    so the result equals any longer fixed-iteration run from the same
    init."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, rounds = _lloyd(emb, max_iters, converge=True)
    return _cluster_sizes(assigned), rounds


def _purity_oracle() -> str:
    prefix, last = _kmeans_cte_prefix()
    return (
        prefix
        + f""",
    lab AS (
      SELECT a.cid, e2.label, COUNT(*) AS c
      FROM {last} a JOIN embeddings e2 ON a.vec_id = e2.vec_id
      GROUP BY a.cid, e2.label
    ),
    best AS (
      SELECT cid, label, c,
             ROW_NUMBER() OVER (
               PARTITION BY cid ORDER BY c DESC, label) AS rn,
             SUM(c) OVER (PARTITION BY cid) AS n
      FROM lab
    )
    SELECT cid AS cluster_id,
           CAST(n AS BIGINT) AS n_points,
           CAST(label AS INT) AS majority_label,
           CAST(c AS BIGINT) AS majority_count,
           CAST((1000 * c) // n AS BIGINT) AS purity_x1000
    FROM best WHERE rn = 1
    ORDER BY cluster_id
    """
    )


@query("ml_cluster_purity", oracle=_purity_oracle())
def ml_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: per k-means cluster, the majority
    ground-truth label and purity (majority share, ×1000 integer) — the
    standard external validation metric, making cluster quality a
    MEASURED number like dedup_eval_recall does for LSH recall. Runs
    the same 3 Lloyd iterations (exact iterative oracle), then one
    (cid, label) count and a cluster-sized window. Executes iterations
    at construction (registry contract note)."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = _lloyd(emb, _ITERS)
    # the lazy assignment projection carries every emb column, so the
    # label is already on the row — no join back to the source
    lab = (
        assigned.groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("cid")
    best = lab.select(
        "cid",
        "label",
        "c",
        F.row_number()
        .over(w.orderBy(F.desc("c"), "label"))
        .alias("rn"),
        F.sum("c").over(w).alias("n"),
    )
    return (
        best.filter(F.col("rn") == 1)
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("n").alias("n_points"),
            F.col("label").cast("int").alias("majority_label"),
            F.col("c").alias("majority_count"),
            F.expr("1000 * c div n").alias("purity_x1000"),
        )
        .orderBy("cluster_id")
    )
