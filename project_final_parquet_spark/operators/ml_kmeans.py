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
DRIVER (the MLlib pattern). Each Lloyd update is ONE Spark job: the
``kmeansStats`` JVM kernel (``vecmath.kmeans_stats``) runs one
``treeAggregate`` over the scan that assigns every row with
``kmeans_assign``'s arithmetic and adds its floor-scaled values into
per-task partial sums of k×dim numbers, merged tree-wise as MLlib's
KMeans does — no data row shuffles, no SQL aggregation is planned or
re-optimised, no Python worker starts. The returned assignment frame is
a fully LAZY projection over the source (the centroids ride into the
``kmeans_assign`` SQL kernel as one array literal; see ``_assign_col``
for why built-in HOFs lose here), so the only eager work at
construction is the init collect and the (iters-1) stats jobs. (The
round-5 form — crossJoin + row_number window + localCheckpoint per
round — measured 6.1 s at sf0.1 isolated and 151.7 s under suite memory
pressure, BENCH_r05; a posexplode aggregation per round then took two
jobs and two adaptive re-plans.)

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
    vecmath.register_kernels(emb.sparkSession)
    ids, flat = _centroid_array(cents)
    pos = F.call_function(
        vecmath.KMEANS_ASSIGN,
        F.col("embedding"),
        vecmath.double_array_lit(flat.reshape(-1)),
        F.lit(_DIM),
        F.lit(float(_DSCALE)),
    )
    return F.lit(ids)[pos]


def _centroid_array(
    cents: list[tuple[int, list[float]]],
) -> tuple[np.ndarray, np.ndarray]:
    """The centroids' ids and their k×dim float64 values, in cid order."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    flat = np.array([c for _, c in cents], dtype=np.float64).reshape(-1, _DIM)
    return ids, flat


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
    """One Lloyd round's statistics from ONE Spark job: per cluster, its
    row count and, per dim, the exact sum of ``floor(v_d · CSCALE)``
    over its rows (the oracle's BIGINT terms), for every cluster that
    kept a row.

    The ``kmeansStats`` kernel (``vecmath.kmeans_stats``) assigns each
    row with ``kmeans_assign``'s arithmetic and sums inside a
    ``treeAggregate`` over the scan: no data row shuffles and no SQL
    aggregation is planned. NULLs follow the oracle: every row counts
    in its cluster's size, a NULL element or a NULL row adds no term,
    and a (cluster, dim) with no term has a NULL sum, the oracle's NULL
    centroid dimension."""
    ids, flat = _centroid_array(cents)
    counts, sums = vecmath.kmeans_stats(emb, "embedding", flat, _DSCALE, _CSCALE)
    return sorted(
        (int(cid), n, tuple(row)) for cid, n, row in zip(ids, counts, sums) if n
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
    final centroids as literals); the construction-time work is the init
    collect and one stats job per update. See the module docstring for
    the scale story."""
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
