"""ml_kmeans: the registered DuckDB oracle's answer, on degenerate inputs
too, and one Spark job per Lloyd round.

Each round's assignment and centroid statistics come from the
``kmeansStats`` JVM kernel: one ``treeAggregate`` over the scan, which
assigns rows with ``kmeans_assign``'s arithmetic and sums the
floor-scaled values exactly. ``_posexplode_stats``, the SQL aggregation
the kernel replaced, is kept here as its reference and must agree bit
for bit. NULLs must follow the oracle's SQL: a NULL element drops out of
the distance and of its dimension's sum, a row with no distance at all
goes to the lowest cluster id, and every row counts in its cluster's
size. Each oracle case stages a small embeddings table under
``tmp_path`` and compares with the oracle run in DuckDB over the same
file.
"""

from __future__ import annotations

import math
import os
import threading

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.operators.ml_kmeans import (
    _CSCALE,
    _DIM,
    _assign_col,
    _cluster_sizes,
    _collect_init,
    _collect_stats,
    _lloyd,
    _means,
    ml_cluster_purity,
    ml_kmeans,
    ml_kmeans_converged,
)
from project_final_parquet_spark.operators.vecmath import double_array_lit
from project_final_parquet_spark.registry import all_oracles
from project_final_parquet_spark.tables import load


def _stage(tmp_path, sf_dir, edit):
    """The first 60 embeddings of ``sf_dir``, with ``edit`` applied to
    the list of embedding rows; returns the staged directory."""
    src = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
    src = src.slice(0, 60)
    emb = src.column("embedding").to_pylist()
    edit(emb)
    pq.write_table(
        src.set_column(
            src.schema.get_field_index("embedding"),
            "embedding",
            pa.array(emb, pa.list_(pa.float32())),
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def _oracle(sf_dir, name="ml_kmeans"):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con.sql(all_oracles()[name]).fetchall()


def _posexplode_stats(emb, cents):
    """The SQL form of ``_collect_stats``, kept as its reference: a
    posexplode of the floor-scaled values, grouped by (cluster, dim) and
    summed as DECIMAL(38,0). ``posexplode_outer`` keeps a NULL or empty
    row as one (NULL, NULL) element, so a cluster's row count is its
    d = 0 count plus its d = NULL count."""
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


def _edge_rows(emb):
    """Every shape the statistics must get right, in rows 4 and up (rows
    0-3 are the initial centroids)."""
    emb[4] = None
    emb[5][7] = None
    emb[6] = []
    emb[7] = emb[7][:10]
    emb[8] = emb[8] + [0.5] * 6
    emb[9][3] = math.nan
    emb[10][3] = math.inf
    emb[11][3] = -math.inf


def test_kernel_stats_equal_posexplode_aggregation(spark, sf_dir, tmp_path):
    """``_collect_stats`` equals the SQL aggregation it replaced, bit for
    bit, on NULL, empty, short, long, NaN and ±Inf rows, under the
    initial centroids, the next round's, a set with a NULL dimension, a
    set under which one cluster empties and one whose only rows are the
    ones with no distance (so its sums are NULL)."""
    emb = load(spark, _stage(tmp_path, sf_dir, _edge_rows), "embeddings")
    init = _collect_init(emb)
    nan_dim = [(cid, list(c)) for cid, c in init]
    nan_dim[1][1][5] = math.nan
    empties = init + [(_DIM, init[1][1])]  # a copy never wins a row
    no_distance = [(0, [math.nan] * _DIM)] + init[1:]
    cases = {
        "init": init,
        "round2": _means(_posexplode_stats(emb, init)),
        "nan_dim": nan_dim,
        "empties": empties,
        "no_distance": no_distance,
    }
    got = {name: _collect_stats(emb, cents) for name, cents in cases.items()}
    for name, cents in cases.items():
        assert got[name] == _posexplode_stats(emb, cents), name
    assert _DIM not in [cid for cid, _, _ in got["empties"]]
    # NULL row and empty array: no distance to any centroid, no term
    assert got["no_distance"][0][:2] == (0, 2)
    assert set(got["no_distance"][0][2]) == {None}


def test_kernel_sums_do_not_wrap(spark):
    """±Inf elements are terms of ±(2^63 - 1) and -2^63, and sums of
    them leave 64 bits without wrapping, as DECIMAL(38,0) sums do."""
    inf, big = math.inf, 2**63
    rows = [(i, [inf, -inf, 1.0] + [0.0] * (_DIM - 3)) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [0.0] * _DIM)]
    got = _collect_stats(emb, cents)
    assert got == _posexplode_stats(emb, cents)
    assert got[0][2][:3] == (3 * (big - 1), -3 * big, 3 * _CSCALE)


def test_one_job_per_round(spark, sf_dir, jobs_run_by):
    """Building ``ml_kmeans`` runs the init collect and one job per
    Lloyd update (two of them), and executing it runs two: 5 in all
    (the posexplode aggregation made it 7)."""

    def run():
        df = ml_kmeans(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    assert jobs_run_by(run)[0] == 5


def test_stats_from_a_second_thread(spark, sf_dir):
    """The kernel resolves through the session's jar class loader, so a
    Python thread other than the one that added the jar can call it."""
    emb = load(spark, sf_dir, "embeddings")
    cents = _collect_init(emb)
    want = _collect_stats(emb, cents)
    got = []
    worker = threading.Thread(target=lambda: got.append(_collect_stats(emb, cents)))
    worker.start()
    worker.join()
    assert got == [want]


def _null_element(emb):
    emb[10][5] = None


def _null_row(emb):
    emb[17] = None


@pytest.mark.parametrize(
    "edit",
    [
        pytest.param(_null_element, id="null_element"),
        pytest.param(_null_row, id="null_row"),
    ],
)
def test_degenerate_inputs_match_oracle(spark, sf_dir, tmp_path, edit):
    staged = _stage(tmp_path, sf_dir, edit)
    want = _oracle(staged)
    got = [tuple(r) for r in ml_kmeans(spark, staged).collect()]
    assert got == want
    # one NULL must not pull every row into a single cluster
    assert len(want) > 1


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_cluster_sizes_sort_on_one_partition(spark, sf_dir, sf, final_plan):
    """The k-row cluster-size rollup is coalesced to one partition, so
    its sort needs no range partitioning (and no sampling job). Every
    query built on ``_lloyd`` still gives its oracle's answer, and the
    early-stopping form the fixed-iteration one."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    df = ml_kmeans(spark, sf_dir)
    assert [tuple(r) for r in df.collect()] == _oracle(sf_dir)
    assert "rangepartitioning" not in final_plan(df)

    purity = [tuple(r) for r in ml_cluster_purity(spark, sf_dir).collect()]
    assert purity == _oracle(sf_dir, "ml_cluster_purity")

    sizes, rounds = ml_kmeans_converged(spark, sf_dir, max_iters=25)
    got = [tuple(r) for r in sizes.collect()]
    assert "rangepartitioning" not in final_plan(sizes)
    fixed, _ = _lloyd(load(spark, sf_dir, "embeddings"), rounds + 2)
    assert got == [tuple(r) for r in _cluster_sizes(fixed).collect()]


def test_centroid_literal_is_bit_identical_to_numpy_lit(spark):
    a = np.random.default_rng(0).standard_normal(256)
    a[[3, 7, 9]] = [np.nan, -0.0, np.inf]
    df = spark.range(1).select(
        F.lit(a).alias("numpy"), double_array_lit(a).alias("buffer")
    )
    assert df.schema["numpy"].dataType == df.schema["buffer"].dataType
    row = df.head()
    for got in (row.numpy, row.buffer):
        assert np.asarray(got, "<f8").tobytes() == a.tobytes()
