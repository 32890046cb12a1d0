"""graph_modularity_brands: lazy construction, one derivation of the
co-purchase edges, and the oracle's answer on degenerate inputs.

The query is one aggregation over the edge list, so calling it must
run no Spark job beyond reading its tables' schemas, and its executed
plan must scan lineitem once: three consumers of the edges each
replaying the basket-pair generation is the 3× replay battery14
measured at 13.5× per 10× data. Tiny hand-built corpora must give
DuckDB's answer for the registered oracle SQL.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from project_final_parquet_spark.operators.pipeline14 import (
    graph_modularity_brands,
)
from project_final_parquet_spark.registry import all_oracles


def test_construction_runs_no_job_beyond_schema_reads(spark, sf_dir, jobs_run_by):
    """Calling the query runs no Spark job: its two tables' schemas come
    from their footers on the driver, and no checkpoint or collect runs
    before the frame is acted on."""
    jobs, df = jobs_run_by(lambda: graph_modularity_brands(spark, sf_dir))
    assert jobs == 0
    assert df.count() > 0


def test_executed_plan_scans_lineitem_once(spark, sf_dir, final_plan):
    df = graph_modularity_brands(spark, sf_dir)
    df.collect()
    plan = final_plan(df)
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "lineitem.parquet" in line
    ]
    assert len(scans) == 1, plan


def _stage(tmp_path, orders, brands):
    """Write lineitem (one row per (order, part) in ``orders``) and
    part (``brands``: partkey -> brand) parquet files; return the dir."""
    rows = [(o, p) for o, parts in orders.items() for p in parts]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([o for o, _ in rows], pa.int64()),
                "l_partkey": pa.array([p for _, p in rows], pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(list(brands), pa.int64()),
                "p_brand": pa.array(list(brands.values()), pa.string()),
            }
        ),
        tmp_path / "part.parquet",
    )
    return str(tmp_path)


def _oracle(sf_dir):
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con.sql(all_oracles()["graph_modularity_brands"]).fetchall()


def _row(brand, m_within, degree_sum, m):
    dd = degree_sum / (2 * m)
    return (brand, m_within, degree_sum, m_within / m - dd * dd)


def _key(row):
    return (row[0] is not None, row[0] or "")


# Parts 1-3 are bought together in two orders, so every pair of them
# is an edge (w = 2) and m = 3.
_TRIANGLE = {1: [1, 2, 3], 2: [1, 2, 3]}


@pytest.mark.parametrize(
    "orders, brands, want",
    [
        pytest.param(
            _TRIANGLE,
            {1: "A", 2: "A"},
            # m = 3 counts the two edges into part 3, which has no row
            [_row("A", 1, 4, 3)],
            id="endpoint_missing_from_part",
        ),
        pytest.param(
            {1: [1, 2], 2: [2, 3], 3: [1, 3]},
            {1: "A", 2: "A", 3: "B"},
            [],
            id="no_pair_reaches_w2",
        ),
        pytest.param(
            _TRIANGLE,
            {1: "A", 2: "A", 3: "B"},
            [_row("A", 1, 4, 3), _row("B", 0, 2, 3)],
            id="brand_without_within_edge",
        ),
        pytest.param(
            _TRIANGLE,
            {1: "A", 2: "A", 3: None},
            # a part row whose brand is NULL is still a community
            [_row("A", 1, 4, 3), _row(None, 0, 2, 3)],
            id="part_with_null_brand",
        ),
    ],
)
def test_degenerate_inputs_match_oracle(spark, tmp_path, orders, brands, want):
    sf_dir = _stage(tmp_path, orders, brands)
    oracle = sorted(_oracle(sf_dir), key=_key)
    got = sorted(
        (tuple(r) for r in graph_modularity_brands(spark, sf_dir).collect()),
        key=_key,
    )
    assert got == oracle
    assert got == sorted(want, key=_key)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_brand_rollup_is_windowed_and_sorted_on_one_partition(spark, sf_dir, sf, final_plan):
    """The ≤ |brands|+2-row rollup is coalesced to one partition, so the
    total-edges window and the final sort add no exchange: no shuffle
    to a single partition and no range partitioning (with its sampling
    job). The answer is still the oracle's."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    df = graph_modularity_brands(spark, sf_dir)
    got = sorted(map(tuple, df.collect()), key=_key)
    assert got == sorted(_oracle(sf_dir), key=_key)
    plan = final_plan(df)
    assert "rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
