"""PageRank / profiling / class-rebalance behavioral tests (sf0.001)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.graph import (
    copurchase_edges,
    graph_pagerank,
)
from project_final_parquet_spark.operators.pipeline import (
    sample_rebalance_classes,
)
from project_final_parquet_spark.operators.profiling import (
    _COLS,
    profile_table,
)
from project_final_parquet_spark.tables import load


def test_pagerank_properties(spark, sf_dir):
    rows = graph_pagerank(spark, sf_dir).collect()
    assert len(rows) == 20
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # teleport term bounds every rank below by 0.15
    assert all(r > 0.15 for r in ranks)
    # bipartite hubs: the most-connected side should surface in top-20
    assert {r.node_type for r in rows} <= {"customer", "supplier"}


def test_pagerank_deterministic(spark, sf_dir):
    a = graph_pagerank(spark, sf_dir).collect()
    b = graph_pagerank(spark, sf_dir).collect()
    assert a == b


def test_profile_table_invariants(spark, sf_dir):
    rows = {r.column_name: r for r in profile_table(spark, sf_dir).collect()}
    assert set(rows) == {c for c, _ in _COLS}
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_nulls <= n
        assert 1 <= r.n_distinct <= n
        assert r.min_value <= r.max_value


def test_rebalance_uniform_classes(spark, sf_dir):
    rows = sample_rebalance_classes(spark, sf_dir).collect()
    assert rows
    kept = {r.n_kept for r in rows}
    assert len(kept) == 1, "all classes must be downsampled to one size"
    target = kept.pop()
    assert target == min(r.n_total for r in rows)
    for r in rows:
        assert r.n_kept <= r.n_total
        assert r.kept_checksum > 0


def test_negative_sampling_properties(spark, sf_dir):
    from project_final_parquet_spark.operators.pipeline import sample_negatives

    rows = sample_negatives(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == 20 * 3
    for r in rows:
        assert r.neg_id != r.anchor_id  # collision bump
        assert 0 <= r.neg_id < n_docs
    # deterministic
    assert rows == sample_negatives(spark, sf_dir).collect()


def test_nested_lines_match_flat_agg(spark, sf_dir):
    from pyspark.sql import functions as F
    from project_final_parquet_spark.operators.relational import (
        q62_nested_order_lines,
    )

    nested = {
        r.o_orderkey: (r.n_lines, r.max_price)
        for r in q62_nested_order_lines(spark, sf_dir).collect()
    }
    flat = {
        r.l_orderkey: (r.n, r.mx)
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter("l_orderkey < 100")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert nested == flat


def test_hll_union_within_bounds(spark, sf_dir):
    from project_final_parquet_spark.operators.relational import (
        q63_hll_sketch_union,
    )

    rows = q63_hll_sketch_union(spark, sf_dir).collect()
    assert rows
    assert all(r.within_bounds for r in rows)


def _nested_pairs(arr):
    """The nested-``transform`` pair generation ``copurchase_edges``
    used before its built-in form, kept as the reference."""
    return arr.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda a, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size("ps")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")


def _edges_from_pairs(pairs):
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("a", "b")
    )


def _stage_lineitem(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([o for o, _ in rows], pa.int64()),
                "l_partkey": pa.array([p for _, p in rows], pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    return str(tmp_path)


def _reference_edges(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return sorted(map(tuple, _edges_from_pairs(_nested_pairs(arr)).collect()))


def test_copurchase_edges_equal_nested_form(spark, sf_dir):
    got = sorted(map(tuple, copurchase_edges(spark, sf_dir).collect()))
    assert got == _reference_edges(spark, sf_dir)
    assert len(got) > 0 and all(a < b for a, b in got)


def test_copurchase_edges_small_baskets(spark, tmp_path):
    """Baskets of one part and of no part (a NULL partkey) yield no
    pair; two orders sharing three parts yield their three edges."""
    rows = [(1, 7), (2, None), (3, 1), (3, 2), (3, 5), (4, 5), (4, 2),
            (4, 1), (5, 9), (5, 9)]
    sf_dir = _stage_lineitem(tmp_path, rows)
    got = sorted(map(tuple, copurchase_edges(spark, sf_dir).collect()))
    assert got == _reference_edges(spark, sf_dir) == [(1, 2), (1, 5), (2, 5)]


def test_copurchase_edges_plan_has_no_lambda(spark, sf_dir):
    df = copurchase_edges(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower(), plan
