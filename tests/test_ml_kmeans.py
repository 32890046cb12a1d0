"""ml_kmeans on degenerate inputs: the registered DuckDB oracle's answer.

The assignment and the centroid update run in the ``kmeans_assign`` JVM
kernel and one posexplode aggregation. NULLs must follow the oracle's
SQL: a NULL element drops out of the distance and of its dimension's
sum, a row with no distance at all goes to the lowest cluster id, and
every row counts in its cluster's size. Each case stages a small
embeddings table under ``tmp_path`` and compares with the oracle run
in DuckDB over the same file.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.operators.ml_kmeans import ml_kmeans
from project_final_parquet_spark.operators.vecmath import double_array_lit
from project_final_parquet_spark.registry import all_oracles


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


def _oracle(sf_dir):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con.sql(all_oracles()["ml_kmeans"]).fetchall()


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
