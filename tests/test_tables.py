"""``tables.read_parquet``: the table schema comes from the Parquet
footer on the driver, equal to what Spark's inference job produces,
read afresh on every call, and with no Spark job at all."""

from __future__ import annotations

import glob
import os
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from project_final_parquet_spark.tables import TABLE_NAMES, load, read_parquet

_REPO = Path(__file__).resolve().parent.parent
_CORPORA = sorted(
    {
        str(_REPO / "perfbench" / "corpus" / "sf0.001"),
        str(_REPO / "perfbench" / "corpus" / "sf0.01"),
        *glob.glob("/root/testdata/sf*"),
    }
)


@pytest.mark.parametrize("sf_dir", _CORPORA, ids=os.path.basename)
def test_schema_equals_inferred_schema(spark, sf_dir):
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    # events also derives ts_us from the scanned ts type
    assert "ts_us" in load(spark, sf_dir, "events").columns


def test_spark_written_directory(spark, tmp_path):
    """A multi-part directory written by Spark, with a non-null struct:
    the footer keeps the non-null flags and the reader makes the frame
    nullable, as inference does."""
    path = str(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id"),
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
    )
    assert not df.schema["st"].nullable
    df.repartition(4).write.parquet(path)
    parts = [n for n in os.listdir(path) if n.startswith("part-")]
    assert len(parts) == 4
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == sorted(df.collect())


def test_pyarrow_types(spark, tmp_path):
    path = str(tmp_path / "types.parquet")
    table = pa.table(
        {
            "ns": pa.array([1, 2], pa.timestamp("ns")),
            "tz": pa.array([1, 2], pa.timestamp("us", tz="UTC")),
            "dec": pa.array([1, 2], pa.decimal128(12, 3)),
            "m": pa.array([{"a": 1}, {}], pa.map_(pa.string(), pa.int32())),
            "st": pa.array([{"p": 1.0}, None], pa.struct([("p", pa.float64())])),
            "bin": pa.array([b"x", None], pa.binary()),
        }
    )
    pq.write_table(table, path)
    pq.write_table(
        table.select(["tz"]), str(tmp_path / "int96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    for p in (path, str(tmp_path / "int96.parquet")):
        assert read_parquet(spark, p).schema == spark.read.parquet(p).schema


def test_load_runs_no_job(spark, sf_dir, jobs_run_by):
    jobs, frames = jobs_run_by(
        lambda: [load(spark, sf_dir, name) for name in TABLE_NAMES]
    )
    assert jobs == 0
    assert len(frames) == len(TABLE_NAMES)


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    """Nothing is cached: a table rewritten between two loads is seen
    with the schema of its new footer."""
    sf_dir = str(tmp_path)
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load(spark, sf_dir, "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), path)
    again = load(spark, sf_dir, "region")
    assert again.columns == ["r_regionkey", "r_name"]
    assert again.collect()[0].r_name == "AFRICA"


def test_missing_path_names_the_path(spark, tmp_path):
    missing = str(tmp_path / "region.parquet")
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        read_parquet(spark, missing)
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        load(spark, str(tmp_path), "region")


def test_directory_without_data_file_names_the_path(spark, tmp_path):
    empty = tmp_path / "empty_table"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    (empty / ".part-0.parquet.crc").write_text("")
    with pytest.raises(FileNotFoundError, match=re.escape(str(empty))):
        read_parquet(spark, str(empty))
