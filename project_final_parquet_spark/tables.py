"""Test-corpus table loaders.

The driver materializes a deterministic TPC-H-ish corpus (see TESTDATA.md)
as one parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}/``.
All engine queries take an ``sf_dir`` and read through these helpers so
the scan config (pushdown, schema) is uniform.

Schemas come from the Parquet footer, read on the driver
(``read_parquet``), as the reference reader starts from the footer
(src/parquet_reader.cpp:45-78). A bare ``spark.read.parquet(path)``
infers the schema with a one-task Spark job instead: 0.125 CPU-s per
read in a warm ``local[4]`` session, against 0.03 with the schema given
(lineitem sf0.01, median of 30). Building a query therefore runs no Spark
job. The footer is read again on every call: nothing is cached, so a
rewritten table is seen with its new schema.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema read from one file's
    footer on the driver rather than by Spark's inference job.

    The file is ``path`` itself or, for a directory, its first data file
    by name (names starting with ``_`` or ``.`` are not data). The footer
    goes through Spark's own ``readSchemaFromFooter`` with a converter
    built from the session's SQL conf, the call the inference job makes,
    so ``nanosAsLong``, ``inferTimestampNTZ`` and ``binaryAsString`` still
    apply. Every JVM class is resolved by its fully-qualified name in one
    py4j lookup: an attribute chain (``jvm.org.apache...``) costs a
    failing class lookup per segment, 1.4 ms CPU per access."""
    jvm, jsession = spark._jvm, spark._jsparkSession
    hadoop_path = getattr(jvm, "org.apache.hadoop.fs.Path")
    conf = jsession.sessionState().newHadoopConf()
    file = hadoop_path(path)
    fs = file.getFileSystem(conf)
    if not fs.exists(file):
        raise FileNotFoundError(f"parquet path does not exist: {path}")
    if fs.getFileStatus(file).isDirectory():
        names = sorted(str(st.getPath().getName()) for st in fs.listStatus(file))
        data = [n for n in names if not n.startswith(("_", "."))]
        if not data:
            raise FileNotFoundError(f"no parquet data file in {path}")
        file = hadoop_path(file, data[0])
    reader = getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader")
    footer = getattr(jvm, "org.apache.parquet.hadoop.Footer")(
        file, reader.readFooter(conf, file)
    )
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    converter = getattr(jvm, parquet + "ParquetToSparkSchemaConverter")(
        jsession.sessionState().conf()
    )
    schema = getattr(jvm, parquet + "ParquetFileFormat").readSchemaFromFooter(
        footer, converter
    )
    schema = StructType.fromJson(json.loads(schema.json()))
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # The driver may hand us a vanilla session; this SQL conf is
        # runtime-settable and required to read TIMESTAMP(NANOS) parquet.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to microsecond TIMESTAMP_NTZ plus a ts_us
        # (epoch microseconds, TZ-free) companion — kept because time
        # arithmetic through TIMESTAMP_NTZ↔LTZ casts would depend on the
        # (driver-controlled, unknown) session timezone. The driver's
        # corpus has shipped ts as two physical types across rounds, so
        # branch on what the scan produced:
        # - TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong
        #   it arrives as int64 nanos; integer `div` (a double division
        #   would lose precision above 2^53 ns — 2024 epoch-nanos are
        #   ~1.7e18).
        # - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
        #   TIMESTAMP_NTZ directly; derive ts_us by NTZ-safe diff from
        #   the epoch (no LTZ round-trip, so session TZ is irrelevant).
        # NTZ-from-epoch-micros is done with timestampadd on an NTZ base
        # (pure field arithmetic — TZ-free). The timestamp_micros() route
        # would produce LTZ, and LTZ→NTZ casts go through the (unknown,
        # driver-controlled) session timezone.
        _ntz_from_us = (
            "timestampadd(MICROSECOND, ts_us,"
            " timestamp_ntz'1970-01-01 00:00:00')"
        )
        ts_dtype = dict(df.dtypes)["ts"]
        if ts_dtype == "bigint":
            df = df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
                "ts", F.expr(_ntz_from_us)
            )
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn(
                "ts_us",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " timestamp_ntz'1970-01-01 00:00:00', ts)"
                ),
            )
        elif ts_dtype == "timestamp":
            # LTZ (e.g. isAdjustedToUTC=true, or inferTimestampNTZ
            # disabled in the driver's session). unix_micros reads the
            # TZ-free instant; rebuild NTZ (= UTC rendering, matching
            # what DuckDB shows for the same file) from it.
            df = df.withColumn("ts_us", F.unix_micros("ts")).withColumn(
                "ts", F.expr(_ntz_from_us)
            )
        else:
            # Open-ended fallthrough would silently corrupt time
            # arithmetic on a future corpus regen; fail loudly instead
            # and re-check the parquet schema (see .claude/skills/verify).
            raise TypeError(
                f"events.ts arrived as unsupported dtype {ts_dtype!r}; "
                "expected bigint (legacy nanos), timestamp_ntz, or "
                "timestamp (LTZ)"
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for the SQL API)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
