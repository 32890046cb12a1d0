"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM), but every config here is
chosen to also be the right default on a large multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, join re-planning).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a higher initial number, so the setting is
  a floor, not a tuning cliff.
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF path (the sanctioned slow path).
- PySpark's per-call call-site capture off: it is a fixed driver cost
  on every Column built, paid before any row moves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "project_final_parquet_spark"


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``extra_conf`` lets tests layer configs (e.g. streaming checkpoint
    dirs) without re-creating the session factory.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet stores ts as TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects; read it as raw nanos and normalize in
        # tables.load (distributed, no driver materialization).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark wraps F.col and every Column method in a call-site
        # capture (pyspark.errors.utils._with_origin): an active-session
        # lookup, a conf read, a Python stack walk and a JVM origin
        # set/clear per call. Off, F.col("x").alias("y") makes 4 py4j
        # round trips instead of 24, and a perfbench vector_graph pass
        # 1,155 from the driver thread instead of 2,339. The cost: a
        # runtime error raised from a DataFrame-API expression keeps its
        # error class and message, but its "== DataFrame ==" context no
        # longer names the Python file:line that built the expression.
        # PySpark reads this flag once per process, from the first
        # session that asks.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
