"""The tuned session turns PySpark's per-call call-site capture off.

With capture on, PySpark wraps ``F.col`` and every ``Column`` method in
``_with_origin``: per call, an active-session lookup, a conf read, a
Python stack walk and a JVM origin set/clear. ``F.col("x").alias("y")``
makes 24 py4j round trips with it and 4 without. PySpark reads the flag
once per process and caches it in
``pyspark.errors.utils._enable_debugging_cache``, so each test here
clears that cache first: the answer must come from the session's conf,
whichever test or session asked first.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

# py4j round trips of a warm F.col("x").alias("y") with capture off
# (PySpark 4.1, local mode).
_COL_ALIAS_ROUND_TRIPS = 4


@pytest.fixture
def capture_from_conf(spark, monkeypatch):
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    return spark


def test_get_spark_turns_call_site_capture_off(capture_from_conf):
    spark = capture_from_conf
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not error_utils.is_debugging_enabled()


def test_column_construction_stays_within_round_trip_budget(
    capture_from_conf, monkeypatch
):
    client = capture_from_conf.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = []

    def counting(*args, **kwargs):
        # not the deletes py4j's finalizer thread sends meanwhile
        if threading.get_ident() == caller:
            calls.append(args)
        return send(*args, **kwargs)

    F.col("x").alias("y")
    monkeypatch.setattr(client, "send_command", counting)
    F.col("x").alias("y")
    assert len(calls) <= _COL_ALIAS_ROUND_TRIPS, calls


def test_ansi_divide_by_zero_still_raises_its_error_class(capture_from_conf):
    spark = capture_from_conf
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.range(3).select((F.col("id") / F.lit(0)).alias("q"))
        with pytest.raises(ArithmeticException) as err:
            df.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
