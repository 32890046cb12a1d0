"""Edge-case tests: schema evolution on disk, as-of join corner cases,
approximate-aggregate sanity."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.relational import asof_join
from project_final_parquet_spark.tables import load


def test_merge_schema_read(spark):
    """Parquet schema evolution: files with different columns in one
    dataset read back as the union schema (reference O4's set-union write
    model, applied at the storage layer)."""
    d = tempfile.mkdtemp(prefix="merge_")
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(d + "/p1")
    spark.createDataFrame([(2, 3.5)], "id long, y double").write.parquet(d + "/p2")
    df = spark.read.option("mergeSchema", "true").parquet(d + "/p1", d + "/p2")
    assert sorted(df.columns) == ["id", "x", "y"]
    rows = {r.id: (r.x, r.y) for r in df.collect()}
    assert rows[1] == ("a", None)
    assert rows[2] == (None, 3.5)


def _mk(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    for c in df.columns:
        if c.endswith("ts"):
            df = df.withColumn(c, F.to_timestamp(c))
    return df


def test_asof_join_no_prior_right_rows(spark):
    left = _mk(spark, [(1, "2024-01-01 00:00:00")], "k long, lts string")
    right = _mk(
        spark, [(1, "2024-06-01 00:00:00", 9.0)], "k long, rts string, payload double"
    )
    out = asof_join(
        left, right, on="k", left_time="lts", right_time="rts",
        right_payload=["payload"], tiebreak="k",
    ).collect()
    assert out[0].payload is None  # right row is in the future → no match


def test_asof_join_equal_timestamps_match(spark):
    left = _mk(spark, [(1, "2024-01-01 00:00:00")], "k long, lts string")
    right = _mk(
        spark, [(1, "2024-01-01 00:00:00", 7.0)], "k long, rts string, payload double"
    )
    out = asof_join(
        left, right, on="k", left_time="lts", right_time="rts",
        right_payload=["payload"], tiebreak="k",
    ).collect()
    assert out[0].payload == 7.0  # <= semantics: simultaneous row matches


def test_asof_join_latest_tiebreak_wins(spark):
    left = _mk(spark, [(1, "2024-01-02 00:00:00")], "k long, lts string")
    right = _mk(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1, 1.0),
            (1, "2024-01-01 00:00:00", 2, 2.0),  # same ts, higher tiebreak
        ],
        "k long, rts string, rid long, payload double",
    )
    out = asof_join(
        left, right, on="k", left_time="lts", right_time="rts",
        right_payload=["payload"], tiebreak="rid",
    ).collect()
    assert out[0].payload == 2.0


def test_asof_join_null_payload_not_torn(spark):
    """A NULL inside the matched right row must come through as NULL —
    per-column forward-fill would resurrect the older row's value and
    tear columns from different rows (review finding, fixed via atomic
    struct fill)."""
    left = _mk(spark, [(1, "2024-01-10 00:00:00")], "k long, lts string")
    right = _mk(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1, 5, 50.0),
            (1, "2024-01-02 00:00:00", 2, None, 70.0),  # matched row, pa NULL
        ],
        "k long, rts string, rid long, pa int, pb double",
    )
    out = asof_join(
        left, right, on="k", left_time="lts", right_time="rts",
        right_payload=["pa", "pb"], tiebreak="rid",
    ).collect()
    assert out[0].pa is None and out[0].pb == 70.0


def test_approx_aggs_close_to_exact(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    r = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 5000).alias("amed"),
        F.percentile("l_extendedprice", 0.5).alias("emed"),
    ).head()
    assert abs(r.approx - r.exact) / r.exact < 0.05  # HLL++ default rsd
    assert abs(r.amed - r.emed) / r.emed < 0.02


def test_cusum_closed_form_matches_recursion(spark, sf_dir):
    """The window-function CUSUM must equal the textbook sequential
    recursion S_t = max(0, S_{t-1} + (nd*x_t - total)) replayed in
    Python over the same daily series."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.registry import all_queries
    from project_final_parquet_spark.tables import load

    ev = load(spark, sf_dir, "events")
    daily = sorted(
        (r["day"], r["x"])
        for r in ev.groupBy(
            F.expr("ts_us div 86400000000").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    nd = len(daily)
    total = sum(x for _, x in daily)
    s, expect = 0, {}
    for day, x in daily:
        s = max(0, s + (nd * x - total))
        expect[day] = s
    got = all_queries()["events_changepoint_cusum"](spark, sf_dir).collect()
    assert len(got) == 5
    for r in got:
        assert expect[r["day"]] == r["cusum_scaled"]
    top5 = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["day"], r["cusum_scaled"]) for r in got] == top5
