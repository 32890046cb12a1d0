"""Round-13 division audit: degenerate LEGAL inputs that zero a
statistic's denominator must produce NULL, never an ANSI
DIVIDE_BY_ZERO abort. Every statistic with a division was swept for
this crash class.

Each test builds the smallest corpus that zeroes one denominator:
constant columns, single-row groups, single-class labels, regular
graphs, zero durations, empty documents. Verified engine semantics
pinned by these tests' premises (checked live in round 13):

- Spark ANSI aborts on double/0 and 0.0/0.0 (not just int/decimal);
- Spark NULL/0 is NULL (the null check precedes the zero check);
- DuckDB double/0 is natively NULL, so a Spark-side F.try_divide
  restores cross-engine agreement WITHOUT touching the oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import types as T

from project_final_parquet_spark.operators.events_analytics import (
    events_time_weighted_avg,
)
from project_final_parquet_spark.operators.llm_text import (
    text_bpe_fertility_by_lang,
)
from project_final_parquet_spark.operators.ml_eval import (
    ml_confusion_thresholds,
    ml_expected_calibration_error,
)
from project_final_parquet_spark.operators.pipeline6 import (
    events_ab_cuped,
    graph_degree_assortativity,
)
from project_final_parquet_spark.operators.pipeline16 import (
    ml_auc_delong_ci,
    orders_spearman_price_items,
)
from project_final_parquet_spark.operators.relational import (
    q59_stat_moments,
    q64_groupwise_ols,
)

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write(spark, d, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/{name}.parquet")


def test_stat_moments_and_ols_constant_and_single_row(
    spark, tmp_path_factory
):
    """Constant quantity => corr/slope NULL (zero x-variance), stddev
    exactly 0; a 1-row group => stddev NULL (n-1 = 0). Non-degenerate
    moments still come out right next to the NULLs."""
    d = tmp_path_factory.mktemp("div_audit")
    li = [
        ("A", 5.0, 10.0),
        ("A", 5.0, 20.0),
        ("A", 5.0, 40.0),
        ("B", 7.0, 3.0),
    ]
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    _write(spark, d, "lineitem", li, schema)
    rows = {r["l_returnflag"]: r for r in q59_stat_moments(spark, str(d)).collect()}
    assert rows["A"]["n_rows"] == 3
    assert rows["A"]["mean_qty"] == 5.0
    assert rows["A"]["stddev_qty"] == 0.0
    assert rows["A"]["corr_qty_price"] is None  # constant x
    assert rows["B"]["stddev_qty"] is None  # n - 1 = 0
    assert rows["B"]["corr_qty_price"] is None
    ols = {r["l_returnflag"]: r for r in q64_groupwise_ols(spark, str(d)).collect()}
    assert ols["A"]["slope"] is None and ols["A"]["intercept"] is None
    assert ols["B"]["slope"] is None


def test_spearman_constant_price_is_null(spark, tmp_path_factory):
    """Every order the same price AND the same item count: both rank
    variances are 0 => rho NULL, counts still exact."""
    d = tmp_path_factory.mktemp("div_audit")
    _write(
        spark,
        d,
        "orders",
        [(i, 100.0) for i in range(1, 5)],
        T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        ),
    )
    _write(
        spark,
        d,
        "lineitem",
        [],
        T.StructType([T.StructField("l_orderkey", T.LongType())]),
    )
    r = orders_spearman_price_items(spark, str(d)).collect()[0]
    assert r["n"] == 4
    assert r["spearman_rho"] is None


def test_assortativity_regular_graph_is_null(spark, tmp_path_factory):
    """One co-purchase edge => both endpoints degree 1 => zero degree
    variance => r NULL (a regular graph has no defined assortativity);
    the graph-shape columns still report."""
    d = tmp_path_factory.mktemp("div_audit")
    # parts 100/200 bought together in orders 1 and 2 => one edge
    li = [(1, 100), (1, 200), (2, 100), (2, 200)]
    _write(
        spark,
        d,
        "lineitem",
        li,
        T.StructType(
            [
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_partkey", T.LongType()),
            ]
        ),
    )
    r = graph_degree_assortativity(spark, str(d)).collect()[0]
    assert r["n_vertices"] == 2 and r["n_edges"] == 1
    assert r["max_degree"] == 1 and r["avg_degree"] == 1.0
    assert r["assortativity_r"] is None


_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _emb_rows(labels):
    return [
        (i, lab, [float((i + j) % 7) / 7.0 for j in range(64)])
        for i, lab in enumerate(labels)
    ]


def test_delong_single_class_is_null(spark, tmp_path_factory):
    """All labels positive (nn = 0 — legal on a skewed corpus): the
    DeLong machinery returns NULL auc/se/ci instead of aborting on the
    zeroed m*nn / (nn-1) denominators."""
    d = tmp_path_factory.mktemp("div_audit")
    _write(spark, d, "embeddings", _emb_rows([0] * 6), _EMB_SCHEMA)
    r = ml_auc_delong_ci(spark, str(d)).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (6, 0)
    assert r["auc"] is None and r["se_delong"] is None
    assert r["ci_lo"] is None and r["ci_hi"] is None


def test_confusion_thresholds_tiny_corpus(spark, tmp_path_factory):
    """n < 100/pct makes n_sel = n*pct div 100 == 0 (legal tiny/
    filtered corpus): precision NULL at that operating point, recall
    still defined, nothing aborts."""
    d = tmp_path_factory.mktemp("div_audit")
    _write(
        spark, d, "embeddings", _emb_rows([0, 1, 0, 1, 1]), _EMB_SCHEMA
    )
    rows = {r["pct"]: r for r in ml_confusion_thresholds(spark, str(d)).collect()}
    small = min(rows)
    assert rows[small]["n_selected"] == 0
    assert rows[small]["precision_at"] is None  # n_sel = 0
    for pct, r in rows.items():
        if (r["tp"] + r["fn"]) > 0:
            assert r["recall_at"] is not None


def test_calibration_constant_scores_no_abort(spark, tmp_path_factory):
    """Identical embeddings => identical probe scores => min-max range
    0 (legal degenerate probe): the normalized confidence is NULL and
    the query completes instead of aborting."""
    d = tmp_path_factory.mktemp("div_audit")
    rows = [(i, i % 2, [0.5] * 64) for i in range(8)]
    _write(spark, d, "embeddings", rows, _EMB_SCHEMA)
    out = ml_expected_calibration_error(spark, str(d)).collect()
    assert isinstance(out, list)  # completed, no DIVIDE_BY_ZERO


def test_cuped_zero_variance_covariate(spark, tmp_path_factory):
    """Single-day corpus: the pre-period is empty, every user's
    covariate is 0 => var(x) = 0 (legal) => theta and the adjusted
    means NULL; raw means still real."""
    d = tmp_path_factory.mktemp("div_audit")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    ev = [
        (i, base + dt.timedelta(hours=i % 4), i % 4, "click", 1.0 + i)
        for i in range(8)
    ]
    _write(spark, d, "events", ev, _EVENTS_SCHEMA)
    rows = events_ab_cuped(spark, str(d)).collect()
    assert rows, "arms must report"
    for r in rows:
        assert r["theta"] is None and r["mean_y_cuped"] is None
        assert r["mean_y"] is not None


def test_twap_zero_duration_holds(spark, tmp_path_factory):
    """A user whose consecutive events share one timestamp has total
    held time exactly 0 (legal back-to-back events): TWAP NULL for
    that user, real for a normal user, no abort."""
    d = tmp_path_factory.mktemp("div_audit")
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    ev = [
        # user 1: two events, SAME microsecond => one 0-us hold
        (1, t0, 1, "click", 3.0),
        (2, t0, 1, "click", 5.0),
        # user 2: one real 2h hold
        (3, t0, 2, "click", 4.0),
        (4, t0 + dt.timedelta(hours=2), 2, "click", 9.0),
    ]
    _write(spark, d, "events", ev, _EVENTS_SCHEMA)
    rows = {r["user_id"]: r for r in events_time_weighted_avg(spark, str(d)).collect()}
    assert rows[1]["total_held_us"] == 0
    assert rows[1]["twap"] is None
    assert rows[2]["total_held_us"] == 2 * 3_600_000_000
    assert abs(rows[2]["twap"] - 4.0) < 1e-6


def test_fertility_empty_documents(spark, tmp_path_factory):
    """A language bucket of empty documents has zero BPE tokens (ws is
    structurally >= 1 — split('') is ['']): chars_per_token NULL,
    fertility an exact 0, no abort."""
    d = tmp_path_factory.mktemp("div_audit")
    docs = [("xx", "", 0), ("xx", "", 0), ("en", "hello world", 11)]
    _write(
        spark,
        d,
        "documents",
        docs,
        T.StructType(
            [
                T.StructField("lang", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        ),
    )
    rows = {r["lang"]: r for r in text_bpe_fertility_by_lang(spark, str(d)).collect()}
    assert rows["xx"]["bpe_tokens"] == 0
    assert rows["xx"]["chars_per_token"] is None
    assert rows["xx"]["fertility"] == 0.0
    assert rows["en"]["fertility"] > 0
    assert math.isfinite(rows["en"]["chars_per_token"])
