"""Property-based check of the as-of join against pandas merge_asof —
an independent implementation of the same point-in-time semantics."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.relational import asof_join

_key = st.integers(min_value=0, max_value=2)
_time = st.integers(min_value=0, max_value=50)

_left_rows = st.lists(st.tuples(_key, _time), min_size=1, max_size=12)
_right_rows = st.lists(
    st.tuples(_key, _time, st.integers(min_value=0, max_value=999)),
    min_size=0,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_rows=_left_rows, right_rows=_right_rows)
def test_asof_matches_pandas_merge_asof(spark, left_rows, right_rows):
    left_rows = [(i, k, t) for i, (k, t) in enumerate(left_rows)]
    right_rows = [(i, k, t, p) for i, (k, t, p) in enumerate(right_rows)]
    # dedupe simultaneous right rows per (key, time): keep max rid — the
    # operator's documented tiebreak; merge_asof would pick the LAST in
    # input order instead, so align the inputs first.
    best = {}
    for rid, k, t, p in right_rows:
        best[(k, t)] = max(best.get((k, t), (-1, 0)), (rid, p))
    right_rows = [(rid, k, t, p) for (k, t), (rid, p) in best.items()]

    left = spark.createDataFrame(left_rows, "lid long, k long, lt long")
    right = spark.createDataFrame(right_rows, "rid long, k long, rt long, payload long")
    got = {
        r.lid: r.payload
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="lt",
            right_time="rt",
            right_payload=["payload"],
            tiebreak="rid",
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["lid", "k", "lt"]).sort_values("lt")
    rp = pd.DataFrame(
        right_rows, columns=["rid", "k", "rt", "payload"]
    ).sort_values("rt")
    if len(rp):
        m = pd.merge_asof(
            lp, rp, left_on="lt", right_on="rt", by="k", direction="backward"
        )
        exp = {
            int(r.lid): (None if pd.isna(r.payload) else int(r.payload))
            for r in m.itertuples()
        }
    else:
        exp = {int(r.lid): None for r in lp.itertuples()}
    assert got == exp
