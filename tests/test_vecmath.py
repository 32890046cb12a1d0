"""Bit-equality of the JVM dot-product kernel (vecmath.py, ``vec_dot``)
against the Catalyst HOF left-fold it replaced.

The kernel's correctness claim is EXACT: for every pair, the kernel's
fold performs the identical IEEE-754 op sequence as
``aggregate(zip_with(...))``, so dots, norms and cosines are
bit-for-bit equal — not approximately equal. These tests assert that
on adversarial float32 data (denormal-ish magnitudes, mixed signs,
values whose sums cancel), on every input shape the operators pass
(float·float, float·double literal, sliced prefixes, self-dot norms),
on the fold's NULL cases, and on the empty-frame edge case; that the
queries using the kernels run no Python worker; and that no operator
module grows its own dot or norm fold again.
"""

from __future__ import annotations

import ast
import math
import random
import struct
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from project_final_parquet_spark.operators.vecmath import (
    VEC_DOT,
    dot,
    double_array_lit,
    hof_dot,
    norm,
    register_kernels,
    with_pair_cosine,
)

DIM = 64


def _f32(x: float) -> float:
    """Round-trip through float32 (what array<float> storage does)."""
    return struct.unpack("f", struct.pack("f", x))[0]


def _rand_vec(rng: random.Random) -> list[float]:
    out = []
    for _ in range(DIM):
        mag = rng.choice([1e-6, 1e-3, 1.0, 1e3, 1e6])
        out.append(_f32(rng.uniform(-mag, mag)))
    return out


@pytest.fixture(scope="module")
def pair_df(spark):
    rng = random.Random(1337)
    rows = []
    for i in range(300):
        ea, eb = _rand_vec(rng), _rand_vec(rng)
        rows.append((i, ea, eb))
    df = spark.createDataFrame(
        rows, "pair_id long, ea array<float>, eb array<float>"
    )

    def norm(c):
        return F.sqrt(hof_dot(c, c))

    return df.select(
        "pair_id", "ea", "eb", norm(F.col("ea")).alias("na"),
        norm(F.col("eb")).alias("nb"),
    )


def test_kernel_bit_identical_to_hof_fold(spark, pair_df):
    hof = {
        r["pair_id"]: r["cosine"]
        for r in pair_df.select(
            "pair_id",
            (
                hof_dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        ).collect()
    }
    ker = {
        r["pair_id"]: r["cosine"]
        for r in with_pair_cosine(pair_df, keep=["pair_id"]).collect()
    }
    assert set(hof) == set(ker)
    for pid, v in hof.items():
        # bit-for-bit: compare the raw double bits, not a tolerance
        assert struct.pack("d", v) == struct.pack("d", ker[pid]), (
            f"pair {pid}: HOF {v!r} != kernel {ker[pid]!r}"
        )


def test_kernel_matches_python_left_fold(spark, pair_df):
    """Cross-check a third implementation (pure-Python left fold — the
    same convention the DuckDB oracles run) on a sample of pairs."""
    rows = pair_df.limit(20).collect()
    ker = {
        r["pair_id"]: r["cosine"]
        for r in with_pair_cosine(
            pair_df.limit(20), keep=["pair_id"]
        ).collect()
    }
    for r in rows:
        acc = 0.0
        for x, y in zip(r["ea"], r["eb"]):
            acc = acc + float(x) * float(y)
        na = math.sqrt(_self_fold(r["ea"]))
        nb = math.sqrt(_self_fold(r["eb"]))
        expect = acc / (na * nb)
        assert struct.pack("d", expect) == struct.pack(
            "d", ker[r["pair_id"]]
        )


def _self_fold(v) -> float:
    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return acc


def test_kernel_empty_frame(spark, pair_df):
    empty = pair_df.filter(F.col("pair_id") < 0)
    out = with_pair_cosine(empty, keep=["pair_id"])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["pair_id", "cosine"]


def test_zero_norm_vector_yields_null_cosine(spark):
    """An all-zeros float32 vector makes na*nb == 0; Catalyst's Divide
    is NULL (non-ANSI) / DIVIDE_BY_ZERO (ANSI) there, never IEEE
    ±inf/NaN — and a NaN cosine would sort FIRST in every desc top-k
    (optimization r14, ADVICE r13 medium). The kernel must emit NULL
    for the degenerate row and stay bit-identical on its neighbors in
    the same Arrow batch."""
    rng = random.Random(7)
    good_a, good_b = _rand_vec(rng), _rand_vec(rng)
    zero = [0.0] * DIM
    df = spark.createDataFrame(
        [(0, good_a, good_b), (1, zero, good_b), (2, zero, zero),
         (3, good_b, good_a)],
        "pair_id long, ea array<float>, eb array<float>",
    )

    def norm(c):
        return F.sqrt(hof_dot(c, c))

    src = df.select(
        "pair_id", "ea", "eb", norm(F.col("ea")).alias("na"),
        norm(F.col("eb")).alias("nb"),
    )
    got = {
        r["pair_id"]: r["cosine"]
        for r in with_pair_cosine(src, keep=["pair_id"]).collect()
    }
    assert got[1] is None and got[2] is None
    for pid, va, vb in ((0, good_a, good_b), (3, good_b, good_a)):
        acc = 0.0
        for x, y in zip(va, vb):
            acc = acc + float(x) * float(y)
        expect = acc / (math.sqrt(_self_fold(va)) * math.sqrt(_self_fold(vb)))
        assert struct.pack("d", expect) == struct.pack("d", got[pid])


def test_null_embedding_yields_null_cosine(spark):
    """A NULL embedding list must null that row's cosine — NOT shift
    every subsequent row (Arrow flatten() silently drops null list
    slots, so an unguarded reshape would misalign or crash — ADVICE
    r13 low). Valid rows in the same batch stay bit-identical."""
    rng = random.Random(11)
    va, vb = _rand_vec(rng), _rand_vec(rng)
    df = spark.createDataFrame(
        [(0, va, vb), (1, None, vb), (2, va, None), (3, vb, va)],
        "pair_id long, ea array<float>, eb array<float>",
    )

    def norm(c):
        return F.sqrt(hof_dot(c, c))

    src = df.select(
        "pair_id", "ea", "eb", norm(F.col("ea")).alias("na"),
        norm(F.col("eb")).alias("nb"),
    )
    got = {
        r["pair_id"]: r["cosine"]
        for r in with_pair_cosine(src, keep=["pair_id"]).collect()
    }
    assert got[1] is None and got[2] is None
    for pid, xa, xb in ((0, va, vb), (3, vb, va)):
        acc = 0.0
        for x, y in zip(xa, xb):
            acc = acc + float(x) * float(y)
        expect = acc / (math.sqrt(_self_fold(xa)) * math.sqrt(_self_fold(xb)))
        assert struct.pack("d", expect) == struct.pack("d", got[pid])


def _bits(v):
    return None if v is None else struct.pack("d", v)


def test_vec_dot_bit_equal_to_hof_dot(spark, pair_df):
    """``vec_dot`` against ``hof_dot`` on the adversarial-magnitude
    pairs and on the fold's NULL cases: arrays of different lengths, a
    NULL element, a NULL array, and two empty arrays (0.0)."""
    rng = random.Random(23)
    va, vb = _rand_vec(rng), _rand_vec(rng)
    with_null = list(va)
    with_null[17] = None
    odd = spark.createDataFrame(
        [
            (1000, va, vb[:40]),
            (1001, va[:1], vb),
            (1002, with_null, vb),
            (1003, vb, with_null),
            (1004, None, vb),
            (1005, [], []),
            (1006, [], vb),
            (1007, va[:1], vb[:1]),
        ],
        "pair_id long, ea array<float>, eb array<float>",
    )
    register_kernels(spark)
    ea, eb = F.col("ea"), F.col("eb")
    # a ±1/[-1, 1] double literal row: the LSH-plane and projection shape
    plane = F.array(*[F.lit(_f32(rng.uniform(-1, 1))) for _ in range(DIM)])
    pa, pb = F.slice(ea, 1, 16), F.slice(eb, 1, 16)
    hof_norm = F.sqrt(
        F.aggregate(
            F.transform(ea, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    shapes = {
        "pair": (hof_dot(ea, eb), F.call_function(VEC_DOT, "ea", "eb")),
        "norm": (hof_norm, norm(ea)),
        "literal": (hof_dot(ea, plane), dot(ea, plane)),
        "prefix": (hof_dot(pa, pb), dot(pa, pb)),
    }
    rows = (
        pair_df.select("pair_id", "ea", "eb")
        .unionByName(odd)
        .select(
            "pair_id",
            *[h.alias(f"hof_{k}") for k, (h, _) in shapes.items()],
            *[v.alias(f"ker_{k}") for k, (_, v) in shapes.items()],
        )
        .collect()
    )
    assert len(rows) == 308
    by_id = {r["pair_id"]: r for r in rows}
    assert by_id[1005]["ker_pair"] == 0.0
    for pid in (1000, 1001, 1002, 1003, 1004, 1006):
        assert by_id[pid]["ker_pair"] is None, pid
    assert by_id[1002]["ker_norm"] is None and by_id[1004]["ker_norm"] is None
    for r in rows:
        for k in shapes:
            assert _bits(r[f"hof_{k}"]) == _bits(r[f"ker_{k}"]), (
                f"pair {r['pair_id']} {k}: HOF {r[f'hof_{k}']!r} "
                f"!= kernel {r[f'ker_{k}']!r}"
            )


_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


@pytest.mark.parametrize(
    "name", ["sim_pairs_label_block", "ml_kmeans", "sim_random_projection"]
)
def test_executed_plan_has_no_python_node(spark, sf_dir, name):
    """The vector kernels run in the JVM: the plan Spark executed holds
    no operator that ships rows to a Python worker."""
    from project_final_parquet_spark.registry import all_queries

    df = all_queries()[name](spark, sf_dir)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    plan = adaptive.executedPlan().toString()
    assert "vec_dot(" in plan or "kmeans_assign(" in plan, plan
    found = [n for n in _PYTHON_NODES if n in plan]
    assert not found, plan
    if name == "sim_random_projection":
        # the query side's vec_id = 0 filter still reaches the scan
        assert "EqualTo(vec_id,0)]" in plan, plan


def test_random_projection_null_element_ranks_last(spark, sf_dir, tmp_path):
    """A NULL embedding element nulls that row's projection and score,
    as the HOF fold does, so the row drops out of the desc top-10
    instead of ranking first with a NaN score."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_final_parquet_spark.registry import all_queries

    run = all_queries()["sim_random_projection"]
    clean = [tuple(r) for r in run(spark, sf_dir).collect()]
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    victim = clean[0][0]
    embs = t.column("embedding").to_pylist()
    for i, vid in enumerate(t.column("vec_id").to_pylist()):
        if vid == victim:
            embs[i][3] = None
    col = t.schema.get_field_index("embedding")
    t = t.set_column(
        col, t.schema.field(col), pa.array(embs, t.schema.field(col).type)
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")

    got = [tuple(r) for r in run(spark, str(tmp_path)).collect()]
    assert all(not math.isnan(r[2]) for r in got), got
    assert victim not in [r[0] for r in got]
    # every other row keeps its exact score and rank
    assert got[:9] == clean[1:]


_PKG = Path(__file__).resolve().parent.parent / "project_final_parquet_spark"


def _is_double_dot_fold(call: ast.Call) -> bool:
    """``F.aggregate(F.zip_with|F.transform(.., lambda: x * y), F.lit(0.0),
    ..)`` where both factors are lambda parameters, cast or not: the
    double-precision dot/norm fold ``vec_dot`` replaces."""
    if not (
        isinstance(call.func, ast.Attribute)
        and call.func.attr == "aggregate"
        and len(call.args) >= 2
        and isinstance(call.args[0], ast.Call)
        and isinstance(call.args[0].func, ast.Attribute)
        and call.args[0].func.attr in ("zip_with", "transform")
        and ast.unparse(call.args[1]) == "F.lit(0.0)"
    ):
        return False
    lam = call.args[0].args[-1]
    if not isinstance(lam, ast.Lambda):
        return False
    params = {a.arg for a in lam.args.args}

    def factor(e) -> bool:
        if isinstance(e, ast.Call) and isinstance(e.func, ast.Attribute):
            e = e.func.value if e.func.attr == "cast" else e
        return isinstance(e, ast.Name) and e.id in params

    body = lam.body
    return (
        isinstance(body, ast.BinOp)
        and isinstance(body.op, ast.Mult)
        and factor(body.left)
        and factor(body.right)
    )


def test_one_dot_product_implementation():
    """Every double embedding dot and norm goes through ``vecmath.dot``.
    ``F.zip_with`` stays only in ``hof_dot`` (the test reference) and
    the three non-dot folds: similarity2's BIGINT quantized dot and the
    squared-distance folds of similarity4 and dedup3."""
    zip_with, folds, defs = set(), [], []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        if "F.zip_with(" in src:
            zip_with.add(path.name)
        if path.name == "vecmath.py":
            continue
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call) and _is_double_dot_fold(node):
                folds.append(f"{path.name}:{node.lineno}")
            if isinstance(node, ast.FunctionDef) and node.name in (
                "_dot",
                "_norm",
            ):
                defs.append(f"{path.name}:{node.lineno}")
    assert zip_with == {
        "vecmath.py",
        "similarity2.py",
        "similarity4.py",
        "dedup3.py",
    }
    assert not folds, folds
    assert not defs, defs


def test_plane_literal_matches_scalar_literals(spark):
    """A plane built in one py4j transfer holds the values of ``F.array``
    over its scalar literals, as doubles, and the dots against it are
    bit-equal. (Its type is ``F.lit``'s for an array, which marks the
    elements nullable where ``F.array`` of non-null literals does not.)"""
    from project_final_parquet_spark.operators.similarity import _PLANES
    from project_final_parquet_spark.operators.similarity3 import _R

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [([_f32(rng.uniform(-1, 1)) for _ in range(DIM)],) for _ in range(20)],
        "e array<float>",
    )
    for row in (_PLANES[0], [float(x) for x in _R[0]]):
        scalar = F.array(*[F.lit(c) for c in row])
        df = emb.select(
            scalar.alias("s"),
            double_array_lit(row).alias("b"),
            dot(F.col("e"), scalar).alias("ds"),
            dot(F.col("e"), double_array_lit(row)).alias("db"),
        )
        assert df.schema["s"].dataType.elementType == DoubleType()
        assert df.schema["b"].dataType.elementType == DoubleType()
        for r in df.collect():
            assert r.s == r.b
            assert _bits(r.ds) == _bits(r.db)


def test_dot_checks_the_catalog_once_per_session(spark, monkeypatch):
    from project_final_parquet_spark.encryption import pme

    calls = []
    exists = spark.catalog.functionExists
    monkeypatch.setattr(
        spark.catalog, "functionExists", lambda fn: calls.append(fn) or exists(fn)
    )
    monkeypatch.delitem(pme._REGISTERED, spark, raising=False)
    for _ in range(50):
        dot(F.col("a"), F.col("b"))
    assert len(calls) <= 2
    assert spark.range(1).select(
        dot(F.array(F.lit(2.0)), F.array(F.lit(3.0)))
    ).head()[0] == 6.0


def test_vec_dot_resolves_after_session_restart(tmp_path):
    """After ``spark.stop()``, a fresh ``get_spark()`` session registers
    the kernel again."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = str(_PKG.parent)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import functions as F
        from project_final_parquet_spark.operators.vecmath import dot
        from project_final_parquet_spark.session import get_spark
        for attempt in range(2):
            spark = get_spark(master="local[1]")
            spark.sparkContext.setLogLevel("ERROR")
            v = F.array(F.lit(2.0), F.lit(3.0))
            print("DOT", attempt, spark.range(1).select(dot(v, v)).head()[0])
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    for attempt in range(2):
        assert f"DOT {attempt} 13.0" in out.stdout, out.stdout + out.stderr
