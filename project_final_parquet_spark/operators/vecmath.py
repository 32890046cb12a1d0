"""JVM vector kernels: pair cosine for the similarity/mining family and
the k-means assignment (``ml_kmeans``).

The similarity/mining family scores candidate pairs with the shared
left-fold cosine:

    cosine = aggregate(zip_with(ea, eb, (x, y) -> double(x) * double(y)),
                       0.0, (acc, v) -> acc + v) / (na * nb)

Catalyst evaluates higher-order-function lambdas interpreted, one
boxed element at a time, and ``zip_with`` allocates a fresh 64-element
array per pair. ``with_pair_cosine`` computes the dot with ``vec_dot``
instead, a Java UDF (``encryption/jvm/VecKernels.java``) in the jar
``pme.ensure_pme_jar`` builds. The UDF runs in the executor JVM: no
Python worker, no Arrow batches, nothing that has to pickle by value.
Per pair it performs the IDENTICAL IEEE-754 sequence as the Catalyst
fold (float32→float64 casts are exact; each multiply and each add is
one correctly-rounded binary64 op in the same order, with no fused
multiply-add), so every cosine is bit-for-bit the value the HOF
produced and the DuckDB oracles are untouched — ``tests/test_vecmath.py``
asserts exact equality against ``hof_dot``.

Measured on pair cosine over 64-dim float embeddings at ``local[4]``,
process-tree CPU-s for 124,750 pairs: 0.95 for the HOF fold, 0.96 for
the ``mapInArrow`` NumPy kernel this replaced, 0.32 for the Java UDF;
at 1,999,000 pairs 9.63, 7.94 and 2.53.

Scale note (100 TB): the kernel is linear in candidate pairs — the
same asymptotics as the HOF projection. Candidate-pair volume stays
bounded by the LSH/blocking design; this changes per-pair cost only.
The UDF carries no cross-row state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from ..encryption import pme

VEC_DOT, KMEANS_ASSIGN = "vec_dot", "kmeans_assign"
_KERNEL_FUNCTIONS = {
    VEC_DOT: ("sparkgraft.vec.VecKernels$Dot", DoubleType()),
    KMEANS_ASSIGN: ("sparkgraft.vec.VecKernels$KmeansAssign", IntegerType()),
}


def register_kernels(spark: SparkSession) -> None:
    """Make ``vec_dot`` and ``kmeans_assign`` callable in ``spark``."""
    pme.register_java_functions(spark, _KERNEL_FUNCTIONS)


def with_pair_cosine(
    df: DataFrame,
    keep: list[str],
    ea: str = "ea",
    na: str = "na",
    eb: str = "eb",
    nb: str = "nb",
    out: str = "cosine",
) -> DataFrame:
    """``df.select(*keep, out)`` where ``out`` is the left-fold cosine
    dot(ea, eb)/(na·nb), with the dot from ``vec_dot``.

    ``df`` must carry ``ea``/``eb`` (array<float>) and the pre-hoisted
    per-row norms ``na``/``nb`` (norms are computed once per ROW,
    before the join).

    Degenerate inputs: a NULL embedding, a NULL element, embeddings of
    different lengths, a NULL norm or a ZERO norm product yield a NULL
    cosine — the HOF fold's null propagation. The zero guard is needed
    because Spark runs with ANSI on, where a bare divide by zero raises;
    a NULL score drops out of every cosine >= tau filter and desc sort.
    A NaN/inf norm (from non-finite embedding values) is a nonzero
    divisor and flows through as IEEE division, as in the HOF fold.
    """
    register_kernels(df.sparkSession)
    denom = F.col(na) * F.col(nb)
    cosine = F.when(
        denom != 0, F.call_function(VEC_DOT, F.col(ea), F.col(eb)) / denom
    )
    return df.select(*keep, cosine.alias(out))


def hof_dot(a, b):
    """The Catalyst left-fold dot ``vec_dot`` reproduces (kept as the
    reference for the equivalence tests)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
