"""JVM vector kernels: the one embedding dot product (``dot``/``norm``,
used by every similarity, retrieval and mining operator), pair cosine
(``with_pair_cosine``), and for ``ml_kmeans`` the assignment SQL
function and the per-round statistics (``kmeans_stats``).

Every double-precision embedding dot is the left fold

    dot(a, b) = aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
                          0.0, (acc, v) -> acc + v)

and ``norm(a) = sqrt(dot(a, a))``. Catalyst evaluates that
higher-order-function (HOF) fold interpreted, one boxed element at a
time, and ``zip_with`` allocates a fresh array per row. ``dot`` calls
``vec_dot`` instead, a Java UDF (``encryption/jvm/VecKernels.java``) in
the jar ``pme.ensure_pme_jar`` builds. The UDF runs in the executor
JVM: no Python worker, no Arrow batches, nothing that has to pickle by
value. It performs the IDENTICAL IEEE-754 sequence as the fold
(float32→float64 casts are exact; each multiply and each add is one
correctly-rounded binary64 op in the same order, with no fused
multiply-add), and returns NULL for a NULL array, a NULL element or
arrays of different lengths, as the fold does. So every score is
bit-for-bit the value the HOF produced and the DuckDB oracles are
untouched — ``tests/test_vecmath.py`` asserts exact equality against
``hof_dot``, the fold kept as the test reference.

Measured on pair cosine over 64-dim float embeddings at ``local[4]``,
process-tree CPU-s for 124,750 pairs: 0.95 for the HOF fold, 0.96 for
a ``mapInArrow`` NumPy kernel, 0.32 for the Java UDF; at 1,999,000
pairs 9.63, 7.94 and 2.53.

Scale note (100 TB): the kernel is linear in the elements it folds —
the same asymptotics as the HOF. Candidate-pair volume stays bounded
by the LSH/blocking design; this changes per-element cost only. The
UDF carries no cross-row state.

``kmeans_stats`` is not a SQL function but a static Java method called
from the driver: one Lloyd round as one ``treeAggregate`` job over the
query's rows, whose tasks return k×dim partial sums (a ``long[]``), and
whose result comes back as one byte string. ``tests/test_ml_kmeans.py``
asserts it equal, bit for bit, to the posexplode aggregation it
replaced.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
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


def dot(a, b):
    """The left-fold dot product of two numeric arrays, as a double
    (NULL for a NULL array, a NULL element or a length mismatch)."""
    register_kernels(SparkSession.active())
    return F.call_function(VEC_DOT, a, b)


def double_array(spark: SparkSession, a):
    """A Java ``double[]`` holding the 1-d float64 array ``a``, bit for
    bit (NaN and -0.0 included), built in one py4j transfer: pyspark's
    numpy converter sets the Java array one element per gateway call.
    Classes are resolved by fully-qualified name: ``jvm.java.nio.ByteBuffer``
    costs a failing class lookup per segment."""
    sc = spark.sparkContext
    jvm = sc._jvm
    data = np.asarray(a, dtype="<f8")
    jarr = sc._gateway.new_array(getattr(jvm, "double"), len(data))
    buf = getattr(jvm, "java.nio.ByteBuffer").wrap(bytearray(data.tobytes()))
    order = getattr(jvm, "java.nio.ByteOrder").LITTLE_ENDIAN
    buf.order(order).asDoubleBuffer().get(jarr)
    return jarr


def double_array_lit(a) -> Column:
    """``F.lit`` of a 1-d float64 array (a plane, a projection row, the
    k-means centroids), from ``double_array``: ``F.array`` of scalar
    literals makes one gateway call per element."""
    return F.lit(double_array(SparkSession.active(), a))


def kmeans_stats(
    df: DataFrame,
    column: str,
    centroids: np.ndarray,
    dist_scale: float,
    sum_scale: float,
) -> tuple[list[int], list[list[int | None]]]:
    """One Lloyd round over the array column ``column`` of ``df`` in ONE
    Spark job, through the ``kmeansStats`` JVM kernel: each row goes to
    its nearest of the ``centroids`` (a k×dim float64 array, NaN for a
    NULL dimension) by ``kmeans_assign``'s arithmetic. Returns the row
    count per centroid position and, per (position, dim), the exact sum
    of ``floor(v[d] * sum_scale)`` over the position's rows, NULL where
    no row has a term (the SQL ``SUM``). The kernel's 128-bit sums come
    back in one py4j transfer as a byte string."""
    spark = df.sparkSession
    k, dim = centroids.shape
    raw = pme.call_static(
        spark,
        "sparkgraft.vec.VecKernels",
        "kmeansStats",
        df._jdf,
        column,
        double_array(spark, centroids.reshape(-1)),
        dim,
        float(dist_scale),
        float(sum_scale),
    )
    stats = np.frombuffer(raw, "<i8")
    cells = stats[k:].reshape(k, dim, 3).tolist()
    sums = [
        [(hi << 64) + (lo & 0xFFFF_FFFF_FFFF_FFFF) if n else None for n, hi, lo in row]
        for row in cells
    ]
    return stats[:k].tolist(), sums


def norm(a):
    """The L2 norm ``sqrt(dot(a, a))``."""
    return F.sqrt(dot(a, a))


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
    denom = F.col(na) * F.col(nb)
    cosine = F.when(denom != 0, dot(F.col(ea), F.col(eb)) / denom)
    return df.select(*keep, cosine.alias(out))


def hof_dot(a, b):
    """The Catalyst left-fold dot ``vec_dot`` reproduces (kept as the
    reference for the equivalence tests)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
