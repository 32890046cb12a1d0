package sparkgraft.vec;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.Arrays;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.api.java.UDF4;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.functions;
import scala.collection.Seq;

/**
 * Vector kernels for operators/vecmath.py and operators/ml_kmeans.py: Spark
 * SQL functions {@code vec_dot(array, array)} and
 * {@code kmeans_assign(array, centroids, dim, scale)}, and the k-means
 * statistics pass {@link #kmeansStats}. They run in the executor JVM, so no
 * Python worker starts and no Arrow batch moves. The SQL functions get arrays
 * as Scala {@code Seq}s of boxed floats or doubles; widening each element to
 * double is exact. {@code kmeansStats} reads rows straight from the query's
 * internal RDD and returns one Lloyd round's statistics from one Spark job.
 */
public final class VecKernels {
  private VecKernels() {}

  /**
   * {@code vec_dot(a, b)}: the left fold {@code acc += (double) a[i] *
   * (double) b[i]} from 0.0, with no fused multiply-add, so every result is
   * bit-equal to {@code aggregate(zip_with(a, b, x * y), 0.0, acc + v)}. As
   * that fold does, it returns NULL for a NULL array, a NULL element or
   * arrays of different lengths, and 0.0 for two empty arrays.
   */
  public static final class Dot implements UDF2<Seq<Object>, Seq<Object>, Double> {
    @Override
    public Double call(Seq<Object> a, Seq<Object> b) {
      if (a == null || b == null || a.length() != b.length()) {
        return null;
      }
      double acc = 0.0;
      for (int i = 0; i < a.length(); i++) {
        Object x = a.apply(i);
        Object y = b.apply(i);
        if (x == null || y == null) {
          return null;
        }
        acc += ((Number) x).doubleValue() * ((Number) y).doubleValue();
      }
      return acc;
    }
  }

  /**
   * The 0-based position of the centroid nearest to {@code x}, where
   * {@code centroids} holds k centroids of {@code dim} doubles back to back,
   * or -1 when there is no centroid. The distance is the sum over d < dim of
   * {@code (long) floor((x[d] - c[d])^2 * scale)}, exact and order-free in
   * integers.
   *
   * <p>NULLs follow SQL, with NaN as the marker: a term whose {@code x[d]} or
   * {@code c[d]} is NaN (the callers' stand-in for a NULL or missing element
   * and for a NULL centroid dimension) drops out of the sum; a distance with
   * no term is NULL and ranks after every other. The first minimum wins, so a
   * row whose every distance is NULL goes to position 0.
   */
  static int nearest(double[] x, double[] centroids, int dim, double scale) {
    int k = dim == 0 ? 0 : centroids.length / dim;
    if (k == 0) {
      return -1;
    }
    int best = 0;
    long bestDist = Long.MAX_VALUE;
    boolean found = false;
    for (int j = 0; j < k; j++) {
      long dist = 0;
      boolean any = false;
      for (int d = 0; d < dim; d++) {
        double diff = x[d] - centroids[j * dim + d];
        if (!Double.isNaN(diff)) {
          dist += (long) Math.floor(diff * diff * scale);
          any = true;
        }
      }
      if (any && (!found || dist < bestDist)) {
        best = j;
        bestDist = dist;
        found = true;
      }
    }
    return best;
  }

  /**
   * {@code kmeans_assign(v, centroids, dim, scale)}: {@link #nearest} for the
   * row {@code v}, whose NULL or missing elements are NaN; NULL only when
   * there is no centroid.
   */
  public static final class KmeansAssign
      implements UDF4<Seq<Object>, Seq<Object>, Integer, Double, Integer> {
    @Override
    public Integer call(Seq<Object> v, Seq<Object> centroids, Integer dim, Double scale) {
      double[] x = new double[dim];
      Arrays.fill(x, Double.NaN);
      for (int d = 0; v != null && d < Math.min(v.length(), dim); d++) {
        Object e = v.apply(d);
        if (e != null) {
          x[d] = ((Number) e).doubleValue();
        }
      }
      double[] c = new double[centroids.length()];
      for (int i = 0; i < c.length; i++) {
        c[i] = ((Number) centroids.apply(i)).doubleValue();
      }
      int best = nearest(x, c, dim, scale);
      return best < 0 ? null : best;
    }
  }

  /**
   * One Lloyd round's statistics over the array column {@code column} of
   * {@code vectors}, as one Spark job with no shuffle: each row goes to its
   * {@link #nearest} centroid (distances scaled by {@code distScale}), and
   * per (centroid, dim) the terms {@code (long) floor(v[d] * sumScale)} are
   * summed. Tasks return partial sums of k x dim numbers, merged tree-wise
   * as MLlib's KMeans does.
   *
   * <p>The terms follow SQL's {@code SUM(CAST(floor(v[d] * sumScale) AS
   * DECIMAL(38,0)))} exactly: a NaN element is a term of 0, +-Inf a term of
   * {@code Long.MAX_VALUE} or {@code Long.MIN_VALUE}, and a NULL element, a
   * NULL row or a position past the row's end or past {@code dim} gives no
   * term. Sums are 128-bit and never wrap. Every row counts once in its
   * centroid's row count, whatever its elements.
   *
   * <p>Returns k + 3 k dim little-endian longs: the row count per centroid,
   * then per (centroid, dim), in centroid-major order, three longs: the
   * number of terms (0 for a NULL sum) and the high and the low (unsigned)
   * 64 bits of the sum. The task state is a {@code long[]}: a class of this
   * jar would be loaded by both the session's and the executor's class
   * loader, and the driver could not cast one to the other.
   */
  public static byte[] kmeansStats(
      Dataset<Row> vectors,
      String column,
      double[] centroids,
      int dim,
      double distScale,
      double sumScale) {
    int k = dim == 0 ? 0 : centroids.length / dim;
    long[] stats =
        vectors
            .select(functions.col(column).cast("array<double>"))
            .queryExecution()
            .toRdd()
            .toJavaRDD()
            .treeAggregate(
                new long[k + 3 * k * dim],
                (acc, row) -> addRow(acc, row, centroids, dim, distScale, sumScale),
                (a, b) -> mergeStats(a, b, k));
    ByteBuffer out = ByteBuffer.allocate(8 * stats.length).order(ByteOrder.LITTLE_ENDIAN);
    out.asLongBuffer().put(stats);
    return out.array();
  }

  private static long[] addRow(
      long[] acc,
      InternalRow row,
      double[] centroids,
      int dim,
      double distScale,
      double sumScale) {
    ArrayData v = row.isNullAt(0) ? null : row.getArray(0);
    int n = v == null ? 0 : Math.min(v.numElements(), dim);
    double[] x = new double[dim];
    Arrays.fill(x, Double.NaN);
    for (int d = 0; d < n; d++) {
      if (!v.isNullAt(d)) {
        x[d] = v.getDouble(d);
      }
    }
    int j = nearest(x, centroids, dim, distScale);
    if (j < 0) {
      return acc;
    }
    acc[j]++;
    int k = centroids.length / dim;
    for (int d = 0; d < n; d++) {
      if (!v.isNullAt(d)) {
        int cell = k + 3 * (j * dim + d);
        long term = (long) Math.floor(x[d] * sumScale);
        acc[cell]++;
        add128(acc, cell + 1, term >> 63, term);
      }
    }
    return acc;
  }

  private static long[] mergeStats(long[] a, long[] b, int k) {
    for (int i = 0; i < k; i++) {
      a[i] += b[i];
    }
    for (int cell = k; cell < a.length; cell += 3) {
      a[cell] += b[cell];
      add128(a, cell + 1, b[cell + 1], b[cell + 2]);
    }
    return a;
  }

  /**
   * Adds the signed 128-bit value {@code hi * 2^64 + lo} (lo unsigned) to
   * the one held at {@code acc[at]} (high) and {@code acc[at + 1]} (low).
   */
  private static void add128(long[] acc, int at, long hi, long lo) {
    long sum = acc[at + 1] + lo;
    acc[at] += hi + (Long.compareUnsigned(sum, lo) < 0 ? 1 : 0);
    acc[at + 1] = sum;
  }
}
