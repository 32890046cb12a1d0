package sparkgraft.vec;

import java.util.Arrays;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.api.java.UDF4;
import scala.collection.Seq;

/**
 * Vector kernels for operators/vecmath.py and operators/ml_kmeans.py: Spark
 * SQL functions {@code vec_dot(array, array)} and
 * {@code kmeans_assign(array, centroids, dim, scale)}. They run in the
 * executor JVM, so no Python worker starts and no Arrow batch moves. Arrays
 * arrive as Scala {@code Seq}s of boxed floats or doubles; widening each
 * element to double is exact.
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
   * {@code kmeans_assign(v, centroids, dim, scale)}: the 0-based position of
   * the centroid nearest to {@code v}, where {@code centroids} holds k
   * centroids of {@code dim} doubles back to back. The distance is the sum
   * over d < dim of {@code (long) floor((v[d] - c[d])^2 * scale)}, exact and
   * order-free in integers.
   *
   * <p>NULLs follow SQL: a term whose {@code v[d]} is NULL or missing, or
   * whose {@code c[d]} is NaN (the driver's stand-in for a NULL centroid
   * dimension), drops out of the sum; a distance with no term is NULL and
   * ranks after every other. The first minimum wins, so a row whose every
   * distance is NULL goes to position 0. NULL only when there is no
   * centroid.
   */
  public static final class KmeansAssign
      implements UDF4<Seq<Object>, Seq<Object>, Integer, Double, Integer> {
    @Override
    public Integer call(Seq<Object> v, Seq<Object> centroids, Integer dim, Double scale) {
      int k = dim == 0 ? 0 : centroids.length() / dim;
      if (k == 0) {
        return null;
      }
      double[] x = new double[dim];
      Arrays.fill(x, Double.NaN);
      for (int d = 0; v != null && d < Math.min(v.length(), dim); d++) {
        Object e = v.apply(d);
        if (e != null) {
          x[d] = ((Number) e).doubleValue();
        }
      }
      int best = 0;
      long bestDist = Long.MAX_VALUE;
      boolean found = false;
      for (int j = 0; j < k; j++) {
        long dist = 0;
        boolean any = false;
        for (int d = 0; d < dim; d++) {
          double diff = x[d] - ((Number) centroids.apply(j * dim + d)).doubleValue();
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
  }
}
