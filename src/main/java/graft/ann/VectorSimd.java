package graft.ann;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD distance kernels over the packed row-major float layout
 * (jdk.incubator.vector, Java 17 incubator module). These are the
 * opt-in SERVING kernels: accumulation is f32 in vector lanes, so sums
 * are NOT bit-identical to the f64 scalar kernels the oracle-gated
 * paths use (Ivf.flatScoreKernel) — the serving contract is recall
 * against the exact result, not score identity, which is also the
 * contract the reference's SIMD engine offers (reference
 * src/simd_basic.rs, simd_advanced.rs: f32 lane accumulation with a
 * horizontal reduce at the end — same numerics as here).
 *
 * Availability is runtime-probed (graft.ann.Simd): the incubator module
 * must be on the JVM's --add-modules. When absent, class resolution
 * fails and callers fall back to the scalar kernels — per-JVM, so a
 * mixed cluster degrades gracefully.
 *
 * All public signatures are primitives-only on purpose: with
 * CompileOrder.JavaThenScala, scalac reads this as a classfile and
 * never needs to resolve the incubator types.
 */
public final class VectorSimd {
  private static final VectorSpecies<Float> SF = FloatVector.SPECIES_PREFERRED;

  private VectorSimd() {}

  /** Availability probe: exercises the vector pipeline end to end. */
  public static float probe() {
    float[] a = {1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f};
    float[] b = {8f, 7f, 6f, 5f, 4f, 3f, 2f, 1f};
    return dot(a, 0, 8, b); // 8+14+18+20+20+18+14+8 = 120
  }

  /** f32 dot product; two FMA accumulator chains to cover FMA latency. */
  public static float dot(float[] vs, int off, int dims, float[] q) {
    int i = 0;
    int step = SF.length();
    FloatVector a0 = FloatVector.zero(SF), a1 = FloatVector.zero(SF);
    for (; i <= dims - 2 * step; i += 2 * step) {
      a0 = FloatVector.fromArray(SF, vs, off + i)
          .fma(FloatVector.fromArray(SF, q, i), a0);
      a1 = FloatVector.fromArray(SF, vs, off + i + step)
          .fma(FloatVector.fromArray(SF, q, i + step), a1);
    }
    for (; i <= dims - step; i += step)
      a0 = FloatVector.fromArray(SF, vs, off + i)
          .fma(FloatVector.fromArray(SF, q, i), a0);
    float s = a0.add(a1).reduceLanes(VectorOperators.ADD);
    for (; i < dims; i++) s += vs[off + i] * q[i];
    return s;
  }

  /** Query-blocked f32 dot products: one row vector against m queries,
   * blocked 4 at a time so each row chunk is LOADED once per 4 queries
   * (the per-pair kernel re-loads it per query) and the 4 independent
   * accumulator chains cover FMA latency across queries. Each query's
   * sum has ONE accumulator chain, so per-query results are NOT
   * bit-identical to {@link #dot} (which uses 2 chains) — both are f32
   * serving numerics under the same recall contract. Results land in
   * {@code out[0..m)} (caller-reused, allocation-free).
   */
  public static void dotBlock(float[] vs, int off, int dims,
                              float[][] qs, int m, float[] out) {
    int j = 0;
    int step = SF.length();
    for (; j + 4 <= m; j += 4) {
      float[] q0 = qs[j], q1 = qs[j + 1], q2 = qs[j + 2], q3 = qs[j + 3];
      FloatVector a0 = FloatVector.zero(SF), a1 = FloatVector.zero(SF),
          a2 = FloatVector.zero(SF), a3 = FloatVector.zero(SF);
      int i = 0;
      for (; i <= dims - step; i += step) {
        FloatVector v = FloatVector.fromArray(SF, vs, off + i);
        a0 = v.fma(FloatVector.fromArray(SF, q0, i), a0);
        a1 = v.fma(FloatVector.fromArray(SF, q1, i), a1);
        a2 = v.fma(FloatVector.fromArray(SF, q2, i), a2);
        a3 = v.fma(FloatVector.fromArray(SF, q3, i), a3);
      }
      float s0 = a0.reduceLanes(VectorOperators.ADD);
      float s1 = a1.reduceLanes(VectorOperators.ADD);
      float s2 = a2.reduceLanes(VectorOperators.ADD);
      float s3 = a3.reduceLanes(VectorOperators.ADD);
      for (; i < dims; i++) {
        float v = vs[off + i];
        s0 += v * q0[i];
        s1 += v * q1[i];
        s2 += v * q2[i];
        s3 += v * q3[i];
      }
      out[j] = s0;
      out[j + 1] = s1;
      out[j + 2] = s2;
      out[j + 3] = s3;
    }
    for (; j < m; j++) out[j] = dot(vs, off, dims, qs[j]);
  }

  /** Query-blocked f32 squared euclidean — same blocking contract as
   * {@link #dotBlock}. */
  public static void sqEuclideanBlock(float[] vs, int off, int dims,
                                      float[][] qs, int m, float[] out) {
    int j = 0;
    int step = SF.length();
    for (; j + 4 <= m; j += 4) {
      float[] q0 = qs[j], q1 = qs[j + 1], q2 = qs[j + 2], q3 = qs[j + 3];
      FloatVector a0 = FloatVector.zero(SF), a1 = FloatVector.zero(SF),
          a2 = FloatVector.zero(SF), a3 = FloatVector.zero(SF);
      int i = 0;
      for (; i <= dims - step; i += step) {
        FloatVector v = FloatVector.fromArray(SF, vs, off + i);
        FloatVector d0 = v.sub(FloatVector.fromArray(SF, q0, i));
        FloatVector d1 = v.sub(FloatVector.fromArray(SF, q1, i));
        FloatVector d2 = v.sub(FloatVector.fromArray(SF, q2, i));
        FloatVector d3 = v.sub(FloatVector.fromArray(SF, q3, i));
        a0 = d0.fma(d0, a0);
        a1 = d1.fma(d1, a1);
        a2 = d2.fma(d2, a2);
        a3 = d3.fma(d3, a3);
      }
      float s0 = a0.reduceLanes(VectorOperators.ADD);
      float s1 = a1.reduceLanes(VectorOperators.ADD);
      float s2 = a2.reduceLanes(VectorOperators.ADD);
      float s3 = a3.reduceLanes(VectorOperators.ADD);
      for (; i < dims; i++) {
        float v = vs[off + i];
        float d0 = v - q0[i], d1 = v - q1[i], d2 = v - q2[i], d3 = v - q3[i];
        s0 += d0 * d0;
        s1 += d1 * d1;
        s2 += d2 * d2;
        s3 += d3 * d3;
      }
      out[j] = s0;
      out[j + 1] = s1;
      out[j + 2] = s2;
      out[j + 3] = s3;
    }
    for (; j < m; j++) out[j] = sqEuclidean(vs, off, dims, qs[j]);
  }

  /** f32 squared euclidean distance. */
  public static float sqEuclidean(float[] vs, int off, int dims, float[] q) {
    int i = 0;
    int step = SF.length();
    FloatVector a0 = FloatVector.zero(SF), a1 = FloatVector.zero(SF);
    for (; i <= dims - 2 * step; i += 2 * step) {
      FloatVector d0 = FloatVector.fromArray(SF, vs, off + i)
          .sub(FloatVector.fromArray(SF, q, i));
      FloatVector d1 = FloatVector.fromArray(SF, vs, off + i + step)
          .sub(FloatVector.fromArray(SF, q, i + step));
      a0 = d0.fma(d0, a0);
      a1 = d1.fma(d1, a1);
    }
    for (; i <= dims - step; i += step) {
      FloatVector d = FloatVector.fromArray(SF, vs, off + i)
          .sub(FloatVector.fromArray(SF, q, i));
      a0 = d.fma(d, a0);
    }
    float s = a0.add(a1).reduceLanes(VectorOperators.ADD);
    for (; i < dims; i++) {
      float d = vs[off + i] - q[i];
      s += d * d;
    }
    return s;
  }

  /** f32 L1 distance. */
  public static float manhattan(float[] vs, int off, int dims, float[] q) {
    int i = 0;
    int step = SF.length();
    FloatVector a0 = FloatVector.zero(SF), a1 = FloatVector.zero(SF);
    for (; i <= dims - 2 * step; i += 2 * step) {
      a0 = a0.add(FloatVector.fromArray(SF, vs, off + i)
          .sub(FloatVector.fromArray(SF, q, i)).abs());
      a1 = a1.add(FloatVector.fromArray(SF, vs, off + i + step)
          .sub(FloatVector.fromArray(SF, q, i + step)).abs());
    }
    for (; i <= dims - step; i += step)
      a0 = a0.add(FloatVector.fromArray(SF, vs, off + i)
          .sub(FloatVector.fromArray(SF, q, i)).abs());
    float s = a0.add(a1).reduceLanes(VectorOperators.ADD);
    for (; i < dims; i++) s += Math.abs(vs[off + i] - q[i]);
    return s;
  }

  /** f32 L∞ distance — max is order-insensitive, so this matches the
   * scalar kernel except for the 1-ulp (f32 sub vs f64 sub) difference. */
  public static float chebyshev(float[] vs, int off, int dims, float[] q) {
    int i = 0;
    int step = SF.length();
    FloatVector m = FloatVector.zero(SF);
    for (; i <= dims - step; i += step)
      m = m.max(FloatVector.fromArray(SF, vs, off + i)
          .sub(FloatVector.fromArray(SF, q, i)).abs());
    float s = m.reduceLanes(VectorOperators.MAX);
    for (; i < dims; i++) {
      float d = Math.abs(vs[off + i] - q[i]);
      if (d > s) s = d;
    }
    return s;
  }

  /** Count of positions whose zero-ness differs (the dist_hamming
   * semantics) — integer semantics, identical to scalar. */
  public static int hamming(float[] vs, int off, int dims, float[] q) {
    int i = 0;
    int step = SF.length();
    int c = 0;
    for (; i <= dims - step; i += step)
      c += step - FloatVector.fromArray(SF, vs, off + i)
          .compare(VectorOperators.NE, 0f)
          .eq(FloatVector.fromArray(SF, q, i).compare(VectorOperators.NE, 0f))
          .trueCount();
    for (; i < dims; i++) if ((vs[off + i] != 0f) != (q[i] != 0f)) c++;
    return c;
  }
}
