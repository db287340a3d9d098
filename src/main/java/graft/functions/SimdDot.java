package graft.functions;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorMask;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD dot product for the block scorers' PREFILTER pass
 * (BlockKnn.BlockVec.fastDot) via the JDK Vector API.
 *
 * The scalar prefilter is load-throughput-bound: 2·d scalar loads per
 * pair at 2 loads/cycle puts a hard ~d-cycle floor under any scalar
 * kernel (measured 22.6 ns/pair at d=64 — PLANS_r18), which SIMD
 * loads break by moving 8 lanes per instruction (AVX-512 on this class
 * of box; SPECIES_PREFERRED degrades gracefully to 4- or 2-lane).
 *
 * NOT bit-identical to the exact left-to-right dot — lane accumulation
 * reassociates and fma() fuses — so callers may use it only on the
 * sound-skip side of a margin: every accumulation order (including
 * fused) is within (n+2)·u·SUM|a_i·b_i| <= (n+2)·u·|a||b| of the true
 * product, so |simd - exact| <= 2(n+2)·u·|a||b|, far inside
 * BlockVec.SkipMargin's 1e-5 slack (the same bound the scalar fastDot
 * relies on; see BlockKnn.scala).
 *
 * Kept deliberately free of vector-typed fields/signatures: Scala code
 * sees only (double[], double[], int) -> double, and the incubator
 * module stays an implementation detail guarded by BlockVec's runtime
 * availability probe (a JVM launched without
 * --add-modules=jdk.incubator.vector falls back to the scalar kernel).
 */
public final class SimdDot {
  private SimdDot() {}

  /**
   * Screen rows [from, to) of block B against one a-row: writes the
   * index of every b-row whose SIMD dot with {@code a} clears
   * {@code cutNa * nrms[i]} into {@code hits}, returns the hit count.
   * The caller re-scores hits with the exact serial kernel (two-phase
   * discipline — see BlockKnn.scala's margin proof; this kernel's
   * reassociation error is covered by the same bound).
   *
   * 4-row register blocking: one a-vector load is shared by four b-row
   * FMAs, cutting loads per pair from 2·d to 1.25·d — the resource the
   * scalar and single-row SIMD kernels are both bound on — while four
   * independent accumulator chains hide FMA latency. Rows with a
   * dimension shorter than {@code a} (ragged corpora) fall to the
   * per-row kernel; uniform-dimension blocks (every real fixture) stay
   * on the blocked path.
   */
  public static int screen(double[] a, double[][] vbs, double[] nrms,
                           int from, int to, double cutNa, int[] hits) {
    VectorSpecies<Double> s = DoubleVector.SPECIES_PREFERRED;
    int len = s.length();
    int d = a.length;
    int upper = s.loopBound(d);
    int m = 0;
    int i = from;
    for (; i + 3 < to; i += 4) {
      double[] b0 = vbs[i], b1 = vbs[i + 1], b2 = vbs[i + 2],
          b3 = vbs[i + 3];
      if (b0.length < d || b1.length < d || b2.length < d
          || b3.length < d) {
        // ragged rows: per-row fallback keeps n = min(|a|, |b|) exact
        for (int r = i; r < i + 4; r++) {
          double sc = dot(a, vbs[r], Math.min(d, vbs[r].length));
          if (sc >= cutNa * nrms[r]) hits[m++] = r;
        }
        continue;
      }
      DoubleVector a0 = DoubleVector.zero(s), a1 = DoubleVector.zero(s),
          a2 = DoubleVector.zero(s), a3 = DoubleVector.zero(s);
      int j = 0;
      for (; j < upper; j += len) {
        DoubleVector av = DoubleVector.fromArray(s, a, j);
        a0 = DoubleVector.fromArray(s, b0, j).fma(av, a0);
        a1 = DoubleVector.fromArray(s, b1, j).fma(av, a1);
        a2 = DoubleVector.fromArray(s, b2, j).fma(av, a2);
        a3 = DoubleVector.fromArray(s, b3, j).fma(av, a3);
      }
      double d0 = a0.reduceLanes(VectorOperators.ADD);
      double d1 = a1.reduceLanes(VectorOperators.ADD);
      double d2 = a2.reduceLanes(VectorOperators.ADD);
      double d3 = a3.reduceLanes(VectorOperators.ADD);
      for (; j < d; j++) {
        double av = a[j];
        d0 += av * b0[j]; d1 += av * b1[j];
        d2 += av * b2[j]; d3 += av * b3[j];
      }
      if (d0 >= cutNa * nrms[i]) hits[m++] = i;
      if (d1 >= cutNa * nrms[i + 1]) hits[m++] = i + 1;
      if (d2 >= cutNa * nrms[i + 2]) hits[m++] = i + 2;
      if (d3 >= cutNa * nrms[i + 3]) hits[m++] = i + 3;
    }
    for (; i < to; i++) {
      double sc = dot(a, vbs[i], Math.min(d, vbs[i].length));
      if (sc >= cutNa * nrms[i]) hits[m++] = i;
    }
    return m;
  }

  /** Fixed row count per packed panel — a LAYOUT constant, independent
   * of the running JVM's vector width (the packer and the screener must
   * agree even if they end up in JVMs with different
   * SPECIES_PREFERRED). 16 = one 512-bit float vector; 8- and 4-lane
   * species sub-iterate a panel. */
  public static final int PANEL = 16;

  private static final VectorSpecies<Float> FS =
      FloatVector.SPECIES_PREFERRED;

  /**
   * Panel screen: rows [from, to) of a corpus packed COLUMN-INTERLEAVED
   * in float panels — {@code panel[g*PANEL*d + j*PANEL + r]} holds
   * dimension {@code j} of corpus row {@code g*PANEL + r} — against one
   * a-row given as floats. Writes indices whose float dot clears
   * {@code nextDown((float) cutNa) * nrms[i]} into {@code hits},
   * returns the count.
   *
   * Why this layout beats the row-major 4-row screen: accumulation runs
   * ACROSS ROWS (one vector = the same dimension of PANEL rows), so the
   * kernel is pure fma(broadcast(a[j]), column, acc) with NO horizontal
   * reduce per pair, no per-row array pointer chase, and a single
   * vector compare retiring PANEL rows — measured 13.8 ns/pair·core for
   * the row-major double screen vs ~2 ns/pair·core here. Float halves
   * the memory traffic and doubles the lanes on top.
   *
   * Soundness (callers skip only below the cut): relative to the exact
   * double dot, the float path adds ≤ ~5e-6·|a|·|b| of error — input
   * conversion 2·2⁻²⁴, accumulation ≤ (d+2)·2⁻²⁴ (d ≤ 4096), cut and
   * nrm conversion/multiply ~3·2⁻²⁴ — and nextDown on the cut covers
   * its conversion rounding. That is inside the 1e-5 kernel-error
   * allowance of BlockVec.SkipMargin (whose other 5e-5 covers the
   * HALF_UP round), so a pair skipped here provably cannot round to ≥
   * the caller's threshold; extra admits are re-verified exactly.
   *
   * Padded lanes (corpus size not a multiple of PANEL, or a screen
   * range starting/ending mid-panel) may raise spurious mask bits; the
   * emit loop drops indices outside [from, to), so callers must size
   * {@code hits} for (to - from) + 2·PANEL.
   */
  public static int screenPanel(float[] a, float[] panel, float[] nrms,
                                int d, int from, int to, double cutNa,
                                int[] hits) {
    if (from >= to) return 0;
    float cut = Math.nextDown((float) cutNa);
    int L = FS.length();
    int m = 0;
    int g0 = from / PANEL;
    int g1 = (to - 1) / PANEL;
    int g = g0;
    float[] tmp = new float[PANEL];
    if (L == PANEL) {
      // AVX-512: one vector per panel; unroll 4 panels so four
      // independent accumulator chains share each a[j] broadcast
      for (; g + 3 <= g1; g += 4) {
        int b0 = g * PANEL * d, b1 = b0 + PANEL * d,
            b2 = b1 + PANEL * d, b3 = b2 + PANEL * d;
        FloatVector a0 = FloatVector.zero(FS), a1 = FloatVector.zero(FS),
            a2 = FloatVector.zero(FS), a3 = FloatVector.zero(FS);
        for (int j = 0; j < d; j++) {
          FloatVector av = FloatVector.broadcast(FS, a[j]);
          int o = j * PANEL;
          a0 = FloatVector.fromArray(FS, panel, b0 + o).fma(av, a0);
          a1 = FloatVector.fromArray(FS, panel, b1 + o).fma(av, a1);
          a2 = FloatVector.fromArray(FS, panel, b2 + o).fma(av, a2);
          a3 = FloatVector.fromArray(FS, panel, b3 + o).fma(av, a3);
        }
        m = emitPanel(a0, nrms, cut, g, from, to, hits, m, tmp);
        m = emitPanel(a1, nrms, cut, g + 1, from, to, hits, m, tmp);
        m = emitPanel(a2, nrms, cut, g + 2, from, to, hits, m, tmp);
        m = emitPanel(a3, nrms, cut, g + 3, from, to, hits, m, tmp);
      }
    }
    for (; g <= g1; g++) {
      int base = g * PANEL * d;
      for (int sub = 0; sub < PANEL; sub += L) {
        FloatVector acc = FloatVector.zero(FS);
        for (int j = 0; j < d; j++)
          acc = FloatVector.fromArray(FS, panel, base + j * PANEL + sub)
              .fma(FloatVector.broadcast(FS, a[j]), acc);
        FloatVector nv = FloatVector.fromArray(FS, nrms, g * PANEL + sub);
        VectorMask<Float> mk =
            acc.compare(VectorOperators.GE, nv.mul(cut));
        long bits = mk.toLong();
        while (bits != 0) {
          int idx = g * PANEL + sub + Long.numberOfTrailingZeros(bits);
          if (idx >= from && idx < to) hits[m++] = idx;
          bits &= bits - 1;
        }
      }
    }
    return m;
  }

  /**
   * Hit extraction for one panel. The mask API's extraction
   * (VectorMask.toLong) is NOT intrinsified on this JDK — it loops the
   * lanes in Java, and paid once per PANEL pairs it was ~half the whole
   * screen (profiled at the 100× tier). Instead: one intrinsified
   * horizontal max over (dot − cut·nrm) skips hit-free panels — the
   * overwhelmingly common case once per-row cutoffs tighten — and only
   * panels with a live hit pay a vector store + scalar lane walk.
   * Soundness of the skip: float subtraction is exactly rounded, so
   * dot ≥ cut·nrm implies fl(dot − cut·nrm) ≥ 0 — a panel is skipped
   * only when EVERY lane is strictly below its cut.
   */
  private static int emitPanel(FloatVector acc, float[] nrms, float cut,
                               int g, int from, int to, int[] hits,
                               int m, float[] tmp) {
    FloatVector nv = FloatVector.fromArray(FS, nrms, g * PANEL);
    FloatVector diff = acc.sub(nv.mul(cut));
    if (diff.reduceLanes(VectorOperators.MAX) < 0f) return m;
    diff.intoArray(tmp, 0);
    for (int r = 0; r < PANEL; r++) {
      int idx = g * PANEL + r;
      if (tmp[r] >= 0f && idx >= from && idx < to) hits[m++] = idx;
    }
    return m;
  }

  public static double dot(double[] a, double[] b, int n) {
    VectorSpecies<Double> s = DoubleVector.SPECIES_PREFERRED;
    int len = s.length();
    DoubleVector acc0 = DoubleVector.zero(s);
    DoubleVector acc1 = DoubleVector.zero(s);
    int i = 0;
    int step = len * 2;
    // two independent accumulators hide FMA latency; loopBound handles
    // the single-vector tail, the scalar loop the final remainder
    int upper2 = n - (n % step);
    for (; i < upper2; i += step) {
      acc0 = DoubleVector.fromArray(s, a, i)
          .fma(DoubleVector.fromArray(s, b, i), acc0);
      acc1 = DoubleVector.fromArray(s, a, i + len)
          .fma(DoubleVector.fromArray(s, b, i + len), acc1);
    }
    int upper = s.loopBound(n);
    for (; i < upper; i += len) {
      acc0 = DoubleVector.fromArray(s, a, i)
          .fma(DoubleVector.fromArray(s, b, i), acc0);
    }
    double r = acc0.add(acc1).reduceLanes(VectorOperators.ADD);
    for (; i < n; i++) r += a[i] * b[i];
    return r;
  }
}
