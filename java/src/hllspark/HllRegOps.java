package hllspark;

/**
 * Shared register-buffer operations for the aggregators.  Semantics are
 * byte-identical to hllspark.hashing.jr_split and the numpy estimator in
 * hllspark.hll.estimate (Flajolet et al. 2007 with linear-counting and
 * large-range corrections, mirroring the reference HyperLogLog.hpp:95-149).
 */
final class HllRegOps {
  private HllRegOps() {}

  static final double[] POW2NEG = new double[64];

  static {
    for (int r = 0; r < 64; r++) {
      POW2NEG[r] = Math.scalb(1.0, -r);
    }
  }

  static void checkP(int p) {
    if (p < 4 || p > 18) {
      throw new IllegalArgumentException("p must be in [4, 18], got " + p);
    }
  }

  static byte[] update(byte[] regs, Long hash, int p) {
    return hash == null ? regs : update(regs, hash.longValue(), p);
  }

  static byte[] update(byte[] regs, long v, int p) {
    final int j = (int) (v >>> (64 - p));
    final long w = v << p;
    final int r = (w == 0) ? (64 - p + 1) : (Long.numberOfLeadingZeros(w) + 1);
    if ((regs[j] & 0xFF) < r) {
      regs[j] = (byte) r;
    }
    return regs;
  }

  static byte[] merge(byte[] a, byte[] b) {
    if (a.length != b.length) {
      throw new IllegalArgumentException(
          "register count mismatch: " + a.length + " != " + b.length);
    }
    for (int i = 0; i < a.length; i++) {
      if ((b[i] & 0xFF) > (a[i] & 0xFF)) {
        a[i] = b[i];
      }
    }
    return a;
  }

  static double alpha(int m) {
    if (m == 16) {
      return 0.673;
    }
    if (m == 32) {
      return 0.697;
    }
    if (m == 64) {
      return 0.709;
    }
    return 0.7213 / (1.0 + 1.079 / m);
  }

  /**
   * Flajolet'07 estimate.  The harmonic sum is accumulated per-rank in
   * ascending rank order over an exact long histogram (count * 2^-r is an
   * exact double for count &lt; 2^53), the same contraction the numpy twin
   * (hll.estimate: bincount then dot) performs.
   */
  static double estimate(byte[] regs) {
    final long[] counts = new long[64];
    for (byte b : regs) {
      counts[b & 0xFF]++;
    }
    double z = 0.0;
    for (int r = 0; r < 64; r++) {
      if (counts[r] != 0) {
        z += counts[r] * POW2NEG[r];
      }
    }
    final int m = regs.length;
    final double e = alpha(m) * (double) m * (double) m / z;
    final long v = counts[0];
    if (e <= 2.5 * m && v != 0) {
      return m * Math.log((double) m / v);
    }
    final double two32 = 4294967296.0;
    if (e > (double) ((1L << 32) / 30)) {
      return -two32 * Math.log(1.0 - e / two32);
    }
    return e;
  }
}
