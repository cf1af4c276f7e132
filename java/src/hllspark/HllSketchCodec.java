package hllspark;

import com.github.luben.zstd.Zstd;
import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

/**
 * The HLSK sketch wire format of hllspark.sketch, in the JVM.
 *
 * <p>{@link #encode} is byte-identical to sketch.encode_hll / encode_hlll:
 * the same dense/sparse choice, the same smallest-base tie-break as
 * hlll.choose_base, MSB-first bit packing with the last byte zero-padded,
 * and little-endian length fields.  {@link #decodeMax} reads every format
 * sketch.decode reads (v1/v2 headers, dense and sparse HLL, HLLL, zstd) and
 * folds the registers into a buffer with a register-wise max.  Encoding to
 * zstd stays in Python: zstd-jni's frame bytes are not guaranteed to equal
 * pyarrow's, and the format promises byte identity across plans.
 *
 * <p>m = 2^p is a multiple of 8 (p &gt;= 4), and 8 HLLL offsets of mBits
 * bits fill exactly mBits bytes, so the kernels walk registers 8 at a time:
 * an all-zero 8-register word is skipped where it cannot change the output,
 * and each group of offsets packs into (or unpacks from) its own whole
 * bytes, with one routine for every mBits in [0, 32].
 */
final class HllSketchCodec {
  private HllSketchCodec() {}

  static final int ALGO_HLL = 1;
  static final int ALGO_HLLL = 2;
  static final int ALGO_ZSTD = 3;

  private static final int VERSION = 2;
  private static final int HEADER = 8; // "HLSK", version, algo, p, extra
  private static final int HLL_SPARSE = 1; // header extra flag of sparse HLL
  private static final int S_BITS = 6; // exception / sparse value width
  private static final VarHandle WORDS =
      MethodHandles.byteArrayViewVarHandle(long[].class, ByteOrder.LITTLE_ENDIAN);

  /** Target format id of an encodable algo name ('hll' or 'hlll'). */
  static int algoId(String algo) {
    if ("hll".equals(algo)) {
      return ALGO_HLL;
    }
    if ("hlll".equals(algo)) {
      return ALGO_HLLL;
    }
    throw new IllegalArgumentException("JVM sketch encode supports hll and hlll, got " + algo);
  }

  static void checkMBits(int mBits) {
    if (mBits < 0 || mBits > 32) {
      throw new IllegalArgumentException("mBits must be in [0, 32], got " + mBits);
    }
  }

  static byte[] encode(byte[] regs, int algo, int mBits) {
    final int p = Integer.numberOfTrailingZeros(regs.length);
    HllRegOps.checkP(p);
    if (regs.length != 1 << p) {
      throw new IllegalArgumentException("register count " + regs.length + " is not 2^p");
    }
    return algo == ALGO_HLLL ? encodeHlll(regs, p, mBits) : encodeHll(regs, p);
  }

  /** Registers j..j+7 as one word; zero iff all eight are zero. */
  private static long word(byte[] regs, int j) {
    return (long) WORDS.get(regs, j);
  }

  private static byte[] encodeHll(byte[] regs, int p) {
    int nnz = 0;
    for (int j = 0; j < regs.length; j += 8) {
      if (word(regs, j) != 0) {
        for (int k = j; k < j + 8; k++) {
          nnz += regs[k] != 0 ? 1 : 0;
        }
      }
    }
    final int width = p + S_BITS;
    final long sparseBytes = 4 + ((long) nnz * width + 7) / 8;
    if (sparseBytes >= regs.length) {
      final byte[] out = header(HEADER + regs.length, ALGO_HLL, p, 0);
      System.arraycopy(regs, 0, out, HEADER, regs.length);
      return out;
    }
    final byte[] out = header(HEADER + (int) sparseBytes, ALGO_HLL, p, HLL_SPARSE);
    putInt(out, HEADER, nnz);
    final BitWriter w = new BitWriter(out, HEADER + 4);
    for (int j = 0; j < regs.length; j += 8) {
      if (word(regs, j) == 0) {
        continue;
      }
      for (int k = j; k < j + 8; k++) {
        if (regs[k] != 0) {
          w.write(((long) k << S_BITS) | (regs[k] & 0xFF), width);
        }
      }
    }
    return out;
  }

  private static byte[] encodeHlll(byte[] regs, int p, int mBits) {
    final int m = regs.length;
    final long maxOffset = (1L << mBits) - 1;
    final long[] counts = new long[256];
    for (int j = 0; j < m; j += 8) {
      if (word(regs, j) == 0) {
        counts[0] += 8;
        continue;
      }
      for (int k = j; k < j + 8; k++) {
        counts[regs[k] & 0xFF]++;
      }
    }
    // base minimizing the exception count, smallest base on ties
    int base = 0;
    long bestNs = Long.MAX_VALUE;
    for (int b = 0; b < 256; b++) {
      if (counts[b] == 0) {
        continue;
      }
      final long hi = Math.min(b + maxOffset, 64);
      long inWindow = 0;
      for (int v = b; v <= hi; v++) {
        inWindow += counts[v];
      }
      if (m - inWindow < bestNs) {
        bestNs = m - inWindow;
        base = b;
      }
    }
    final int ns = (int) bestNs;
    final int width = p + S_BITS;
    final int offAt = HEADER + 5;
    final long offBytes = (long) m / 8 * mBits;
    final long excBytes = ((long) ns * width + 7) / 8;
    final byte[] out = header((int) (offAt + offBytes + excBytes), ALGO_HLLL, p, mBits);
    out[HEADER] = (byte) base;
    putInt(out, HEADER + 1, ns);
    final BitWriter exceptions = new BitWriter(out, (int) (offAt + offBytes));
    for (int j = 0, at = offAt; j < m; j += 8, at += mBits) {
      if (base == 0 && word(regs, j) == 0) {
        continue; // eight zero offsets, no exception: out is already zero
      }
      long acc = 0;
      int bits = 0;
      int pos = at;
      for (int k = j; k < j + 8; k++) {
        final int r = regs[k] & 0xFF;
        long off = r - base;
        if (off < 0 || off > maxOffset) {
          exceptions.write(((long) k << S_BITS) | r, width);
          off = 0;
        }
        acc = (acc << mBits) | off;
        bits += mBits;
        while (bits >= 8) {
          bits -= 8;
          out[pos++] = (byte) (acc >>> bits);
        }
      }
    }
    return out;
  }

  /** A zeroed register buffer sized by the header of {@code buf}. */
  static byte[] emptyRegisters(byte[] buf) {
    final int p = checkHeader(buf);
    HllRegOps.checkP(p);
    return new byte[1 << p];
  }

  /** Folds the registers of sketch {@code buf} into {@code regs} (max). */
  static byte[] decodeMax(byte[] buf, byte[] regs) {
    final int p = checkHeader(buf);
    final int m = 1 << p;
    if (p > 30 || regs.length != m) {
      throw new IllegalArgumentException(
          "register count mismatch: sketch has 2^" + p + ", buffer has " + regs.length);
    }
    final int algo = buf[5] & 0xFF;
    final int extra = buf[7] & 0xFF;
    if (algo == ALGO_HLL && extra == HLL_SPARSE) {
      final int nnz = getInt(buf, HEADER);
      final BitReader rd = new BitReader(buf, HEADER + 4, nnz, p + S_BITS);
      for (int i = 0; i < nnz; i++) {
        final long pair = rd.read(p + S_BITS);
        max(regs, checkIndex(pair >>> S_BITS, m), (int) (pair & 63));
      }
    } else if (algo == ALGO_HLL) {
      need(buf, HEADER + (long) m);
      for (int j = 0; j < m; j++) {
        max(regs, j, buf[HEADER + j] & 0xFF);
      }
    } else if (algo == ALGO_ZSTD) {
      final byte[] raw = new byte[m];
      final long n = Zstd.decompressByteArray(raw, 0, m, buf, HEADER, buf.length - HEADER);
      if (Zstd.isError(n) || n != m) {
        throw new IllegalArgumentException("bad zstd sketch payload");
      }
      HllRegOps.merge(regs, raw);
    } else if (algo == ALGO_HLLL) {
      decodeHlllMax(buf, regs, p, extra);
    } else {
      throw new IllegalArgumentException("unknown algo id " + algo);
    }
    return regs;
  }

  /**
   * An exception replaces its slot's offset.  With base 0 the encoder's
   * offset there is 0, and max(acc, 0) leaves the accumulator as it is, so
   * the offsets fold straight into {@code regs}; with base &gt; 0 an
   * exception may be below base, and the sketch is decoded into a
   * temporary first.
   */
  private static void decodeHlllMax(byte[] buf, byte[] regs, int p, int mBits) {
    final int m = regs.length;
    checkMBits(mBits);
    need(buf, HEADER + 5);
    final int base = buf[HEADER] & 0xFF;
    final int ns = getInt(buf, HEADER + 1);
    final int offAt = HEADER + 5;
    final long offBytes = (long) m / 8 * mBits;
    final int width = p + S_BITS;
    // checks the length of the offsets and the exceptions together
    final BitReader exceptions = new BitReader(buf, offAt + offBytes, ns, width);
    final boolean fold = base == 0;
    final byte[] vals = fold ? regs : new byte[m];
    final long mask = (1L << mBits) - 1;
    for (int j = 0, at = offAt; j < m; j += 8, at += mBits) {
      if (fold && zeroBytes(buf, at, mBits)) {
        continue;
      }
      long acc = 0;
      int bits = 0;
      int pos = at;
      for (int k = j; k < j + 8; k++) {
        while (bits < mBits) {
          acc = (acc << 8) | (buf[pos++] & 0xFF);
          bits += 8;
        }
        bits -= mBits;
        final int v = (int) (((acc >>> bits) & mask) + base) & 0xFF;
        if (fold) {
          max(regs, k, v);
        } else {
          vals[k] = (byte) v;
        }
      }
    }
    for (int i = 0; i < ns; i++) {
      final long kv = exceptions.read(width);
      final int j = checkIndex(kv >>> S_BITS, m);
      if (fold) {
        max(regs, j, (int) (kv & 63));
      } else {
        vals[j] = (byte) (kv & 63);
      }
    }
    if (!fold) {
      HllRegOps.merge(regs, vals);
    }
  }

  private static boolean zeroBytes(byte[] buf, int at, int n) {
    int or = 0;
    for (int i = at; i < at + n; i++) {
      or |= buf[i];
    }
    return or == 0;
  }

  private static int checkHeader(byte[] buf) {
    need(buf, HEADER);
    final int version = buf[4] & 0xFF;
    if (buf[0] != 'H' || buf[1] != 'L' || buf[2] != 'S' || buf[3] != 'K'
        || (version != 1 && version != 2)) {
      throw new IllegalArgumentException("bad sketch header");
    }
    return buf[6] & 0xFF;
  }

  private static void need(byte[] buf, long bytes) {
    if (buf.length < bytes) {
      throw new IllegalArgumentException(
          "truncated sketch: " + buf.length + " bytes, need " + bytes);
    }
  }

  private static int checkIndex(long j, int m) {
    if (j >= m) {
      throw new IllegalArgumentException("register index " + j + " out of range");
    }
    return (int) j;
  }

  private static void max(byte[] regs, int j, int r) {
    if ((regs[j] & 0xFF) < r) {
      regs[j] = (byte) r;
    }
  }

  private static byte[] header(int size, int algo, int p, int extra) {
    final byte[] out = new byte[size];
    out[0] = 'H';
    out[1] = 'L';
    out[2] = 'S';
    out[3] = 'K';
    out[4] = VERSION;
    out[5] = (byte) algo;
    out[6] = (byte) p;
    out[7] = (byte) extra;
    return out;
  }

  private static void putInt(byte[] buf, int at, int v) {
    for (int i = 0; i < 4; i++) {
      buf[at + i] = (byte) (v >>> (8 * i));
    }
  }

  private static int getInt(byte[] buf, int at) {
    need(buf, at + 4L);
    int v = 0;
    for (int i = 0; i < 4; i++) {
      v |= (buf[at + i] & 0xFF) << (8 * i);
    }
    if (v < 0) {
      throw new IllegalArgumentException("bad sketch count " + Integer.toUnsignedString(v));
    }
    return v;
  }

  /** MSB-first bit packing into a zeroed buffer (sketch.pack_uints). */
  private static final class BitWriter {
    private final byte[] buf;
    private long bit;

    BitWriter(byte[] buf, int offset) {
      this.buf = buf;
      this.bit = 8L * offset;
    }

    /** Appends the low {@code width} bits of {@code v}. */
    void write(long v, int width) {
      for (int need = width; need > 0; ) {
        final int room = 8 - (int) (bit & 7);
        final int take = Math.min(room, need);
        final int bits = (int) ((v >>> (need - take)) & ((1 << take) - 1));
        buf[(int) (bit >>> 3)] |= (byte) (bits << (room - take));
        need -= take;
        bit += take;
      }
    }
  }

  /** MSB-first bit unpacking (sketch.unpack_uints), bounds-checked once. */
  private static final class BitReader {
    private final byte[] buf;
    private long bit;

    BitReader(byte[] buf, long offset, long n, int width) {
      need(buf, offset + (n * width + 7) / 8);
      this.buf = buf;
      this.bit = 8L * offset;
    }

    long read(int width) {
      long v = 0;
      for (int need = width; need > 0; ) {
        final int room = 8 - (int) (bit & 7);
        final int take = Math.min(room, need);
        final int bits = ((buf[(int) (bit >>> 3)] & 0xFF) >>> (room - take)) & ((1 << take) - 1);
        v = (v << take) | bits;
        need -= take;
        bit += take;
      }
      return v;
    }
  }
}
