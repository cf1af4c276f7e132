package hllspark;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Typed-imperative HLL register build over pre-hashed 64-bit values.
 *
 * <p>The declarative SQL formulation in hllspark.agg pays a per-row
 * HashAggregate map probe on (keys, j) — inherent to expressing "max r per
 * register" relationally.  This Aggregator instead keeps the whole dense
 * register array as the aggregation buffer (the same trick Spark's own
 * approx_count_distinct / HyperLogLogPlusPlus uses), so per input row the
 * work is: unbox the hash, two shifts, one Long.numberOfLeadingZeros, one
 * array max — no hash-map probe, no per-row allocation.  Spark plans it as
 * ObjectHashAggregate with partial aggregation, so the shuffle carries one
 * m-byte buffer per (group, map task), identical in shape to the
 * reference's treeAggregate-style build (mkarppa/hyperlogloglog
 * HyperLogLog.hpp:41-49 add / 124-131 merge, lifted to a Spark aggregate).
 *
 * <p>Register semantics are byte-identical to hllspark.hashing.jr_split:
 * j = top p bits of the hash, r = clz(hash &lt;&lt; p) + 1, with the
 * all-zero suffix capped at 64 - p + 1.  The finish() output is the raw
 * dense register array.
 */
public class HllRegAggregator extends Aggregator<Long, byte[], byte[]> {
  private final int p;

  public HllRegAggregator(int p) {
    HllRegOps.checkP(p);
    this.p = p;
  }

  @Override
  public byte[] zero() {
    return new byte[1 << p];
  }

  @Override
  public byte[] reduce(byte[] regs, Long hash) {
    return HllRegOps.update(regs, hash, p);
  }

  @Override
  public byte[] merge(byte[] a, byte[] b) {
    return HllRegOps.merge(a, b);
  }

  @Override
  public byte[] finish(byte[] regs) {
    return regs;
  }

  @Override
  public Encoder<byte[]> bufferEncoder() {
    return Encoders.BINARY();
  }

  @Override
  public Encoder<byte[]> outputEncoder() {
    return Encoders.BINARY();
  }
}
