package hllspark;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Register-wise max merge of serialized sketches (any format
 * {@link HllSketchCodec} decodes), re-encoded to hll or hlll: the
 * merge_sketches / rollup half of the sketch monoid (reference
 * HyperLogLog.hpp:124-131, HyperLogLogLog.hpp:192-283), and the merge of
 * sketch_by's key-less partials.  Planned as ObjectHashAggregate, it holds
 * 128 buffers per task before it sorts, which suits inputs that collapse
 * map-side (a rollup read has about one row per coarse group and task);
 * sketch_by's keyed partials, one per (fine group, task), go through
 * {@link HllSketchStreamMerge} instead.
 *
 * <p>The buffer is the dense register array, sized by the first sketch's
 * header, so Spark aggregates partially and the shuffle carries one
 * m-byte buffer per (group, map task) rather than every sketch row.  Null
 * sketches are skipped; a group with no sketch keeps the empty zero()
 * buffer and finishes to NULL.  Sketches of different p are rejected.
 */
public class HllSketchMergeAggregator extends Aggregator<byte[], byte[], byte[]> {
  private final int algo;
  private final int mBits;

  public HllSketchMergeAggregator(String algo, int mBits) {
    HllSketchCodec.checkMBits(mBits);
    this.algo = HllSketchCodec.algoId(algo);
    this.mBits = mBits;
  }

  @Override
  public byte[] zero() {
    return new byte[0];
  }

  @Override
  public byte[] reduce(byte[] regs, byte[] sketch) {
    if (sketch == null) {
      return regs;
    }
    if (regs.length == 0) {
      regs = HllSketchCodec.emptyRegisters(sketch);
    }
    return HllSketchCodec.decodeMax(sketch, regs);
  }

  @Override
  public byte[] merge(byte[] a, byte[] b) {
    if (a.length == 0) {
      return b;
    }
    if (b.length == 0) {
      return a;
    }
    return HllRegOps.merge(a, b);
  }

  @Override
  public byte[] finish(byte[] regs) {
    return regs.length == 0 ? null : HllSketchCodec.encode(regs, algo, mBits);
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
