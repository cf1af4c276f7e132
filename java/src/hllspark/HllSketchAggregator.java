package hllspark;

/**
 * {@link HllRegAggregator}'s register build, finishing to the serialized
 * HLSK sketch (hll or hlll, {@link HllSketchCodec}) instead of the raw
 * registers: sketch_by's jvm plan is this one ObjectHashAggregate, with
 * no Python stage to encode the per-group result.
 */
public class HllSketchAggregator extends HllRegAggregator {
  private final int algo;
  private final int mBits;

  public HllSketchAggregator(int p, String algo, int mBits) {
    super(p);
    HllSketchCodec.checkMBits(mBits);
    this.algo = HllSketchCodec.algoId(algo);
    this.mBits = mBits;
  }

  @Override
  public byte[] finish(byte[] regs) {
    return HllSketchCodec.encode(regs, algo, mBits);
  }
}
