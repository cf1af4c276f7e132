package hllspark;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Serialized sketch (any format {@link HllSketchCodec} decodes) to its
 * distinct-count estimate, with {@link HllRegOps#estimate}: with_estimate
 * as a JVM scalar function.  A NULL sketch estimates to NULL.
 */
public class HllSketchEstimate implements UDF1<byte[], Double> {
  @Override
  public Double call(byte[] sketch) {
    if (sketch == null) {
      return null;
    }
    return HllRegOps.estimate(
        HllSketchCodec.decodeMax(sketch, HllSketchCodec.emptyRegisters(sketch)));
  }
}
