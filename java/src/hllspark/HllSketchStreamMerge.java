package hllspark;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.Iterator;
import java.util.List;
import java.util.NoSuchElementException;
import org.apache.spark.api.java.JavaRDD;
import org.apache.spark.api.java.function.FlatMapFunction;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.BaseOrdering;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering;
import org.apache.spark.sql.catalyst.expressions.JoinedRow;
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection;
import org.apache.spark.sql.catalyst.expressions.UnsafeRow;
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers$;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.classic.ExpressionUtils;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import scala.jdk.javaapi.CollectionConverters;

/**
 * sketch_by's merge step for keyed partials: the partial sketches are
 * exchanged by key and sorted within each reducer, and each run of equal
 * keys is folded into one register buffer ({@link
 * HllSketchCodec#decodeMax}) and encoded once, to the target algo.  A
 * reducer holds one group's registers at a time, and Spark's external sort
 * bounds and spills the rest, so the merge has no fallback cliff, where
 * {@link HllSketchMergeAggregator} (an ObjectHashAggregate) sorts every
 * buffer of a task past its 128th group.
 *
 * <p>Like {@link HllSketchPartials} the step reads Spark's internal rows
 * through {@link HllSketchPartials.InputRows}, so building it and {@code
 * explain()} run nothing.  Adjacent keys are compared with Spark's own
 * ordering, so keys the sort calls equal (collated strings, NaNs) fold
 * together.  A hash exchange does not normalize float keys the way a
 * grouping does, so callers pass the partials' input through {@link
 * #normalizeKeys} first: the keys it outputs are then the keys {@code
 * groupBy} outputs.
 */
public final class HllSketchStreamMerge implements FlatMapFunction<Iterator<InternalRow>, InternalRow> {
  private final int algo;
  private final int mBits;
  private final DataType[] keyTypes;

  private HllSketchStreamMerge(int algo, int mBits, DataType[] keyTypes) {
    this.algo = algo;
    this.mBits = mBits;
    this.keyTypes = keyTypes;
  }

  /**
   * {@code in} with its first {@code nKeys} columns passed through
   * Catalyst's float normalization (NaN to one NaN, -0.0 to 0.0, into
   * structs and arrays), as {@code groupBy} normalizes its keys.
   */
  public static Dataset<Row> normalizeKeys(Dataset<Row> in, int nKeys) {
    final List<Attribute> attrs = output(in);
    final Column[] cols = new Column[attrs.size()];
    for (int i = 0; i < cols.length; i++) {
      final Attribute a = attrs.get(i);
      final Expression e = i < nKeys ? NormalizeFloatingNumbers$.MODULE$.normalize(a) : a;
      cols[i] = e == a ? ExpressionUtils.column(a) : ExpressionUtils.column(e).as(a.name(), a.metadata());
    }
    return in.select(cols);
  }

  /**
   * One {@code algo} sketch per key of {@code partials}: its columns are
   * the group keys, then a binary sketch of any format (NULL sketches are
   * skipped; a key with only NULLs merges to NULL).  The output has the
   * same columns, the sketch nullable.
   */
  public static Dataset<Row> build(Dataset<Row> partials, String algo, int mBits) {
    HllSketchCodec.checkMBits(mBits);
    final StructField[] fields = partials.schema().fields();
    final List<Attribute> attrs = output(partials);
    final int nKeys = fields.length - 1;
    final Column[] keys = new Column[nKeys];
    final DataType[] keyTypes = new DataType[nKeys];
    for (int i = 0; i < nKeys; i++) {
      keys[i] = ExpressionUtils.column(attrs.get(i));
      keyTypes[i] = fields[i].dataType();
    }
    final StructField sketch = fields[nKeys];
    final StructType out = new StructType(Arrays.copyOf(fields, nKeys))
        .add(sketch.name(), DataTypes.BinaryType, true, sketch.metadata());
    final Dataset<Row> sorted = partials.repartition(keys).sortWithinPartitions(keys);
    final JavaRDD<InternalRow> merged = new HllSketchPartials.InputRows<InternalRow>(sorted)
        .toJavaRDD()
        .mapPartitions(new HllSketchStreamMerge(HllSketchCodec.algoId(algo), mBits, keyTypes));
    return partials.sparkSession().internalCreateDataFrame(merged.rdd(), out, false);
  }

  /** The columns of {@code in} as attributes, which a dotted name cannot misread. */
  private static List<Attribute> output(Dataset<Row> in) {
    return CollectionConverters.asJava(in.queryExecution().analyzed().output());
  }

  @Override
  public Iterator<InternalRow> call(Iterator<InternalRow> rows) {
    return new Groups(rows);
  }

  private final class Groups implements Iterator<InternalRow> {
    private final Iterator<InternalRow> rows;
    private final int nKeys = keyTypes.length;
    private final UnsafeProjection keyOf = UnsafeProjection.create(keyTypes);
    private final BaseOrdering order =
        InterpretedOrdering.forSchema(CollectionConverters.asScala(new ArrayList<>(Arrays.asList(keyTypes))).toList());
    /** The first row of the next group, read past the end of the last one. */
    private InternalRow pending;

    Groups(Iterator<InternalRow> rows) {
      this.rows = rows;
    }

    @Override
    public boolean hasNext() {
      return pending != null || rows.hasNext();
    }

    @Override
    public InternalRow next() {
      if (!hasNext()) {
        throw new NoSuchElementException();
      }
      final InternalRow first = pending != null ? pending : rows.next();
      pending = null;
      final UnsafeRow key = keyOf.apply(first).copy();
      byte[] regs = fold(null, first);
      while (rows.hasNext()) {
        final InternalRow row = rows.next();
        if (order.compare(key, row) != 0) {
          pending = row.copy();
          break;
        }
        regs = fold(regs, row);
      }
      final byte[] sketch = regs == null ? null : HllSketchCodec.encode(regs, algo, mBits);
      return new JoinedRow(key, new GenericInternalRow(new Object[] {sketch}));
    }

    /** {@code regs} with the row's sketch folded in (allocated on the first). */
    private byte[] fold(byte[] regs, InternalRow row) {
      if (row.isNullAt(nKeys)) {
        return regs;
      }
      final byte[] sketch = row.getBinary(nKeys);
      return HllSketchCodec.decodeMax(sketch, regs == null ? HllSketchCodec.emptyRegisters(sketch) : regs);
    }
  }
}
