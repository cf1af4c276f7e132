package hllspark;

import java.util.Arrays;
import java.util.Collections;
import java.util.HashMap;
import java.util.Iterator;
import java.util.Map;
import java.util.NoSuchElementException;
import org.apache.spark.Dependency;
import org.apache.spark.OneToOneDependency;
import org.apache.spark.Partition;
import org.apache.spark.TaskContext;
import org.apache.spark.api.java.JavaRDD;
import org.apache.spark.api.java.function.FlatMapFunction;
import org.apache.spark.rdd.RDD;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.JoinedRow;
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection;
import org.apache.spark.sql.catalyst.expressions.UnsafeRow;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import scala.collection.immutable.List$;
import scala.collection.immutable.Seq;
import scala.reflect.ClassTag$;

/**
 * sketch_by's map-side partial build: per task, a hash map from key row to
 * a dense register buffer, one {@link HllRegOps#update} per input row, and
 * each group streamed out as an HLSK hll sketch.  {@link
 * HllSketchStreamMerge} then merges keyed partials (about one row per
 * (group, map task)) by an exchange and a sort, and {@link
 * HllSketchMergeAggregator} merges key-less ones.
 *
 * <p>ObjectHashAggregate, which a register aggregate over the input rows
 * would be planned as, holds at most
 * {@code spark.sql.objectHashAggregate.sortBased.fallbackThreshold} buffers
 * per task and then sorts every remaining input row of the task.  This
 * build never sorts: its map holds up to that threshold times 2^18 B (the
 * largest buffer, p = 18), counting per group the register buffer, the
 * copied key and the map's per-entry objects, and when it is full it
 * flushes as partials and starts an empty one.  Register max is exact, so
 * a flush only adds partial rows; the merged sketches do not depend on it.
 *
 * <p>The step reads Spark's internal rows ({@code queryExecution().toRdd()})
 * and returns them through {@code internalCreateDataFrame}, so no row is
 * converted to an external {@code Row}: a key is its UnsafeRow bytes, which
 * hash and compare without decoding strings or dates.  Keys Spark groups
 * as equal but whose bytes differ (a collation's 'a' and 'A'; -0.0 and 0.0
 * unless normalized first) land in separate partials, which the merge
 * joins.  Both calls are Spark internals, so the jar is
 * built against the Spark it runs on (java/build.sh).  {@code toRdd()}
 * runs an adaptive plan's shuffle stages, so {@link InputRows} defers it to
 * the first action: building the step runs nothing.
 */
public final class HllSketchPartials implements FlatMapFunction<Iterator<InternalRow>, InternalRow> {
  static final String FALLBACK_THRESHOLD =
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold";
  private static final int MAX_BUFFER_LOG2 = 18;
  /**
   * Heap bytes of a group besides its register and key bytes: the HashMap
   * node and table slot, the key's UnsafeRow object and the two byte[]
   * headers (64-bit JVM, compressed oops), rounded up.
   */
  private static final int ENTRY_BYTES = 128;

  private final int p;
  private final DataType[] keyTypes;
  private final int nKeys;
  private final long budgetBytes;

  private HllSketchPartials(int p, DataType[] keyTypes, long budgetBytes) {
    this.p = p;
    this.keyTypes = keyTypes;
    this.nKeys = keyTypes.length;
    this.budgetBytes = budgetBytes;
  }

  /**
   * Partial sketches of {@code in}: its columns are the group keys, then a
   * bigint hash (a NULL hash adds nothing, as in the aggregators' reduce);
   * the output is the keys, then {@code sketchCol}.
   */
  public static Dataset<Row> build(Dataset<Row> in, int p, String sketchCol) {
    HllRegOps.checkP(p);
    final StructField[] fields = in.schema().fields();
    final int nKeys = fields.length - 1;
    final StructType out =
        new StructType(Arrays.copyOf(fields, nKeys)).add(sketchCol, DataTypes.BinaryType, false);
    final DataType[] keyTypes = new DataType[nKeys];
    for (int i = 0; i < nKeys; i++) {
      keyTypes[i] = fields[i].dataType();
    }
    final long threshold = Long.parseLong(in.sparkSession().conf().get(FALLBACK_THRESHOLD));
    final long budget = Math.max(1, threshold) << MAX_BUFFER_LOG2;
    final JavaRDD<InternalRow> partials = new InputRows(in).toJavaRDD()
        .mapPartitions(new HllSketchPartials(p, keyTypes, budget));
    return in.sparkSession().internalCreateDataFrame(partials.rdd(), out, false);
  }

  @Override
  public Iterator<InternalRow> call(Iterator<InternalRow> rows) {
    return new Partials(rows);
  }

  private final class Partials implements Iterator<InternalRow> {
    private final Iterator<InternalRow> rows;
    private final UnsafeProjection keyOf = UnsafeProjection.create(keyTypes);
    private final HashMap<UnsafeRow, byte[]> groups = new HashMap<>();
    private Iterator<Map.Entry<UnsafeRow, byte[]>> out = Collections.emptyIterator();

    Partials(Iterator<InternalRow> rows) {
      this.rows = rows;
    }

    @Override
    public boolean hasNext() {
      if (!out.hasNext()) {
        fill();
      }
      return out.hasNext();
    }

    @Override
    public InternalRow next() {
      if (!hasNext()) {
        throw new NoSuchElementException();
      }
      final Map.Entry<UnsafeRow, byte[]> group = out.next();
      final byte[] sketch = HllSketchCodec.encode(group.getValue(), HllSketchCodec.ALGO_HLL, 0);
      return new JoinedRow(group.getKey(), new GenericInternalRow(new Object[] {sketch}));
    }

    /** Reads rows until the input ends or the map's groups fill the budget. */
    private void fill() {
      groups.clear();
      long bytes = 0;
      while (bytes < budgetBytes && rows.hasNext()) {
        final InternalRow row = rows.next();
        final UnsafeRow key = keyOf.apply(row);
        byte[] regs = groups.get(key);
        if (regs == null) {
          regs = new byte[1 << p];
          groups.put(key.copy(), regs);
          bytes += regs.length + key.getSizeInBytes() + ENTRY_BYTES;
        }
        if (!row.isNullAt(nKeys)) {
          HllRegOps.update(regs, row.getLong(nKeys), p);
        }
      }
      out = groups.entrySet().iterator();
    }
  }

  /**
   * The input's internal rows, planned at the first action instead of at
   * {@link #build}.  The scheduler asks an RDD for its partitions and
   * dependencies on the thread that submits the job, before any task
   * runs, so {@code toRdd()} (and any adaptive shuffle stage of the input)
   * runs there; tasks read the planned RDD.
   */
  static final class InputRows extends RDD<InternalRow> {
    private transient Dataset<Row> in;
    private RDD<InternalRow> rows;

    InputRows(Dataset<Row> in) {
      super(in.sparkSession().sparkContext(), List$.MODULE$.empty(),
          ClassTag$.MODULE$.apply(InternalRow.class));
      this.in = in;
    }

    private synchronized RDD<InternalRow> rows() {
      if (rows == null) {
        rows = in.queryExecution().toRdd();
        in = null;
      }
      return rows;
    }

    @Override
    public Partition[] getPartitions() {
      return rows().partitions();
    }

    @Override
    public Seq<Dependency<?>> getDependencies() {
      return List$.MODULE$.<Dependency<?>>empty().$colon$colon(new OneToOneDependency<>(rows()));
    }

    @Override
    public Seq<String> getPreferredLocations(Partition split) {
      return rows().preferredLocations(split);
    }

    @Override
    public scala.collection.Iterator<InternalRow> compute(Partition split, TaskContext context) {
      return rows.iterator(split, context);
    }
  }
}
