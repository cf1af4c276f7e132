package hllspark;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.Iterator;
import java.util.List;
import java.util.NoSuchElementException;
import org.apache.spark.Dependency;
import org.apache.spark.OneToOneDependency;
import org.apache.spark.Partition;
import org.apache.spark.TaskContext;
import org.apache.spark.api.java.JavaRDD;
import org.apache.spark.api.java.function.FlatMapFunction;
import org.apache.spark.rdd.RDD;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.JoinedRow;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection;
import org.apache.spark.sql.catalyst.expressions.UnsafeRow;
import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.classic.ExpressionUtils;
import org.apache.spark.sql.execution.ColumnarToRowExec;
import org.apache.spark.sql.execution.InputAdapter;
import org.apache.spark.sql.execution.ProjectExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.WholeStageCodegenExec;
import org.apache.spark.sql.execution.vectorized.WritableColumnVector;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.BinaryType;
import org.apache.spark.sql.types.BooleanType;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.DateType;
import org.apache.spark.sql.types.IntegerType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.StringType;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.types.TimestampType;
import org.apache.spark.sql.vectorized.ColumnVector;
import org.apache.spark.sql.vectorized.ColumnarBatch;
import org.apache.spark.unsafe.Platform;
import org.apache.spark.unsafe.types.UTF8String;
import scala.collection.AbstractIterator;
import scala.collection.immutable.List$;
import scala.collection.immutable.Seq;
import scala.jdk.javaapi.CollectionConverters;
import scala.reflect.ClassTag$;

/**
 * sketch_by's map-side partial build: per task, a group map from key to a
 * dense register buffer, one {@link HllRegOps#update} per input row, and
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
 * <p>The input is the group keys and a value column; the build owns
 * null-skipping (a NULL value adds nothing and makes no group) and hashing
 * (Spark's {@code xxhash64} with seed 42, or the bigint value itself for
 * 'prehashed').  It has two readers, which feed the same group list,
 * budget and output:
 *
 * <ul>
 *   <li>The column batch reader runs when the input's executed plan is a
 *       leaf that supports columnar output (a Parquet or ORC scan, a cached
 *       table of primitive columns), read through a {@code
 *       ColumnarToRowExec} or directly, under at most a {@code
 *       WholeStageCodegenExec} and a {@code ProjectExec} of bare
 *       attributes, and every column has a type it reads: keys of string
 *       (default collation), int, long, date, timestamp or boolean; a value
 *       of string (default collation), binary, int, date, long or
 *       timestamp (bigint for 'prehashed').  It takes the leaf's column
 *       batches and hashes the value straight from its vector.  Each
 *       key value maps to a dense per-task id (a dictionary-encoded string
 *       resolves each dictionary id once per batch), and the tuple of ids
 *       to a group through exact id maps, which the budget charges too.  A
 *       group's key row is built once, when the group is new.
 *   <li>Every other input (filters, computed columns, joins, exchanges,
 *       other types) is read as Spark's internal rows ({@code
 *       queryExecution().toRdd()}) of a null filter and Spark's codegen'd
 *       hash projection, built only when this reader runs; a key is its
 *       UnsafeRow bytes, which hash and compare without decoding strings
 *       or dates.
 * </ul>
 *
 * <p>Both readers key a group by the same UnsafeRow bytes, so their
 * partials are identical.  Keys Spark groups as equal but whose bytes
 * differ (a collation's 'a' and 'A'; -0.0 and 0.0 unless normalized first)
 * land in separate partials, which the merge joins.  The output goes back
 * through {@code internalCreateDataFrame}, so no row is converted to an
 * external {@code Row}.  These calls are Spark internals, so the jar is
 * built against the Spark it runs on (java/build.sh).  Planning the input
 * can run an adaptive plan's shuffle stages, so {@link InputRows} defers
 * the choice of reader and the planning to the first action: building the
 * step runs nothing.
 */
public final class HllSketchPartials implements FlatMapFunction<Iterator<Object>, InternalRow> {
  static final String FALLBACK_THRESHOLD =
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold";
  private static final int MAX_BUFFER_LOG2 = 18;
  /**
   * Heap bytes of a group besides its register and key bytes: the HashMap
   * node and table slot, the key's UnsafeRow object and the two byte[]
   * headers (64-bit JVM, compressed oops), rounded up.
   */
  private static final int ENTRY_BYTES = 128;
  /** Heap bytes of an id in an open-addressing id map at load 1/2: two long and two int slots. */
  private static final int ID_BYTES = 24;
  /**
   * Heap bytes of a string key's id besides its bytes: the HashMap node
   * and table slot, the UTF8String, its byte[] header and the Integer.
   */
  private static final int STRING_ID_BYTES = 96;
  private static final long SEED = 42;
  private static final int MIN_TABLE = 16;

  // value column kinds of the batch reader
  private static final int V_STRING = 0;
  private static final int V_BINARY = 1;
  private static final int V_INT = 2;
  private static final int V_LONG = 3;
  private static final int V_PREHASHED = 4;
  // key column kinds of the batch reader
  private static final int K_STRING = 0;
  private static final int K_INT = 1;
  private static final int K_LONG = 2;
  private static final int K_BOOLEAN = 3;

  private final int p;
  private final DataType[] keyTypes;
  private final int nKeys;
  private final long budgetBytes;
  private final int[] keyKinds;
  private final int valueKind;

  private HllSketchPartials(int p, DataType[] keyTypes, long budgetBytes, int valueKind) {
    this.p = p;
    this.keyTypes = keyTypes;
    this.nKeys = keyTypes.length;
    this.budgetBytes = budgetBytes;
    this.keyKinds = Arrays.stream(keyTypes).mapToInt(HllSketchPartials::keyKind).toArray();
    this.valueKind = valueKind;
  }

  /**
   * Partial sketches of {@code in}: its columns are the group keys, then
   * the value, hashed per {@code hashMode} ('xxhash64' or 'prehashed');
   * the output is the keys, then {@code sketchCol}.
   */
  public static Dataset<Row> build(Dataset<Row> in, int p, String sketchCol, String hashMode) {
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
    final JavaRDD<Object> input = new InputRows<>(in, hashMode).toJavaRDD();
    final int valueKind = valueKind(fields[nKeys].dataType(), hashMode);
    final JavaRDD<InternalRow> partials =
        input.mapPartitions(new HllSketchPartials(p, keyTypes, budget, valueKind));
    return in.sparkSession().internalCreateDataFrame(partials.rdd(), out, false);
  }

  /**
   * Whether {@link #build} reads {@code in} as column batches (class
   * javadoc).  Plans {@code in}.
   */
  public static boolean readsBatches(Dataset<Row> in, String hashMode) {
    return batchLeaf(in, hashMode) != null;
  }

  /**
   * The columnar leaf the batch reader reads {@code in} from, or null when
   * a key or the value has a type it does not read or the executed plan
   * is not of its shape (class javadoc).  Plans {@code in}.
   */
  private static SparkPlan batchLeaf(Dataset<Row> in, String hashMode) {
    final StructField[] fields = in.schema().fields();
    final int nKeys = fields.length - 1;
    for (int i = 0; i < nKeys; i++) {
      if (keyKind(fields[i].dataType()) < 0) {
        return null;
      }
    }
    return valueKind(fields[nKeys].dataType(), hashMode) < 0
        ? null
        : batchLeaf(in.queryExecution().executedPlan());
  }

  /** The row reader's input: rows with a non-NULL value, the value hashed. */
  private static Dataset<Row> hashed(Dataset<Row> in, String hashMode) {
    final List<Attribute> attrs =
        CollectionConverters.asJava(in.queryExecution().analyzed().output());
    final int nKeys = attrs.size() - 1;
    final Column value = ExpressionUtils.column(attrs.get(nKeys));
    final Column[] cols = new Column[nKeys + 1];
    for (int i = 0; i < nKeys; i++) {
      cols[i] = ExpressionUtils.column(attrs.get(i));
    }
    switch (hashMode) {
      case "xxhash64":
        cols[nKeys] = functions.xxhash64(value);
        break;
      case "prehashed":
        cols[nKeys] = value.cast("long");
        break;
      default:
        throw new IllegalArgumentException("unknown hash_mode " + hashMode);
    }
    return in.where(value.isNotNull()).select(cols);
  }

  private static int keyKind(DataType t) {
    if (t instanceof StringType s) {
      return s.isUTF8BinaryCollation() ? K_STRING : -1;
    }
    if (t instanceof IntegerType || t instanceof DateType) {
      return K_INT;
    }
    if (t instanceof LongType || t instanceof TimestampType) {
      return K_LONG;
    }
    return t instanceof BooleanType ? K_BOOLEAN : -1;
  }

  private static int valueKind(DataType t, String hashMode) {
    if (hashMode.equals("prehashed")) {
      return t instanceof LongType ? V_PREHASHED : -1;
    }
    if (t instanceof StringType s) {
      return s.isUTF8BinaryCollation() ? V_STRING : -1;
    }
    if (t instanceof BinaryType) {
      return V_BINARY;
    }
    if (t instanceof IntegerType || t instanceof DateType) {
      return V_INT;
    }
    return t instanceof LongType || t instanceof TimestampType ? V_LONG : -1;
  }

  /** The columnar leaf of a plan of the batch reader's shape (class javadoc), else null. */
  private static SparkPlan batchLeaf(SparkPlan plan) {
    SparkPlan node = plan instanceof WholeStageCodegenExec w ? w.child() : plan;
    if (node instanceof ProjectExec project) {
      for (NamedExpression e : CollectionConverters.asJava(project.projectList())) {
        if (!(e instanceof Attribute)) {
          return null;
        }
      }
      node = project.child();
    }
    // whole-stage codegen puts an InputAdapter above a stage's input
    node = node instanceof InputAdapter a ? a.child() : node;
    if (node instanceof ColumnarToRowExec toRows) {
      node = toRows.child() instanceof InputAdapter a ? a.child() : toRows.child();
    }
    return node.supportsColumnar() && node.children().isEmpty() ? node : null;
  }

  /**
   * The batch column of each of {@code plan}'s output columns, which a
   * projection of bare attributes takes from its leaf's output.
   */
  private static int[] batchColumns(SparkPlan plan, SparkPlan leaf) {
    final List<Attribute> leafOut = CollectionConverters.asJava(leaf.output());
    final List<Attribute> out = CollectionConverters.asJava(plan.output());
    final int[] columns = new int[out.size()];
    for (int i = 0; i < columns.length; i++) {
      int j = 0;
      while (!leafOut.get(j).exprId().equals(out.get(i).exprId())) {
        j++;
      }
      columns[i] = j;
    }
    return columns;
  }

  @Override
  public Iterator<InternalRow> call(Iterator<Object> input) {
    return new Partials(input);
  }

  private final class Partials implements Iterator<InternalRow> {
    private final Iterator<Object> input;
    private final UnsafeProjection keyOf = UnsafeProjection.create(keyTypes);
    // the groups since the last flush, in first-seen order, and the bytes charged
    private final ArrayList<UnsafeRow> keys = new ArrayList<>();
    private final ArrayList<byte[]> regs = new ArrayList<>();
    private long bytes;
    private int emitted;
    // the row reader's group map
    private final HashMap<UnsafeRow, byte[]> byKey = new HashMap<>();
    // the batch reader: the batch being read, its key vectors and dictionary ids
    private ColumnarBatch batch;
    private int row;
    private final ColumnVector[] keyCols = new ColumnVector[nKeys];
    private final WritableColumnVector[] keyDicts = new WritableColumnVector[nKeys];
    private ColumnVector valueCol;
    // per key column its id count, NULL's id and string ids; tables 0..nKeys-1
    // hold key columns' long ids, table nKeys + k - 1 the ids of (group id of
    // keys 0..k-1, id of key k)
    private final int[] idCount = new int[2 * nKeys];
    private final int[] nullId = new int[nKeys];
    @SuppressWarnings("unchecked")
    private final HashMap<UTF8String, Integer>[] stringIds = new HashMap[nKeys];
    private final long[][] tableKeys = new long[2 * nKeys][];
    private final int[][] tableIds = new int[2 * nKeys][];
    // per-batch key ids by dictionary id, valid where the stamp is the epoch
    private int epoch;
    private final int[][] keyDictStamp = new int[nKeys][];
    private final int[][] keyDictId = new int[nKeys][];

    Partials(Iterator<Object> input) {
      this.input = input;
      for (int k = 0; k < nKeys; k++) {
        stringIds[k] = new HashMap<>();
        keyDictStamp[k] = new int[0];
        keyDictId[k] = new int[0];
      }
      clear();
    }

    @Override
    public boolean hasNext() {
      if (emitted == keys.size()) {
        fill();
      }
      return emitted < keys.size();
    }

    @Override
    public InternalRow next() {
      if (!hasNext()) {
        throw new NoSuchElementException();
      }
      final byte[] sketch = HllSketchCodec.encode(regs.get(emitted), HllSketchCodec.ALGO_HLL, 0);
      return new JoinedRow(keys.get(emitted++), new GenericInternalRow(new Object[] {sketch}));
    }

    /** Reads input until it ends or the groups fill the budget. */
    private void fill() {
      clear();
      while (bytes < budgetBytes) {
        if (batch != null && row < batch.numRows()) {
          readBatch();
        } else if (!input.hasNext()) {
          return;
        } else {
          final Object next = input.next();
          if (next instanceof ColumnarBatch b) {
            startBatch(b);
          } else {
            readRow((InternalRow) next);
          }
        }
      }
    }

    /** Empties the groups and every id map. */
    private void clear() {
      keys.clear();
      regs.clear();
      byKey.clear();
      bytes = 0;
      emitted = 0;
      epoch++;
      Arrays.fill(idCount, 0);
      Arrays.fill(nullId, -1);
      for (int t = 0; t < tableIds.length; t++) {
        tableKeys[t] = new long[MIN_TABLE];
        tableIds[t] = new int[MIN_TABLE];
      }
      for (HashMap<UTF8String, Integer> ids : stringIds) {
        ids.clear();
      }
    }

    private byte[] addGroup(UnsafeRow key) {
      final byte[] group = new byte[1 << p];
      keys.add(key);
      regs.add(group);
      bytes += group.length + key.getSizeInBytes() + ENTRY_BYTES;
      return group;
    }

    /** The row reader: keys, then a bigint hash (NULL where a cast failed: adds nothing). */
    private void readRow(InternalRow in) {
      final UnsafeRow key = keyOf.apply(in);
      byte[] group = byKey.get(key);
      if (group == null) {
        final UnsafeRow copy = key.copy();
        group = addGroup(copy);
        byKey.put(copy, group);
      }
      if (!in.isNullAt(nKeys)) {
        HllRegOps.update(group, in.getLong(nKeys), p);
      }
    }

    private void startBatch(ColumnarBatch b) {
      batch = b;
      row = 0;
      epoch++;
      for (int k = 0; k < nKeys; k++) {
        keyCols[k] = b.column(k);
        keyDicts[k] = keyKinds[k] == K_STRING ? dictionaryIds(keyCols[k]) : null;
      }
      valueCol = b.column(nKeys);
    }

    /** Reads the batch's rows until it ends or the groups fill the budget. */
    private void readBatch() {
      final int n = batch.numRows();
      while (row < n) {
        final int i = row++;
        if (valueCol.isNullAt(i)) {
          continue;
        }
        final long hash = hash(i);
        int group = 0;
        for (int k = 0; k < nKeys; k++) {
          final int id = keyId(k, i);
          group = k == 0 ? id : tableId(nKeys + k - 1, ((long) group << 32) | id);
        }
        final byte[] buffer =
            group < regs.size() ? regs.get(group) : addGroup(keyOf.apply(batch.getRow(i)).copy());
        HllRegOps.update(buffer, hash, p);
        if (bytes >= budgetBytes) {
          return;
        }
      }
    }

    /** Spark's xxhash64 (seed 42) of the value at row {@code i}, or the bigint for 'prehashed'. */
    private long hash(int i) {
      switch (valueKind) {
        case V_INT:
          return XXH64.hashInt(valueCol.getInt(i), SEED);
        case V_LONG:
          return XXH64.hashLong(valueCol.getLong(i), SEED);
        case V_PREHASHED:
          return valueCol.getLong(i);
        default:
          return hashBytes(i);
      }
    }

    private long hashBytes(int i) {
      if (valueKind == V_BINARY && !(valueCol instanceof WritableColumnVector)) {
        final byte[] b = valueCol.getBinary(i);
        return XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, SEED);
      }
      // a writable vector's getUTF8String views its bytes, binary ones too
      final UTF8String s = valueCol.getUTF8String(i);
      return XXH64.hashUnsafeBytes(s.getBaseObject(), s.getBaseOffset(), s.numBytes(), SEED);
    }

    /** The dense id of key column {@code k}'s value at row {@code i}. */
    private int keyId(int k, int i) {
      final ColumnVector v = keyCols[k];
      if (v.isNullAt(i)) {
        if (nullId[k] < 0) {
          nullId[k] = idCount[k]++;
        }
        return nullId[k];
      }
      switch (keyKinds[k]) {
        case K_INT:
          return tableId(k, v.getInt(i));
        case K_LONG:
          return tableId(k, v.getLong(i));
        case K_BOOLEAN:
          return tableId(k, v.getBoolean(i) ? 1 : 0);
        default:
          final WritableColumnVector dict = keyDicts[k];
          if (dict == null) {
            return stringId(k, v.getUTF8String(i));
          }
          final int d = dict.getInt(i);
          if (d >= keyDictStamp[k].length) {
            final int size = Math.max(2 * keyDictStamp[k].length, d + 1);
            keyDictStamp[k] = Arrays.copyOf(keyDictStamp[k], size);
            keyDictId[k] = Arrays.copyOf(keyDictId[k], size);
          }
          if (keyDictStamp[k][d] != epoch) {
            keyDictStamp[k][d] = epoch;
            keyDictId[k][d] = stringId(k, v.getUTF8String(i));
          }
          return keyDictId[k][d];
      }
    }

    private int stringId(int k, UTF8String s) {
      final Integer id = stringIds[k].get(s);
      if (id != null) {
        return id;
      }
      final int fresh = idCount[k]++;
      stringIds[k].put(s.copy(), fresh);
      bytes += s.numBytes() + STRING_ID_BYTES;
      return fresh;
    }

    /** The dense id of {@code key} in open-addressing table {@code t}. */
    private int tableId(int t, long key) {
      long[] ks = tableKeys[t];
      int[] ids = tableIds[t];
      int mask = ids.length - 1;
      int slot = mix(key) & mask;
      for (; ids[slot] != 0; slot = (slot + 1) & mask) {
        if (ks[slot] == key) {
          return ids[slot] - 1;
        }
      }
      final int id = idCount[t]++;
      ks[slot] = key;
      ids[slot] = id + 1;
      bytes += ID_BYTES;
      if (2 * idCount[t] > ids.length) {
        tableKeys[t] = new long[2 * ids.length];
        tableIds[t] = new int[2 * ids.length];
        mask = 2 * ids.length - 1;
        for (int j = 0; j < ids.length; j++) {
          if (ids[j] != 0) {
            int s = mix(ks[j]) & mask;
            while (tableIds[t][s] != 0) {
              s = (s + 1) & mask;
            }
            tableKeys[t][s] = ks[j];
            tableIds[t][s] = ids[j];
          }
        }
      }
      return id;
    }
  }

  private static int mix(long key) {
    final long x = key * 0x9E3779B97F4A7C15L;
    return (int) (x ^ (x >>> 32));
  }

  private static WritableColumnVector dictionaryIds(ColumnVector v) {
    return v instanceof WritableColumnVector w && w.hasDictionary() ? w.getDictionaryIds() : null;
  }

  /**
   * The internal rows of {@code in}, or, for a partial build's input (a
   * {@code hashMode}), the batches of its columnar leaf with {@code in}'s
   * columns in order where the batch reader reads it ({@link
   * #batchLeaf(Dataset, String)}), else the rows of its {@link #hashed}
   * projection; planned at the first action instead of at {@link
   * #build}.  The scheduler asks an RDD for its partitions and
   * dependencies on the thread that submits the job, before any task
   * runs, so planning (and any adaptive shuffle stage of the input) runs
   * there; tasks read the planned RDD.
   */
  static final class InputRows<T> extends RDD<T> {
    private transient Dataset<Row> in;
    private transient String hashMode;
    private RDD<?> rows;
    private int[] columns;

    InputRows(Dataset<Row> in) {
      this(in, null);
    }

    InputRows(Dataset<Row> in, String hashMode) {
      super(in.sparkSession().sparkContext(), List$.MODULE$.empty(),
          ClassTag$.MODULE$.apply(Object.class));
      this.in = in;
      this.hashMode = hashMode;
    }

    private synchronized RDD<?> rows() {
      if (rows == null) {
        final SparkPlan leaf = hashMode == null ? null : batchLeaf(in, hashMode);
        if (leaf != null) {
          columns = batchColumns(in.queryExecution().executedPlan(), leaf);
          rows = leaf.executeColumnar();
        } else {
          rows = (hashMode == null ? in : hashed(in, hashMode)).queryExecution().toRdd();
        }
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
    @SuppressWarnings("unchecked")
    public scala.collection.Iterator<T> compute(Partition split, TaskContext context) {
      final scala.collection.Iterator<T> parent =
          (scala.collection.Iterator<T>) rows.iterator(split, context);
      if (columns == null) {
        return parent;
      }
      return new AbstractIterator<T>() {
        @Override
        public boolean hasNext() {
          return parent.hasNext();
        }

        @Override
        public T next() {
          final ColumnarBatch leaf = (ColumnarBatch) parent.next();
          final ColumnVector[] cols = new ColumnVector[columns.length];
          for (int i = 0; i < cols.length; i++) {
            cols[i] = leaf.column(columns[i]);
          }
          return (T) new ColumnarBatch(cols, leaf.numRows());
        }
      };
    }
  }
}
