"""Optional JVM fast path: the HLL register builds and the sketch codec.

The declarative SQL build (hllspark.agg impl='sql') pays a per-row
HashAggregate probe on (keys, j); Spark's own approx_count_distinct avoids
that with an imperative register buffer.  java/src/hllspark/
HllRegAggregator.java is the same trick for OUR register semantics: a typed
Aggregator whose buffer is the dense byte[m] register array, planned as
ObjectHashAggregate with partial aggregation (one m-byte buffer per group
per map task crosses the shuffle).  Measured on local[32], 20M rows: the
JVM build runs at ~0.95-1.1x Spark's built-in HLL++ (vs 3.2x slower for the
SQL formulation) and produces byte-identical registers to impl='sql' /
impl='pandas' (same jr_split convention; pytest-gated).

That aggregate holds at most spark.sql.objectHashAggregate.sortBased.
fallbackThreshold (128) buffers per task; past that it sorts every
remaining input row of the task.  Many small groups per task (sketch_by
at a fine grain) hit that sort, so sketch_by builds map-side instead:
HllSketchPartials keeps a per-task hash map from key to register
buffer, bounded by the same threshold x 2^18 B (the most dense register
memory ObjectHashAggregate holds per task at any p; each group is
charged its register, key and map-entry bytes), and streams one HLSK hll
partial per (group, task) (sketch_partials).  The partials' merge is no
ObjectHashAggregate either, because that merge would hit the same
threshold: HllSketchStreamMerge exchanges them by key, sorts, and folds
each run of equal keys into one register buffer (stream_merge), over keys
normalized first as groupBy normalizes them (normalize_keys).

The jar also carries the HLSK sketch codec (HllSketchCodec, byte-identical
to hllspark.sketch for hll and hlll), so sketch tables need no Python
stage: HllSketchMergeAggregator merges sketches of any format with
partial aggregation (sketch_by's key-less merge, merge_sketches,
sketch_rollup / sketch_cube, whose inputs collapse map-side) and the
HllSketchEstimate function estimates them (with_estimate).  The pandas
UDFs of hllspark.agg remain for sessions without the jar, 'hllzstd'
encodes and farmhash builds.

Availability: the pre-built jar ships at hllspark/jars/hllspark-jvm.jar
(source + build script under java/); it must be on the DRIVER classpath at
JVM launch — e.g.::

    SparkSession.builder
      .config("spark.driver.extraClassPath", hllspark.jvmagg.jar_path())
      .config("spark.jars", hllspark.jvmagg.jar_path())   # executors

Sessions without the jar (e.g. an externally-created SparkSession) simply
report ``is_available() == False`` and hllspark.agg falls back to the pure
SQL plan and the pandas UDFs — results are identical either way, only
speed differs.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import DoubleType

# availability is a CLASSPATH property — JVM-wide, so per-application
# caching is correct.  Registration is per-SparkSession (newSession() has
# an isolated function registry), so it is NOT cached: re-registering is a
# handful of py4j calls and always lands in the caller's registry.
_availability: dict[str, bool] = {}


def jar_path() -> str:
    return os.path.join(os.path.dirname(__file__), "jars", "hllspark-jvm.jar")


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _executors_have_jar(spark: SparkSession) -> bool:
    """Executors load classes from spark.jars / spark.executor.extraClassPath
    — NOT from the driver's classpath.  A session with only
    spark.driver.extraClassPath would pass the driver probe and then die at
    task execution with ClassNotFoundException, so availability also
    requires an executor-visible path (or local mode, where executors share
    the driver JVM)."""
    conf = spark.sparkContext.getConf()
    if conf.get("spark.master", "").startswith("local"):
        return True
    for key in ("spark.jars", "spark.executor.extraClassPath",
                "spark.repl.local.jars"):
        val = conf.get(key, "") or ""
        if "hllspark" in val:
            return True
    return False


def is_available(spark: SparkSession) -> bool:
    """True iff the aggregator class is loadable in this session's JVM AND
    shipped to executors (spark.jars / executor classpath — see
    _executors_have_jar).  Probed once per application (instantiation
    attempt via py4j)."""
    key = _session_key(spark)
    if key not in _availability:
        try:
            spark._jvm.hllspark.HllRegAggregator(4)  # ctor validates p
            _availability[key] = _executors_have_jar(spark)
        except Exception:
            _availability[key] = False
    return _availability[key]


# flavor -> (aggregator class, input encoder): 'regs' bigint hash in, raw
# register bytes out (hllzstd sketch_by, rolling_distinct's build); 'est' bigint hash in, double estimate out (approx_distinct);
# 'merge_est' raw register bytes in, register-wise max, double estimate
# out (rolling_distinct); 'merge' serialized sketches in, register-wise
# max, serialized hll/hlll sketch out (sketch_by's key-less merge,
# merge_sketches, rollup / cube; sketch_by's keyed merge is stream_merge).
_AGGREGATORS = {
    "regs": ("HllRegAggregator", "LONG"),
    "est": ("HllEstimateAggregator", "LONG"),
    "merge_est": ("HllMergeEstimateAggregator", "BINARY"),
    "merge": ("HllSketchMergeAggregator", "BINARY"),
}
_ESTIMATE_FN = "hllspark_sketch_estimate"


def _require(spark: SparkSession) -> None:
    if not is_available(spark):
        raise RuntimeError(
            "hllspark JVM fast path unavailable: put "
            f"{jar_path()} on spark.driver.extraClassPath (see "
            "hllspark.jvmagg docstring)"
        )


def _register(spark: SparkSession, flavor: str, *args) -> str:
    """Register (idempotently) the ``flavor`` UDAF (see _AGGREGATORS) built
    with constructor ``args`` and return its SQL function name, which
    encodes the arguments (``hllspark_sketch_12_hlll_3``)."""
    _require(spark)
    name = "_".join(["hllspark", flavor, *map(str, args)])
    jvm = spark._jvm
    cls, in_enc = _AGGREGATORS[flavor]
    agg_obj = getattr(jvm.hllspark, cls)(*args)
    enc = getattr(jvm.org.apache.spark.sql.Encoders, in_enc)()
    udaf = jvm.org.apache.spark.sql.functions.udaf(agg_obj, enc)
    spark._jsparkSession.udf().register(name, udaf)
    return name


def register(spark: SparkSession, p: int) -> str:
    return _register(spark, "regs", p)


def regs_agg_column(spark: SparkSession, p: int, hash_col: str) -> Column:
    """Aggregate expression building the raw dense byte[2^p] register array
    from a bigint hash column."""
    return F.expr(f"{_register(spark, 'regs', p)}(`{hash_col}`)")


def est_agg_column(spark: SparkSession, p: int, hash_col: str) -> Column:
    """Aggregate expression producing the distinct-count estimate (double)
    from a bigint hash column — no Python stage anywhere in the plan."""
    return F.expr(f"{_register(spark, 'est', p)}(`{hash_col}`)")


def merge_est_agg_column(spark: SparkSession, p: int, regs_col: str) -> Column:
    """Aggregate expression merging raw dense byte[2^p] register arrays
    (register-wise max) and producing the distinct-count estimate (double).
    The re-aggregation plan: fine registers -> coarser grains with no
    Python stage (reference merge HyperLogLog.hpp:124-131)."""
    return F.expr(f"{_register(spark, 'merge_est', p)}(`{regs_col}`)")


def sketch_partials(df: DataFrame, p: int, sketch_col: str) -> DataFrame:
    """Per-task partial sketches of ``df`` (key columns, then a bigint
    hash column last): DataFrame[keys..., ``sketch_col`` binary],
    one hll sketch per (group, task), or more when the task's register
    map reaches its budget.  Merge them by key for the group's sketch.
    Lazy like any transformation: ``df`` is planned and run at the first
    action on the result."""
    _require(df.sparkSession)
    jdf = df.sparkSession._jvm.hllspark.HllSketchPartials.build(
        df._jdf, p, sketch_col
    )
    return DataFrame(jdf, df.sparkSession)


def normalize_keys(df: DataFrame, n_keys: int) -> DataFrame:
    """``df`` with its first ``n_keys`` columns float-normalized the way
    ``groupBy`` normalizes its keys (one NaN, 0.0 for -0.0, inside structs
    and arrays too), for a plan that groups by a hash exchange instead."""
    _require(df.sparkSession)
    jdf = df.sparkSession._jvm.hllspark.HllSketchStreamMerge.normalizeKeys(
        df._jdf, n_keys
    )
    return DataFrame(jdf, df.sparkSession)


def stream_merge(partials: DataFrame, algo: str, m_bits: int) -> DataFrame:
    """One ``algo`` sketch per key of ``partials`` (key columns, then a
    sketch column of any format last): exchanged by key, sorted, and each
    run of equal keys merged in the jar (HllSketchStreamMerge).  Lazy like
    sketch_partials."""
    _require(partials.sparkSession)
    jdf = partials.sparkSession._jvm.hllspark.HllSketchStreamMerge.build(
        partials._jdf, algo, m_bits
    )
    return DataFrame(jdf, partials.sparkSession)


def merge_agg_column(spark: SparkSession, sketch_col: str, algo: str,
                     m_bits: int) -> Column:
    """Aggregate expression merging serialized sketches of any format
    (register-wise max) into one ``algo`` ('hll' or 'hlll') sketch, with
    partial aggregation; NULL for a group with no sketch."""
    return F.expr(f"{_register(spark, 'merge', algo, m_bits)}(`{sketch_col}`)")


def estimate_column(spark: SparkSession, sketch_col: str) -> Column:
    """Scalar expression: serialized sketch of any format -> distinct-count
    estimate (double), NULL for a NULL sketch."""
    _require(spark)
    spark.udf.registerJavaFunction(
        _ESTIMATE_FN, "hllspark.HllSketchEstimate", DoubleType()
    )
    return F.expr(f"{_ESTIMATE_FN}(`{sketch_col}`)")
