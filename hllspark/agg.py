"""Spark-side sketch aggregation — the engine's core query operators.

Three physical implementations of the same logical aggregate, chosen by
``impl`` (all three produce byte-identical sketches for the same
(hash_mode, p); default resolution: 'jvm' when hllspark/jars/
hllspark-jvm.jar is on the session classpath, else 'sql'; farmhash parity
always routes to 'pandas'):

impl='jvm' — dense byte[m] register buffers in the JVM (java/src/hllspark
via hllspark.jvmagg): per input row just hash + two shifts + clz + array
max — the same imperative-buffer strategy as Spark's built-in
approx_count_distinct, and measured at ~1x its throughput (vs ~3x slower
for impl='sql').  approx_distinct (and its grouping-sets and multi-column
forms) runs it as an ObjectHashAggregate finishing to the estimate
(HllEstimateAggregator).  sketch_by, and rolling_distinct through it, run
it map-side instead, because that aggregate holds only
spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128) groups per
task and then sorts every remaining row of the task: HllSketchPartials
(mapPartitions) keeps a register map
per task over Spark's internal rows (UnsafeRow keys), charging each group
its register, key and entry bytes against that threshold x 2^18 B, and
emits one hll partial per (group, task) and flush.  Keyed partials are
then exchanged by key, sorted, and merged one group at a time
(HllSketchStreamMerge: adjacent equal keys fold into one register
buffer, encoded once), so neither step is an ObjectHashAggregate and
neither has a fallback cliff; the keys are float-normalized before the
partial step, as groupBy normalizes them.  Key-less partials (one group)
merge with HllSketchMergeAggregator.  Same plan shape as impl='pandas'
below, with no Python for 'hll' and 'hlll'; an 'hllzstd' target merges the
hll partials with the pandas UDF (only pyarrow's zstd reproduces its
frames).

impl='sql' — everything hot stays in the JVM / whole-stage codegen:

    scan (column-pruned) -> [JVM] j = top-p bits of xxhash64(v),
                                  w = sign-flipped (hash << p)
      -> groupBy(keys, j).agg(min(w))   # native HashAggregate: Catalyst does
                                        # map-side partial aggregation, so the
                                        # shuffle carries <= m rows per key per
                                        # map task regardless of input size
      -> r = clz(w) + 1 (bit-smear + bit_count, pure integer exprs — no UDF)
      -> groupBy(keys).applyInArrow(assemble)   # <= m tiny (j, r) rows per
                                        # group -> one serialized sketch row

    Measured ~66M rows/s on local[32] vs ~3M rows/s for the Arrow/pandas
    path — Python never touches row-scale data.

    Kept beside 'jvm' for two reasons: it is the ONLY plan on a session
    without the jar (e.g. spark-submit without ``--jars``:
    conf.apply_cluster_defaults does not ship it), and it is the reference
    the jvm plan is checked against (perfbench ``sketch_build`` and the
    pytest parity tests).

impl='pandas' — the library's one Python two-phase plan
(sketches.generic.partials) over ``hll_kind``: one np.maximum.at
register scatter per Arrow batch, one sketch row per (partition, key),
under generic's key rules (NaN, NULL and struct keys group as under
groupBy).  agg still picks the merge: the stream merge on a jar session,
else the kind's GROUPED_AGG fold (generic.merge_udf).  Required for
hash_mode='farmhash' (reference parity — the hash itself runs in numpy).
At high key cardinality it holds #keys x 2^p register bytes per task; the
jvm plan bounds that memory instead and flushes extra partials, so it
needs no rule of thumb on #keys.

All three implementations produce byte-identical sketches for the same
(hash_mode, p): they share the j/r derivation (hashing.jr_split twins the
SQL expression) and merging is an exact max.

Sketch tables (encode, merge, estimate): with the jar on the session, the
serialized-sketch operators run in the JVM too, through the HLSK codec in
java/src/hllspark/HllSketchCodec.java (byte-identical to hllspark.sketch).
sketch_by's keyed merges (both partial plans) use the stream merge;
its key-less merge, merge_sketches, rolling_distinct's window merge and
estimate_grouping_sets (sketch_rollup / sketch_cube) use
HllSketchMergeAggregator, which decodes any format into an m-byte buffer
and aggregates partially, since their inputs collapse map-side;
with_estimate and every estimate of sketch bytes is the HllSketchEstimate
function (_merge_column / _estimate_column choose).  The pandas UDFs over
the numpy codec still run on sessions without the jar, for 'hllzstd'
encodes (only pyarrow's zstd reproduces its frames byte for byte), and in
farmhash builds (whose hashing is numpy);
the numpy codec is also the parity reference the JVM one is tested
against.  Measured on sketch_rollup (4 vCPUs, interleaved pairs):
vs_builtin 2.24 -> 1.12 with the JVM codec (PLANS.md §55), then below 1.0
with the map-side partial build (§56) and lower again with the stream
merge (§57).

Hash modes:
    'xxhash64'  — production default: hashing in the JVM (codegen'd).
    'farmhash'  — reference-parity (mkarppa/hyperlogloglog Hash.hpp):
                  farmhash::Fingerprint for ints / Hash64 for strings,
                  j = fibonacciHash top bits, r = clz(x)+1 — byte-identical
                  register states to the reference C++.
    'prehashed' — the column already holds 64-bit hashes (the reference's
                  'jr' benchmark path, measure.hpp:49-67).

Skew: with impl='sql', map-side partial aggregation absorbs hot keys by
construction.  sketch_by's partial plans (jvm and pandas) emit about one
row per key and partition, so a hot key sends the stream merge one
reducer about #partitions rows, folded in one pass over a single register
buffer.
"""

from __future__ import annotations

from functools import reduce
from itertools import combinations
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    MapType,
    StructType,
)

from . import hll as _hll
from . import jvmagg
from . import sketch as _sketch
from .hashing import farmhash64, fingerprint64, jr_from_hash, jr_split
from .sketches import generic
from .sketches.generic import GroupedState, SketchKind

_HASH_COL = "__hllspark_hash"
_J_COL = "__hllspark_j"
_R_COL = "__hllspark_r"
_SKETCH_COL = "sketch"
_GLOBAL_KEY = "__hllspark_g"
_LONG_MIN = -(1 << 63)


# ---------------------------------------------------------------------------
# hashing projections
# ---------------------------------------------------------------------------

def _farmhash(values: np.ndarray) -> np.ndarray:
    """The reference's item hash (Hash.hpp:22-30): Fingerprint of an
    integer, Hash64 of anything else as a string.  The values carry no
    nulls (dropped before Arrow), so an integer column stays integral."""
    if values.dtype.kind in "iu":
        return fingerprint64(values.astype(np.int64).view(np.uint64))
    return farmhash64(pa.array(pd.Series(values).astype("string"), type=pa.string()))


def _hashed(df: DataFrame, value_col: str, hash_mode: str):
    """(null-filtered df, bigint hash column of value_col) for the JVM hash
    modes: Spark's xxhash64(NULL) is the seed hash, so nulls are dropped
    BEFORE hashing (COUNT DISTINCT semantics); 'prehashed' casts as is."""
    v = (
        F.xxhash64(F.col(value_col))
        if hash_mode == "xxhash64"
        else F.col(value_col).cast("long")
    )
    return df.where(F.col(value_col).isNotNull()), v


def _rank(w, p: int):
    """r = clz(w) + 1 via bit-smear + bit_count, with the w == 0 edge capped
    at 64 - p + 1 (jr_split's convention) — pure integer expressions."""
    x = w
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftrightunsigned(x, s))
    return F.when(w == 0, F.lit(64 - p + 1)).otherwise(F.lit(65) - F.bit_count(x))


def _jr_columns_sql(v, p: int):
    """The JVM twin of hashing.jr_split: (j, r) columns of bigint hash v,
    j = top p bits, r = clz(v << p) + 1 — fully codegen'd."""
    return F.shiftrightunsigned(v, 64 - p), _rank(F.shiftleft(v, p), p)


# ---------------------------------------------------------------------------
# HLL as a generic sketch kind (impl='pandas', the no-jar merge, sqlfuncs)
# ---------------------------------------------------------------------------

def hll_kind(p: int = 14, algo: str = "hll", m_bits: int = 3,
             hash_mode: str = "xxhash64") -> SketchKind:
    """HLL registers as a sketches.generic kind: the state is the uint8[2^p]
    register array, merged by register max (HyperLogLog.hpp:124-131).
    The value column holds the items themselves for hash_mode='farmhash'
    (hashed here as the reference does, j/r by jr_from_hash) and their
    64-bit hashes otherwise (j/r by jr_split, the sql plan's twin).
    States encode as ``algo``; decode reads every format, so a merge only
    needs ``algo`` and ``m_bits``."""
    if hash_mode == "farmhash":
        def jr(values):
            return jr_from_hash(_farmhash(values), p)
    else:
        def jr(values):
            return jr_split(values.astype(np.int64).view(np.uint64), p)

    def scatter(block, slots, values):
        j, r = jr(values)
        np.maximum.at(block, (slots, j), r)

    def update(regs, values):
        j, r = jr(np.asarray(values))
        np.maximum.at(regs, j, r)
        return regs

    return SketchKind(
        name=f"{algo}-p{p}",
        zero=lambda: _hll.empty(p),
        update=update,
        merge=_hll.merge,
        encode=lambda regs: _sketch.encode(regs, algo, m_bits),
        decode=_sketch.decode,
        grouped=GroupedState(
            zero_block=lambda g: np.zeros((g, 1 << p), dtype=np.uint8),
            update=scatter,
            to_state=lambda row: row,
        ),
    )


# ---------------------------------------------------------------------------
# shared: merge / estimate / size UDFs
# ---------------------------------------------------------------------------

@F.pandas_udf(DoubleType())
def estimate_udf(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: serialized sketch -> distinct-count estimate,
    batched; a NULL sketch estimates to NULL (NaN here, which the Arrow
    conversion turns into a null)."""
    present = s.notna().to_numpy()
    out = np.full(len(s), np.nan)
    if present.any():
        out[present] = _hll.estimate(np.stack([_sketch.decode(b) for b in s[present]]))
    return pd.Series(out)


def _jvm_merges(df: DataFrame, algo: str) -> bool:
    """True when the jar merges into ``algo`` on ``df``'s session: it is on
    the session and ``algo`` is 'hll' or 'hlll' (an 'hllzstd' target's
    zstd frames only pyarrow reproduces)."""
    return algo in ("hll", "hlll") and jvmagg.is_available(df.sparkSession)


def _merge_column(df: DataFrame, col: str, algo: str, m_bits: int):
    """Aggregate expression merging the serialized sketches of ``col`` into
    one ``algo`` sketch per group: the JVM HllSketchMergeAggregator (partial
    aggregation, no Python) where _jvm_merges, else the pandas GROUPED_AGG
    UDF."""
    if _jvm_merges(df, algo):
        return jvmagg.merge_agg_column(df.sparkSession, col, algo, m_bits)
    return generic.merge_udf(hll_kind(algo=algo, m_bits=m_bits))(F.col(col))


def _estimate_column(df: DataFrame, col: str):
    """Scalar expression: serialized sketch ``col`` -> distinct estimate, as
    the JVM HllSketchEstimate function when the jar is on ``df``'s
    session, else the pandas UDF."""
    if jvmagg.is_available(df.sparkSession):
        return jvmagg.estimate_column(df.sparkSession, col)
    return estimate_udf(F.col(col))


@F.pandas_udf(LongType())
def bit_size_udf(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: serialized sketch -> reference bit-size metric."""
    return pd.Series([_sketch.bit_size(b) for b in s], dtype="int64")


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------

def _validate(p: int, algo: str, hash_mode: str, impl: str) -> None:
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    if algo not in ("hll", "hlll", "hllzstd"):
        raise ValueError(f"unknown sketch algo {algo!r}")
    if hash_mode not in ("xxhash64", "farmhash", "prehashed"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    if impl not in ("sql", "pandas", "jvm"):
        raise ValueError(f"unknown impl {impl!r}")
    if impl in ("sql", "jvm") and hash_mode == "farmhash":
        raise ValueError("farmhash parity mode requires impl='pandas'")


def _resolve_impl(df: DataFrame, hash_mode: str, impl: str | None) -> str:
    """Default physical plan: farmhash parity forces pandas; otherwise the
    JVM register aggregate when its jar is on this session's classpath
    (byte-identical to 'sql', ~3x faster builds — see hllspark.jvmagg),
    falling back to the pure-SQL plan."""
    if impl is not None:
        return impl
    if hash_mode == "farmhash":
        return "pandas"
    return "jvm" if jvmagg.is_available(df.sparkSession) else "sql"


def _maxed_registers_sql(df, value_col, keys, p, hash_mode):
    """scan -> JVM (j, w) projection -> native groupBy(keys, j).min(w) ->
    r from w on the <= #keys * m surviving rows.

    clz is monotonically decreasing in the unsigned value, so
    max(r) == clz(min_unsigned(v << p)) + 1: aggregating min over the
    sign-flipped shifted hash moves the whole bit-smear + bit_count r
    computation OFF the per-row hot path (it runs once per register after
    the aggregate).  Catalyst runs the aggregate as partial+final
    HashAggregate (map-side combine), so the shuffle is bounded by
    #keys * m rows per map task; per input row only hash + shift + xor +
    map-probe remain (~27% faster global builds, byte-identical results).
    The w == 0 rank cap keeps the decode monotone non-increasing in the
    unsigned w, so min_unsigned(w) decodes to exactly max(r).
    """
    filtered, v = _hashed(df, value_col, hash_mode)
    j = F.shiftrightunsigned(v, 64 - p)
    w = F.shiftleft(v, p).bitwiseXOR(F.lit(_LONG_MIN))  # unsigned-order key
    projected = filtered.select(*keys, j.alias(_J_COL), w.alias("__w"))
    agged = projected.groupBy(*keys, _J_COL).agg(F.min("__w").alias("__w"))
    r = _rank(F.col("__w").bitwiseXOR(F.lit(_LONG_MIN)), p)
    return agged.select(*keys, _J_COL, r.alias(_R_COL))


def _estimate_expr(p: int):
    """The Flajolet'07 estimator (reference HyperLogLog.hpp:95-113) as a pure
    Spark SQL aggregate over maxed (j, r) register rows: registers absent
    from the group contribute 2^0 = 1 to the harmonic sum and count toward
    the zero-register total V.  Rows with r == 0 are treated as absent (only
    synthetic seed rows can carry r == 0)."""
    m = 1 << p
    present = F.col(_R_COL) > 0
    # coalesce: SUM over zero rows is NULL (empty global aggregate -> 0.0)
    cnt = F.coalesce(F.sum(F.when(present, 1).otherwise(0)), F.lit(0))
    z = F.coalesce(
        F.sum(F.when(present, F.pow(F.lit(0.5), F.col(_R_COL))).otherwise(0.0)),
        F.lit(0.0),
    )
    Z = z + (F.lit(float(m)) - cnt)
    E = F.lit(_hll.alpha(m) * m * m) / Z
    V = F.lit(m) - cnt
    small = (E <= F.lit(2.5 * m)) & (V > 0)
    large = E > F.lit(float((1 << 32) // 30))
    return (
        F.when(small, F.lit(float(m)) * F.log(F.lit(float(m)) / V))
        .when(large, F.lit(-(2.0**32)) * F.log(F.lit(1.0) - E / F.lit(2.0**32)))
        .otherwise(E)
    )


def _approx_distinct_sql(df, value_col, keys, p, hash_mode, estimate_col):
    """Estimate with ZERO Python in the plan: scan -> agg -> agg -> estimator
    expression.  Note: the harmonic sum is a float reduction, so the last
    ~1e-15 relative digits depend on partial-aggregation order; use the
    sketch path when byte-stable estimates are required."""
    maxed = _maxed_registers_sql(df, value_col, keys, p, hash_mode)
    est = _estimate_expr(p).alias(estimate_col)
    if not keys:
        return maxed.agg(est)  # agg with no groupBy: always exactly one row
    return maxed.groupBy(*keys).agg(est)


def _approx_distinct_jvm(df, value_col, keys, p, hash_mode, estimate_col):
    """scan -> JVM hash projection -> ObjectHashAggregate with a dense
    byte[m] register buffer finishing to the estimate (hllspark.jvmagg
    est_agg_column) -> one row per group.  Partial aggregation ships one
    m-byte buffer per (group, map task): the same shuffle shape as the
    reference's treeAggregate-style build and Spark's own HLL++ (no
    per-row (keys, j) map probe)."""
    filtered, v = _hashed(df, value_col, hash_mode)
    est = jvmagg.est_agg_column(df.sparkSession, p, _HASH_COL).alias(estimate_col)
    projected = filtered.select(*keys, v.alias(_HASH_COL))
    if keys:
        return projected.groupBy(*keys).agg(est)
    return projected.agg(est)  # empty input -> zero() buffer -> 0.0


def _assemble_sketches(df, maxed, keys, p, algo, m_bits):
    """groupBy(keys).applyInArrow over maxed (j, r) rows derived from
    ``df`` — at most m tiny rows per group reach Python regardless of input
    size.  Arrow, not pandas: the keys go back as they came, where pandas
    holds NaN and NULL alike and a NaN key would come back NULL."""
    out_schema = generic.schema_ddl(df, keys, f"{_SKETCH_COL} binary")
    group_cols = list(keys) if keys else [_GLOBAL_KEY]
    # Arrow checks nested nullability, and a DDL type is nullable all the
    # way down: the keys go in as the types they come back as
    maxed = maxed.select(
        *[F.col(k).cast(df.schema[k].dataType.simpleString()).alias(k) for k in keys],
        _J_COL, _R_COL,
    )
    if not keys:
        # seed one (j=0, r=0) row so the assembly group exists even on empty
        # input (r=0 never survives a real max: r >= 1 by construction)
        maxed = maxed.withColumn(_GLOBAL_KEY, F.lit(1)).unionByName(
            df.sparkSession.range(1).select(
                F.lit(1).alias(_GLOBAL_KEY),
                F.lit(0).cast("long").alias(_J_COL),
                F.lit(0).cast("integer").alias(_R_COL),
            )
        )

    def assemble(table: pa.Table) -> pa.Table:
        regs = np.zeros(1 << p, dtype=np.uint8)
        # maximum (not assignment): the global seed row may duplicate j=0
        np.maximum.at(
            regs,
            table.column(_J_COL).to_numpy().astype(np.int64),
            table.column(_R_COL).to_numpy().astype(np.uint8),
        )
        sketch = pa.array([_sketch.encode(regs, algo, m_bits)], pa.binary())
        return table.select(list(keys)).slice(0, 1).append_column(_SKETCH_COL, sketch)

    assembled = maxed.groupBy(*group_cols).applyInArrow(assemble, schema=out_schema)
    if not keys:
        return assembled.select(_SKETCH_COL)
    return assembled


def _sortable(dt) -> bool:
    """False for a map anywhere in ``dt``: groupBy takes map keys, a sort
    does not."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, StructType):
        return all(_sortable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _sortable(dt.elementType)
    return True


def _sketch_by_partials(df, value_col, keys, p, algo, m_bits, hash_mode, impl):
    """Per-task partial sketches, then one merge per group.  The partial
    step is the jar's HllSketchPartials for impl='jvm' (a register map per
    task, hll partials) and generic.partials over hll_kind for
    impl='pandas' (``algo`` partials).

    The merge is chosen here, on the partials: keyed partials on a jar
    session are exchanged by key, sorted and merged one group at a time in
    the jar (jvmagg.stream_merge), over keys float-normalized before the
    partial step as groupBy would; key-less partials (one group), and
    those the jar cannot merge (no jar, an 'hllzstd' target, map keys),
    are merged by an aggregate (_merge_column)."""
    stream = bool(keys) and _jvm_merges(df, algo) and all(
        _sortable(df.schema[k].dataType) for k in keys
    )
    if hash_mode == "farmhash":  # raw values go to Python
        projected, value = df.select(*keys, value_col), value_col
        if isinstance(df.schema[value_col].dataType, (FloatType, DoubleType)):
            projected = projected.where(~F.isnan(value_col))  # as no value
    else:
        filtered, v = _hashed(df, value_col, hash_mode)
        projected, value = filtered.select(*keys, v.alias(_HASH_COL)), _HASH_COL
    if stream:
        projected = jvmagg.normalize_keys(projected, len(keys))

    if impl == "jvm":
        partials = jvmagg.sketch_partials(projected, p, _SKETCH_COL)
    else:
        kind = hll_kind(p, algo, m_bits, hash_mode)
        partials = generic.partials(projected, value, kind, keys, _SKETCH_COL)
    if not keys:  # no input: one empty sketch
        empty = F.lit(bytearray(_sketch.encode(_hll.empty(p), algo, m_bits)))
        merged = merge_sketches(partials, [], _SKETCH_COL, algo, m_bits)
        return merged.select(F.coalesce(_SKETCH_COL, empty).alias(_SKETCH_COL))
    if stream:
        return jvmagg.stream_merge(partials, algo, m_bits)
    merged = _merge_column(df, _SKETCH_COL, algo, m_bits).alias(_SKETCH_COL)
    return partials.groupBy(*keys).agg(merged)


def sketch_by(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
) -> DataFrame:
    """Build one sketch of distinct ``value_col`` per group of ``keys``.

    Returns DataFrame[keys..., sketch binary].  Nulls in value_col are
    ignored (COUNT DISTINCT semantics); null group keys form a group.
    See module docstring for the three physical plans: every algo builds
    through the same plan of its impl ('sql' assembles; 'jvm' and 'pandas'
    build per-task partials, then merge them per group).
    """
    keys = list(keys or [])
    impl = _resolve_impl(df, hash_mode, impl)
    _validate(p, algo, hash_mode, impl)
    if impl == "sql":
        maxed = _maxed_registers_sql(df, value_col, keys, p, hash_mode)
        return _assemble_sketches(df, maxed, keys, p, algo, m_bits)
    return _sketch_by_partials(df, value_col, keys, p, algo, m_bits, hash_mode, impl)


def merge_sketches(
    df: DataFrame,
    keys: Sequence[str] | None = None,
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
) -> DataFrame:
    """Re-aggregate existing sketch rows to coarser grouping keys (sketch
    GROUP BY re-aggregation, e.g. per-day sketches -> per-month).

    Input sketches may be of any format and are re-encoded as ``algo``.
    NULL sketches are skipped; a group with none merges to NULL; sketches
    of different p raise.  With no ``keys`` the result is always one row,
    a NULL sketch over no input, on either plan of _merge_column."""
    keys = list(keys or [])
    merged = _merge_column(df, sketch_col, algo, m_bits).alias(sketch_col)
    if keys:
        return df.groupBy(*keys).agg(merged)
    if _jvm_merges(df, algo):
        return df.agg(merged)
    # the pandas GROUPED_AGG yields no row over no input where the jar's
    # aggregate yields a NULL one: left join the merge to one row
    one = df.sparkSession.range(1).toDF("__one")
    return one.join(df.agg(merged), how="left").drop("__one")


def sketch_from_jr(
    df: DataFrame,
    j_col: str = "j",
    r_col: str = "r",
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
) -> DataFrame:
    """Build sketches from pre-hashed (j, r) register-update pairs — the
    reference's `jr` datatype (measure.hpp:49-67; generated per
    inputgenerator.cpp:76-99), which benchmarks the data-structure layer
    with hashing factored out.  j must lie in [0, 2^p) and r in [0, 63];
    out-of-range or null pairs are dropped (the reference's PackedVector
    masks rather than checks — we filter so a corrupt pair cannot corrupt
    neighboring registers at assembly).
    Same bounded plan as the value path: native groupBy(keys, j).max(r)
    (map-side combine), then <= m rows per group assemble to sketch bytes.
    """
    keys = list(keys or [])
    _validate(p, algo, "prehashed", "sql")
    m = 1 << p
    in_range = (
        (F.col(j_col) >= 0)
        & (F.col(j_col) < m)
        & (F.col(r_col) >= 0)
        & (F.col(r_col) <= 63)
    )
    maxed = (
        df.where(F.col(j_col).isNotNull() & F.col(r_col).isNotNull() & in_range)
        .select(
            *keys,
            F.col(j_col).cast("long").alias(_J_COL),
            F.col(r_col).cast("integer").alias(_R_COL),
        )
        .groupBy(*keys, _J_COL)
        .agg(F.max(_R_COL).alias(_R_COL))
    )
    return _assemble_sketches(df, maxed, keys, p, algo, m_bits)


def _ordered_union(sets: Sequence[Sequence[str]]) -> list[str]:
    """Every key of ``sets``, once each, in first-seen order."""
    return list(dict.fromkeys(k for s in sets for k in s))


def _rollup_sets(keys: Sequence[str]) -> list[list[str]]:
    """ROLLUP grains: (k1..kn), (k1..kn-1), ..., ()."""
    keys = list(keys)
    return [keys[:i] for i in range(len(keys), -1, -1)]


def _cube_sets(keys: Sequence[str]) -> list[list[str]]:
    """CUBE grains: every subset of keys, largest first."""
    return [
        list(c) for r in range(len(keys), -1, -1) for c in combinations(keys, r)
    ]


def estimate_grouping_sets(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP / CUBE / GROUPING SETS over sketch columns: re-aggregate an
    already-built fine-grain sketch table (output of ``sketch_by``) to
    every requested grouping set WITHOUT rescanning the base data — the
    sketch monoid makes coarser grains a merge of the fine rows, so at
    10^12-row scale the base table is read exactly once no matter how many
    grains are asked for (reference analogue: one merge() per pair,
    HyperLogLogLog.hpp:192-283, lifted to a lattice of grains).

    Each set must be a subset of the fine-grain keys present in ``df``.
    Output: union of all grains; keys absent from a grain are NULL;
    ``grouping_set_id`` is the index into ``sets``.

    Physical plan (round 3 — replaces the one-job-per-grain union that cost
    3x the Python aggregate overhead): Catalyst's own ROLLUP strategy,
    Expand + single aggregate.  Each fine row is projected once per grain
    with the grain's absent keys masked to NULL, then ONE grouped merge over
    (grouping_set_id, keys...) and ONE estimate pass run for every grain
    together — one shuffle, one merge aggregate (the JVM one when the jar
    is present, with partial aggregation; else a pandas GROUPED_AGG), one
    job, however many grains are asked for.  Row amplification is
    len(sets) x the FINE table (one row per fine key combo — tiny by
    design), never the base data.

    The fine sketch table is persisted (lazy; skipped when the caller
    already persisted it) so the per-grain projections share one
    InMemoryRelation instead of each re-deriving it from the base scan.
    Cache lifetime: the CALLER owns it — unpersist after materializing, or
    call ``spark.catalog.clearCache()`` between batches.
    """
    from pyspark import StorageLevel

    if df.storageLevel == StorageLevel.NONE:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    all_keys = _ordered_union(sets)
    dtypes = dict(df.dtypes)
    parts = []
    for gid, s in enumerate(sets):
        cols = [
            (F.col(k) if k in s else F.lit(None))
            .cast(dtypes.get(k, "string"))
            .alias(k)
            for k in all_keys
        ]
        parts.append(
            df.select(
                F.lit(gid).alias("grouping_set_id"), *cols, F.col(sketch_col)
            )
        )
    expanded = reduce(DataFrame.unionByName, parts)
    merged = expanded.groupBy("grouping_set_id", *all_keys).agg(
        _merge_column(df, sketch_col, algo, m_bits).alias(sketch_col)
    )
    return merged.select(
        "grouping_set_id",
        *all_keys,
        _estimate_column(df, sketch_col).alias(estimate_col),
    )


def sketch_rollup(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP(k1, k2, ...) over sketch rows: (k1..kn), (k1..kn-1), ..., ()."""
    return estimate_grouping_sets(
        df, _rollup_sets(keys), sketch_col, algo, m_bits, estimate_col
    )


def approx_distinct_grouping_sets(
    df: DataFrame,
    value_col: str,
    sets: Sequence[Sequence[str]],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Distinct-count estimates for SEVERAL grouping sets in ONE base scan —
    the fused build+rollup query (same output schema as
    ``estimate_grouping_sets`` over a ``sketch_by`` table, for callers who
    want the estimates rather than the sketch rows themselves).

    impl='jvm' (default when the jar is available) runs with ZERO Python in
    the plan and exactly ONE base scan: Catalyst's native GROUPING SETS
    (Expand operator feeding a single partial+final ObjectHashAggregate of
    HllEstimateAggregator buffers).  The Expand amplifies rows #grains x
    BEFORE the partial aggregate, but the partial aggregate absorbs it
    map-side — the shuffle still carries at most (#grains x #fine-groups)
    m-byte buffers per map task, the same bounded shape as every other
    build here (reference merge/estimate: HyperLogLog.hpp:124-131/95-113).
    grouping_id() (NULL-mask bitmap over the grouping columns) is mapped
    back to the positional ``grouping_set_id`` so the output schema matches
    ``estimate_grouping_sets``, and genuine NULL key values cannot be
    confused with grain masking.  Other impls fall back to sketch_by +
    estimate_grouping_sets (one sketch merge stage, any algo); duplicate
    grouping sets also take that path (native GROUPING SETS computes a
    duplicated grain once)."""
    sets = [list(s) for s in sets]
    keys_union = _ordered_union(sets)
    impl = _resolve_impl(df, hash_mode, impl)
    n = len(keys_union)
    masks = [
        sum(1 << (n - 1 - i) for i, k in enumerate(keys_union) if k not in s)
        for s in sets
    ]
    if impl != "jvm" or len(set(masks)) != len(masks):
        sk = sketch_by(
            df, value_col, keys_union, p=p, hash_mode=hash_mode, impl=impl
        )
        return estimate_grouping_sets(sk, sets, estimate_col=estimate_col)
    _validate(p, "hll", hash_mode, impl)
    filtered, v = _hashed(df, value_col, hash_mode)
    projected = filtered.select(*keys_union, v.alias(_HASH_COL))
    est = jvmagg.est_agg_column(df.sparkSession, p, _HASH_COL).alias(
        estimate_col
    )
    grouped = projected.groupingSets(
        [[F.col(k) for k in s] for s in sets],
        *[F.col(k) for k in keys_union],
    )
    out = grouped.agg(F.grouping_id().alias("__gmask"), est)
    gid = F.lit(None).cast("int")
    for g, mask in enumerate(masks):
        gid = F.when(F.col("__gmask") == mask, g).otherwise(gid)
    return out.select(
        gid.alias("grouping_set_id"), *keys_union, F.col(estimate_col)
    )


def approx_distinct_rollup(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP(k1, ..., kn) distinct-count estimates from one base scan:
    grains (k1..kn), (k1..kn-1), ..., () — see approx_distinct_grouping_sets."""
    return approx_distinct_grouping_sets(
        df, value_col, _rollup_sets(keys), p, hash_mode, impl, estimate_col
    )


def approx_distinct_cube(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """CUBE(k1, ..., kn) distinct-count estimates from one base scan: every
    subset of keys — see approx_distinct_grouping_sets."""
    return approx_distinct_grouping_sets(
        df, value_col, _cube_sets(keys), p, hash_mode, impl, estimate_col
    )


def sketch_cube(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """CUBE(k1, k2, ...) over sketch rows: every subset of keys."""
    return estimate_grouping_sets(
        df, _cube_sets(keys), sketch_col, algo, m_bits, estimate_col
    )


def approx_distinct(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Convenience: build + estimate. DataFrame[keys..., estimate double].

    With the jvm impl (the default when the jar is on the classpath) the
    whole query is one ObjectHashAggregate finishing to the estimate in the
    JVM — the plan shape of approx_count_distinct; with impl='sql' hashing,
    register max and the Flajolet estimator run as native Spark SQL.
    Neither has a Python stage."""
    keys = list(keys or [])
    impl = _resolve_impl(df, hash_mode, impl)
    _validate(p, algo, hash_mode, impl)
    if impl == "jvm":
        return _approx_distinct_jvm(df, value_col, keys, p, hash_mode, estimate_col)
    if impl == "sql":
        return _approx_distinct_sql(df, value_col, keys, p, hash_mode, estimate_col)
    sk = sketch_by(df, value_col, keys, p=p, algo=algo, hash_mode=hash_mode, impl=impl)
    return sk.select(*keys, _estimate_column(df, _SKETCH_COL).alias(estimate_col))


def approx_distinct_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    keys: Sequence[str] | None = None,
    p: int = 14,
    estimate_prefix: str = "distinct_",
    impl: str | None = None,
) -> DataFrame:
    """Distinct-count estimates for SEVERAL columns in ONE scan of the
    input — at warehouse scale V separate approx_distinct calls cost V
    full passes.  Output: one row per key combination with a column per
    input column.

    impl='jvm' (default when available): V independent register aggregates
    run side by side in ONE HashAggregate over the scan — no row
    amplification at all; the shuffle carries V m-byte buffers per (group,
    map task).  impl='sql': projects all V hashes per row, posexplodes to
    (col_idx, w) (a V-fold row amplification before the partial aggregate
    — the price of staying fully declarative), and runs the same bounded
    min-aggregate, so the shuffle carries <= #keys * V * m rows per map
    task, then pivots JVM-side."""
    keys = list(keys or [])
    value_cols = list(value_cols)
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    if impl == "pandas":  # explicit ask for a plan that does not exist
        raise ValueError("approx_distinct_multi has no pandas impl")
    impl = _resolve_impl(df, "xxhash64", impl)
    _validate(p, "hll", "xxhash64", impl)
    if impl == "jvm":
        # null mask BEFORE hashing: Spark's xxhash64(NULL) yields the seed
        # hash (would count null as a value); a null hash is skipped by the
        # aggregator, and an all-null column keeps its zero() buffer whose
        # estimate is 0.0, matching the sql path's coalesce
        projected = df.select(
            *keys,
            *[
                F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))).alias(
                    f"__h{i}"
                )
                for i, c in enumerate(value_cols)
            ],
        )
        aggs = [
            jvmagg.est_agg_column(df.sparkSession, p, f"__h{i}").alias(
                f"{estimate_prefix}{c}"
            )
            for i, c in enumerate(value_cols)
        ]
        return (
            projected.groupBy(*keys).agg(*aggs) if keys else projected.agg(*aggs)
        )
    hashes = F.array(
        *[F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))) for c in value_cols]
    )
    exploded = df.select(*keys, F.posexplode(hashes).alias("__ci", "__v"))
    maxed = _maxed_registers_sql(exploded, "__v", [*keys, "__ci"], p, "prehashed")
    per_col = maxed.groupBy(*keys, "__ci").agg(_estimate_expr(p).alias("__est"))
    pivoted = (
        per_col.groupBy(*keys)
        .pivot("__ci", list(range(len(value_cols))))
        .agg(F.first("__est"))
    )
    # coalesce: a column that is entirely null within a key group has no
    # register rows, so its pivot cell is NULL — report 0.0 distinct values
    renames = [
        F.coalesce(F.col(str(i)), F.lit(0.0)).alias(f"{estimate_prefix}{c}")
        for i, c in enumerate(value_cols)
    ]
    return pivoted.select(*keys, *renames)


def with_estimate(df: DataFrame, sketch_col: str = _SKETCH_COL,
                  estimate_col: str = "distinct_estimate") -> DataFrame:
    """Adds the distinct-count estimate of every sketch (NULL for a NULL
    sketch)."""
    return df.withColumn(estimate_col, _estimate_column(df, sketch_col))


def rolling_distinct(
    df: DataFrame,
    value_col: str,
    time_col: str,
    window: int,
    keys: Sequence[str] | None = None,
    bucket: str = "day",
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Trailing-window distinct-count estimates over event time — the
    "7-day rolling distinct users per day" query — from ONE base scan.

    For every bucket present in the data (per ``keys`` group), estimates
    distinct ``value_col`` over the ``window`` buckets ending at it
    (inclusive; head buckets get partial windows, matching SQL
    ``BETWEEN end - (window-1) AND end`` semantics).  ``bucket`` is
    'day' or 'hour'; returns DataFrame[keys..., window_end, estimate].

    Plan (merge-reuse, not re-scan): one sketch_by build per (keys,
    bucket) grain, then each bucket's sketch is exploded to the <=
    ``window`` window-ends it contributes to and re-merged per end
    (reference merge semantics: HyperLogLog.hpp:124-131 — a window union
    is a register max, so the base table is scanned once no matter how
    many windows overlap).  The re-merge shuffle carries at most #groups x
    #buckets x window sketches with map-side partial merging; ends that
    exist in the data are taken from the built grain itself (broadcast
    semi-join), so no second base scan.  The re-merge and the estimate
    are _merge_column / _estimate_column: on a jar session the whole
    pipeline (partials, stream merge, merge aggregate, estimate) has no
    Python stage."""
    keys = list(keys or [])
    if window < 1:
        raise ValueError("window must be >= 1")
    if bucket == "day":
        bexpr = F.to_date(F.col(time_col))
        seq = F.expr(
            f"sequence(__bucket, date_add(__bucket, {window - 1}))"
        )
    elif bucket == "hour":
        bexpr = F.date_trunc("hour", F.col(time_col))
        seq = F.expr(
            f"sequence(__bucket, __bucket + make_interval(0,0,0,0,{window - 1}),"
            f" interval 1 hour)"
        )
    else:
        raise ValueError(f"unknown bucket {bucket!r} (use 'day' or 'hour')")
    built = sketch_by(
        df.withColumn("__bucket", bexpr), value_col, [*keys, "__bucket"],
        p=p, hash_mode=hash_mode, impl=impl,
    ).withColumnRenamed(_SKETCH_COL, "__sketch")
    # The window-end list is derived from the built grain itself, which
    # Spark executes as a separate job to plan the broadcast; persist the
    # (tiny: #groups x #buckets sketch rows) built table so the base scan
    # runs once and the broadcast job reads the cached result (Spark's
    # ContextCleaner evicts the block once the plan is unreachable).
    built = built.persist()
    ends = built.select(F.col("__bucket").alias("window_end")).distinct()
    contrib = built.withColumn("window_end", F.explode(seq)).drop("__bucket")
    covered = contrib.join(F.broadcast(ends), "window_end", "leftsemi")
    out = covered.groupBy(*keys, "window_end").agg(
        _merge_column(df, "__sketch", "hll", 3).alias("__sketch")
    ).withColumn(estimate_col, _estimate_column(df, "__sketch")).drop("__sketch")
    return out.orderBy(*keys, "window_end")


def overlap_udf():
    """Set-operation estimates from two sketch columns (Arrow-batched):
    union native via register max; intersection by inclusion-exclusion
    (error caveat in hll.overlap_estimates).  Factory: struct return types
    need an active session to parse, so the UDF is built lazily."""

    @F.pandas_udf(
        "struct<a:double,b:double,union:double,intersection:double,jaccard:double>"
    )
    def _overlap(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        rows = [
            _hll.overlap_estimates(_sketch.decode(x), _sketch.decode(y))
            for x, y in zip(a, b)
        ]
        return pd.DataFrame(rows)

    return _overlap


def with_overlap(
    df: DataFrame,
    sketch_a: str,
    sketch_b: str,
    out_col: str = "overlap",
) -> DataFrame:
    """Adds a struct column {a, b, union, intersection, jaccard} estimated
    from two sketch columns — e.g. join per-day sketch tables on a key and
    estimate day-over-day distinct-user overlap without touching raw data."""
    return df.withColumn(out_col, overlap_udf()(F.col(sketch_a), F.col(sketch_b)))
