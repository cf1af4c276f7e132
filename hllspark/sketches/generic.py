"""The one Python two-phase plan for any mergeable sketch.

A sketch kind plugs in its callables and gets the distributed
aggregation — the same treeAggregate shape as the reference's merge
(HyperLogLog.hpp:124-131): a per-partition build via mapInPandas
(``partials``), then a grouped-agg merge of serialized states
(``merge_udf``); the shuffle carries one sketch row per (partition,
key), never raw rows.  ``sketch_agg`` is the two applied in turn.

    SketchKind(
        zero        = lambda: state,
        update      = lambda state, *values(np) -> state,
        merge       = lambda s1, s2 -> state,
        encode      = lambda state -> bytes,
        decode      = lambda bytes -> state,
    )

``update`` takes one numpy array per value column (priority sampling
folds three: id, weight, uniform).  Every Python-built sketch in the
library runs this plan: the generic kinds, priority.sample_agg, the HLL
kind of agg.sketch_by(impl='pandas') and the SQL ``*_build_agg`` /
``*_merge_agg`` functions of hllspark.sqlfuncs.

Key rules (``partials``), the same for every kind:

- rows with a NULL value are dropped in the JVM, before Arrow, so an
  integer column reaches pandas as integers, never as float64;
- floats in keys, at any depth, cross pandas as exact strings and are
  cast back after the build: a pandas float holds NaN and NULL alike, so
  NaN, NULL and 2.0 stay three groups, as under ``groupBy``;
- struct, array and map keys are grouped on as nested tuples
  (``_hashable``) and go back out as they came.

Each partition keeps one key index: a key -> slot dict, the first-seen
key rows (one ``iloc`` per batch) and one output concat.  Two folds feed
off the slot ids.  Kinds whose state is a FIXED-SHAPE numpy array (HLL
registers, CPC coupon rows, count-min tables, Bloom bit arrays) provide a
``GroupedState``: all slots of a partition live in one (G, ...) block and
every Arrow batch applies ONE ``np.*.at`` scatter across all its groups
(A/B in PLANS.md §12).  Variable-size kinds (KLL, t-digest, KMV,
Misra-Gries, priority samples) take the SORTED-SEGMENT fold: one stable
argsort of the batch's slot ids, then each slot's values as a contiguous
numpy slice — 17.7x over per-key batch masks at 100k keys with
byte-identical states (PLANS.md §23).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
)


@dataclass(frozen=True)
class GroupedState:
    """Vectorized multi-group state block for fixed-shape array kinds.

    zero_block(G) allocates the (G, ...) state block; update(block, slots,
    *values) scatters one Arrow batch into it (slots[i] = block row of
    row i); to_state(block[g]) converts one row back to the kind's
    single-sketch state for encode().  update must be order-insensitive
    per group (max / or / add scatters are), so results are byte-identical
    to the per-group fold."""

    zero_block: Callable[[int], np.ndarray]
    update: Callable[..., None]
    to_state: Callable[[np.ndarray], object]


@dataclass(frozen=True)
class SketchKind:
    name: str
    zero: Callable[[], object]
    update: Callable[..., object]
    merge: Callable[[object, object], object]
    encode: Callable[[object], bytes]
    decode: Callable[[bytes], object]
    grouped: GroupedState | None = None


def schema_ddl(df: DataFrame, cols: Sequence[str], *fields: str) -> str:
    """DDL of ``df``'s ``cols`` (in ``df``'s order), then ``fields``."""
    return ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name in cols] + list(fields)
    )


def _floats_as_text(dt):
    """``dt`` with every float and double in it, at any depth, a string."""
    if isinstance(dt, (FloatType, DoubleType)):
        return StringType()
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _floats_as_text(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_floats_as_text(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(_floats_as_text(dt.keyType), _floats_as_text(dt.valueType),
                       dt.valueContainsNull)
    return dt


def _hashable(v):
    """A nested key value (a struct's dict, an array's ndarray, a map's
    pair list) as nested tuples, which pandas can group on and a dict can
    hold."""
    if isinstance(v, dict):
        return tuple((k, _hashable(x)) for k, x in v.items())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    return v


def partials(
    df: DataFrame,
    value_cols: str | Sequence[str],
    kind: SketchKind,
    keys: Sequence[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """DataFrame[keys..., sketch binary]: one serialized partial state per
    (partition, key), under the module's key rules.  Lazy."""
    keys = list(keys or [])
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    types = {k: df.schema[k].dataType for k in keys}
    floats = {k: t for k, t in types.items() if _floats_as_text(t) != t}
    nested = [k for k, t in types.items() if isinstance(t, (StructType, ArrayType, MapType))]
    present = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in value_cols])
    projected = df.where(present).select(
        *[F.col(k).cast(_floats_as_text(floats[k])).alias(k) if k in floats else k
          for k in keys],
        *value_cols,
    )
    grouped = kind.grouped

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        slots: dict[tuple, int] = {}
        key_frames: list[pd.DataFrame] = []  # first-seen key rows, slot order
        states: list = []                     # the sorted-segment fold's
        block = grouped.zero_block(0) if grouped else None

        def slot_ids(pdf: pd.DataFrame) -> np.ndarray:
            if not keys:
                slots.setdefault((), 0)
                return np.zeros(len(pdf), dtype=np.int64)
            view = (pdf[keys].assign(**{k: pdf[k].map(_hashable) for k in nested})
                    if nested else pdf[keys])
            codes = view.groupby(keys, dropna=False, sort=False).ngroup().to_numpy()
            first = np.unique(codes, return_index=True)[1]
            gids, new = np.empty(len(first), dtype=np.int64), []
            for i, kt in enumerate(view.iloc[first].itertuples(index=False, name=None)):
                gid = slots.get(kt)
                if gid is None:
                    gid = slots[kt] = len(slots)
                    new.append(first[i])
                gids[i] = gid
            if new:
                key_frames.append(pdf[keys].iloc[new])
            return gids[codes]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sid = slot_ids(pdf)
            vals = [pdf[c].to_numpy() for c in value_cols]
            if grouped:
                if len(slots) > block.shape[0]:
                    grown = grouped.zero_block(max(2 * block.shape[0], len(slots)))
                    grown[: block.shape[0]] = block
                    block = grown
                grouped.update(block, sid, *vals)
                continue
            states.extend(kind.zero() for _ in range(len(slots) - len(states)))
            order = np.argsort(sid, kind="stable")
            ss, vals = sid[order], [v[order] for v in vals]
            seg = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
            for g, lo, hi in zip(ss[seg], seg, np.r_[seg[1:], len(ss)]):
                states[g] = kind.update(states[g], *[v[lo:hi] for v in vals])
        if not slots:
            return
        if grouped:
            states = [grouped.to_state(block[i]) for i in range(len(slots))]
        out = (pd.concat(key_frames, ignore_index=True) if keys
               else pd.DataFrame(index=range(1)))
        out[sketch_col] = [kind.encode(s) for s in states]
        yield out

    built = projected.mapInPandas(
        build, schema=schema_ddl(projected, keys, f"`{sketch_col}` binary")
    )
    if not floats:
        return built
    return built.select(
        *[F.col(k).cast(floats[k].simpleString()).alias(k) if k in floats else k
          for k in keys],
        sketch_col,
    )


def merge_udf(kind: SketchKind):
    """Pandas GROUPED_AGG UDF: ``kind.merge`` folded over a group's
    non-null serialized states, re-encoded; NULL when the group has
    none.  Only decode, merge and encode are used."""

    def _merge(s: pd.Series) -> bytes:
        states = [kind.decode(b) for b in s if b is not None]
        return kind.encode(reduce(kind.merge, states)) if states else None

    # (pd.Series) -> scalar type hints make Spark infer a GROUPED_AGG UDF
    return F.pandas_udf(_merge, BinaryType())


def sketch_agg(
    df: DataFrame,
    value_col: str | Sequence[str],
    kind: SketchKind,
    keys: Sequence[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """DataFrame[keys..., sketch binary] — one merged sketch per group:
    ``merge_udf`` over ``partials``.  With no keys the result is one row,
    the empty sketch over no input."""
    keys = list(keys or [])
    parts = partials(df, value_col, kind, keys, sketch_col)
    merged = merge_udf(kind)(F.col(sketch_col)).alias(sketch_col)
    if keys:
        return parts.groupBy(*keys).agg(merged)
    seed = df.sparkSession.createDataFrame(
        [(bytearray(kind.encode(kind.zero())),)], f"`{sketch_col}` binary"
    )
    return parts.unionByName(seed).agg(merged)


def query_udf(fn: Callable[[bytes], object], return_type: str):
    """Wrap a per-sketch query (bytes -> scalar) as a scalar pandas UDF."""

    def _q(s: pd.Series) -> pd.Series:
        return pd.Series([fn(bytes(b)) for b in s])

    return F.pandas_udf(_q, return_type)


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    probabilities: Sequence[float],
    keys: Sequence[str] | None = None,
    k: int = 200,
) -> DataFrame:
    """Grouped approximate quantiles via the KLL sketch (our own mergeable
    summary, same two-phase plan): DataFrame[keys..., prob double,
    quantile double].  Rank error ~ O(1/k); cross-checked against Spark's
    approx_percentile and DuckDB's exact quantiles in tests/queries."""
    from . import kll

    keys = list(keys or [])
    probs = [float(p) for p in probabilities]
    sketches = sketch_agg(df, value_col, kll.kind(k), keys=keys)
    # one array of quantiles per sketch, exploded in the plan: the keys
    # never cross pandas, where a NaN key would come back NULL
    quantiles = query_udf(
        lambda b: np.asarray(kll.decode(b).quantile(probs), dtype=float), "array<double>"
    )
    prob = F.array(*[F.lit(p) for p in probs])[F.col("__i")].cast("double")
    return sketches.select(
        *keys, F.posexplode(quantiles(F.col("sketch"))).alias("__i", "quantile")
    ).select(*keys, prob.alias("prob"), "quantile")
