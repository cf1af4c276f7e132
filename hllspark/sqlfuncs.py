"""SQL-callable sketch functions: the pure-``spark.sql`` API surface.

Everything else in the library is reachable through the DataFrame API
(hllspark.agg / hllspark.sketches.generic).  This module registers the
same sketch algebra as named SQL functions, so a SQL-only user — a BI
tool, a dbt model, an ad-hoc shell — can build, store, re-aggregate, and
query sketch columns without touching Python:

    register_sql_functions(spark, p=14)
    spark.sql('''
        CREATE OR REPLACE TEMP VIEW daily AS
        SELECT lang, to_date(warc_ts) AS day, hll_build_agg(url) AS sk
        FROM pages GROUP BY lang, to_date(warc_ts)
    ''')
    spark.sql('''
        SELECT lang, hll_estimate(hll_merge_agg(sk)) AS distinct_urls
        FROM daily GROUP BY lang                 -- re-aggregation, no raw data
    ''')

Execution shape: ``register_kind_sql`` registers any mergeable
SketchKind (count-min, count-sketch, KLL, ...) as ``<prefix>_build_agg``
and ``<prefix>_merge_agg``, plus the kind's scalar query functions from
(name, fn, return_type) triples; the HLL functions are that over
agg.hll_kind (farmhash parity hashing, as sketch_by(hash_mode=
'farmhash')).  The merge is the DataFrame plan's own fold
(generic.merge_udf): NULL sketches are skipped and a group with none
merges to NULL, as in agg.merge_sketches.  Both aggregates are pandas
GROUPED_AGG UDFs, which Spark runs only as a final aggregate — each
group's values are collected to ONE task before the UDF runs (unlike
generic.partials, which builds per-partition partials and shuffles only
sketch states).  That makes the SQL surface the right tool for moderate
group fan-in (the post-GROUP-BY re-merge of stored sketch columns — tiny
rows — is always safe); for the initial build over raw 10^12-row tables,
prefer agg.sketch_by / generic.sketch_agg.  Wire format is byte-identical
between both surfaces (hllspark.sketch encode/decode), so sketches built
by the DataFrame path re-aggregate in SQL and vice versa.

Planner caveat: Spark cannot place a pandas GROUPED_AGG UDF inside a
scalar subquery (`SELECT (SELECT hll_build_agg(x) FROM ...)` fails with
an internal UnevaluableAggregateFunc error as of Spark 4.1) — build the
one-row aggregates as CTEs and CROSS JOIN them instead; the tests show
the pattern.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from . import hll, sketch
from .agg import hll_kind
from .sketches.generic import SketchKind, merge_udf

__all__ = ["register_sql_functions", "register_kind_sql"]


def _coerce(vals: pd.Series) -> np.ndarray:
    """Arrow hands a Spark integer column WITH nulls to pandas as float64;
    after dropna(), cast back to int64 so the hash path (and therefore the
    sketch) is byte-identical to the DataFrame API's on the same values
    (which drops nulls before Arrow instead).  A UDF cannot see the Spark
    type, so genuine non-integral doubles are rejected with CAST guidance
    rather than silently truncated — float hashing is ambiguous across
    surfaces."""
    arr = vals.to_numpy()
    if arr.dtype.kind == "f":
        if np.all(arr == np.floor(arr)):
            return arr.astype(np.int64)
        raise ValueError(
            "sketch SQL functions take integer or string columns; CAST "
            "floating-point inputs to BIGINT or STRING explicitly"
        )
    return arr


def register_sql_functions(spark: SparkSession, p: int = 14) -> list[str]:
    """Register the HLL sketch algebra as SQL functions (returns the
    registered names).  ``p`` fixes the precision for hll_build_agg;
    merge/estimate/overlap functions take it from the sketch header, so
    they work on any stored sketch column regardless of build p."""
    names = register_kind_sql(
        spark, hll_kind(p, hash_mode="farmhash"), "hll",
        [("estimate", lambda M: float(hll.estimate(M)), "double")],
    )

    @pandas_udf("binary")
    def hll_union(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None and y is None:
                out.append(None)
            elif x is None:
                out.append(bytes(y))
            elif y is None:
                out.append(bytes(x))
            else:
                out.append(
                    sketch.encode(
                        hll.merge(sketch.decode(bytes(x)), sketch.decode(bytes(y)))
                    )
                )
        return pd.Series(out)

    @pandas_udf("double")
    def hll_intersect_est(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                hll.overlap_estimates(
                    sketch.decode(bytes(x)), sketch.decode(bytes(y))
                )["intersection"]
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    @pandas_udf("double")
    def hll_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                hll.overlap_estimates(
                    sketch.decode(bytes(x)), sketch.decode(bytes(y))
                )["jaccard"]
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    @pandas_udf("binary")
    def hlll_compress(sks: pd.Series) -> pd.Series:
        """Recode a stored dense-HLL sketch column to the HLLL wire form
        (offset array + exceptions) — the ~40%-smaller at-rest format."""
        return pd.Series(
            [
                sketch.convert(bytes(b), "hlll") if b is not None else None
                for b in sks
            ]
        )

    @pandas_udf("long")
    def hll_bitsize(sks: pd.Series) -> pd.Series:
        return pd.Series(
            [sketch.bit_size(bytes(b)) if b is not None else None for b in sks],
            dtype="int64",
        )

    fns = {
        "hll_union": hll_union,
        "hll_intersect_est": hll_intersect_est,
        "hll_jaccard": hll_jaccard,
        "hlll_compress": hlll_compress,
        "hll_bitsize": hll_bitsize,
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return names + list(fns)


def register_kind_sql(
    spark: SparkSession,
    kind: SketchKind,
    prefix: str,
    queries: Sequence[tuple[str, Callable[[object], object], str]] = (),
) -> list[str]:
    """Register ``<prefix>_build_agg(value)`` and ``<prefix>_merge_agg
    (sketch)`` for any mergeable SketchKind (the merge is NULL for a group
    with no sketch), plus scalar per-sketch query functions from (suffix,
    state -> value, sql_return_type) triples, e.g. for count-sketch F2:

        register_kind_sql(spark, countsketch.kind(2053, 5), "cs",
                          [("f2", countsketch.f2_estimate, "double")])
        spark.sql("SELECT g, cs_f2(cs_merge_agg(sk)) FROM t GROUP BY g")
    """

    @pandas_udf("binary")
    def build_agg(v: pd.Series) -> bytes:
        state = kind.update(kind.zero(), _coerce(v.dropna()))
        return kind.encode(state)

    names = {f"{prefix}_build_agg": build_agg, f"{prefix}_merge_agg": merge_udf(kind)}
    for suffix, fn, rtype in queries:

        def _mk(fn=fn, rtype=rtype):
            @pandas_udf(rtype)
            def q(sks: pd.Series) -> pd.Series:
                return pd.Series(
                    [fn(kind.decode(bytes(b))) if b is not None else None for b in sks]
                )

            return q

        names[f"{prefix}_{suffix}"] = _mk()
    for name, fn in names.items():
        spark.udf.register(name, fn)
    return list(names)
