"""Priority sampling sketch — Duffield, Lund & Thorup, JACM 54(6) 2007.

A mergeable, bounded-size weighted sample that supports UNBIASED
estimation of arbitrary subset sums: each item i with weight w_i > 0
gets priority q_i = w_i / u_i where u_i in (0, 1] is a hash-uniform of
the item's id; the sketch keeps the k items with the largest priorities
plus tau = the (k+1)-th largest priority seen in its scope.  For any
predicate P, the estimator

    S_hat(P) = sum over sampled i with P(i) of max(w_i, tau)

is exactly unbiased over the hash randomness (DLT 2007, Thm 1), so ONE
global k-item sample answers every "total weight of docs matching X"
question afterwards — a capability none of the count/frequency/quantile
sketches here have.

Why the state is exactly partition-invariant (and hence a clean oracle
target): priorities are DETERMINISTIC per id (md5-seeded uniform, the
same engine-portable recipe as sampling.weighted_sample), and the merge
rule "top-k of retained, tau = max(tau_a, tau_b, (k+1)-th retained
priority)" reconstructs the global top-k and the global (k+1)-th
priority no matter how items were partitioned: an item in the global
top-k is in its sub-sketch's top-k (at most k-1 items anywhere beat
it), and the global (k+1)-th item is either retained or was some
sub-sketch's (k+1)-th, i.e. its tau.  So sketch(all rows) ==
merge(sketch(any partitioning)) byte-for-byte, and the DuckDB oracle
can replicate both membership AND the estimator values with ORDER BY
priority DESC LIMIT k.

Items are assumed unique by id within the sketch's scope (a doc_id /
url appearing twice would be sampled as two copies); dedupe upstream.

Relation to the reference: the reference repo (mkarppa/hyperlogloglog)
has no sampling surface at all — this is part of the LLM-data-pipeline
extension family.  ``kind(k)`` is a sketches.generic kind over three
value columns (id, weight, u), so ``sample_agg`` is generic.sketch_agg:
a per-partition sorted-segment build and a grouped merge of serialized
states, under generic's key rules; the shuffle carries one k-item sketch
per (partition, key), never raw rows.
"""

from __future__ import annotations

import struct
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .generic import SketchKind, schema_ddl, sketch_agg

_MAGIC = b"PSK1"
_SEP = "\x1f"
_TWO52 = float(1 << 52)


# ---------------------------------------------------------------- state

def zero(k: int):
    """Empty state: (k, tau, ids, weights, us) — arrays sorted by
    priority descending (id ascending on ties)."""
    return (
        k,
        0.0,
        np.empty(0, dtype=object),
        np.empty(0, dtype=np.float64),
        np.empty(0, dtype=np.float64),
    )


def _top_k(k, tau, ids, weights, us):
    """Canonical form: keep the k largest priorities (ties broken by id
    ascending, so the draw is deterministic even under crafted ties) and
    fold the (k+1)-th priority into tau."""
    q = weights / us
    order = np.lexsort((ids, -q))
    if len(order) > k:
        tau = max(tau, float(q[order[k]]))
        order = order[:k]
    return (k, tau, ids[order], weights[order], us[order])


def update(state, ids, weights, us):
    """Fold one vectorized batch of (id, weight, u) rows into the state."""
    k, tau, sids, sw, su = state
    ids = np.asarray(ids, dtype=object)
    weights = np.asarray(weights, dtype=np.float64)
    us = np.asarray(us, dtype=np.float64)
    return _top_k(
        k,
        tau,
        np.concatenate([sids, ids]),
        np.concatenate([sw, weights]),
        np.concatenate([su, us]),
    )


def merge(a, b):
    ka, ta, ia, wa, ua = a
    kb, tb, ib, wb, ub = b
    if ka != kb:
        raise ValueError("priority-sample k mismatch")
    return _top_k(
        ka,
        max(ta, tb),
        np.concatenate([ia, ib]),
        np.concatenate([wa, wb]),
        np.concatenate([ua, ub]),
    )


def estimate_subset_sum(state, mask=None) -> float:
    """Unbiased estimate of sum(weight) over the items selected by
    ``mask`` (a boolean array over the sample, or None for the full
    scope): sum of max(w_i, tau) over the selected sampled items."""
    k, tau, _ids, weights, _us = state
    est = np.maximum(weights, tau)
    if mask is not None:
        est = est[np.asarray(mask, dtype=bool)]
    return float(est.sum())


def sample_items(state):
    """The retained sample as (ids, weights, est_weights) — est_weight =
    max(w, tau) is the per-item unbiased contribution (DLT 2007)."""
    _k, tau, ids, weights, _us = state
    return ids, weights, np.maximum(weights, tau)


def encode(state) -> bytes:
    k, tau, ids, weights, us = state
    blobs = [str(i).encode("utf-8") for i in ids]
    head = _MAGIC + struct.pack("<IId", k, len(blobs), tau)
    arr = weights.astype("<f8").tobytes() + us.astype("<f8").tobytes()
    idblob = b"".join(struct.pack("<I", len(b)) + b for b in blobs)
    return head + arr + idblob


def decode(buf: bytes):
    buf = bytes(buf)
    if buf[:4] != _MAGIC:
        raise ValueError("bad priority-sample header")
    k, n, tau = struct.unpack_from("<IId", buf, 4)
    off = 4 + 16
    weights = np.frombuffer(buf, dtype="<f8", count=n, offset=off).astype(
        np.float64
    )
    off += 8 * n
    us = np.frombuffer(buf, dtype="<f8", count=n, offset=off).astype(np.float64)
    off += 8 * n
    ids = np.empty(n, dtype=object)
    for i in range(n):
        (ln,) = struct.unpack_from("<I", buf, off)
        off += 4
        ids[i] = buf[off : off + ln].decode("utf-8")
        off += ln
    return (k, tau, ids, weights, us)


def kind(k: int) -> SketchKind:
    """The k-item priority sample over value columns (id, weight, u)."""
    return SketchKind(
        name=f"priority-{k}",
        zero=lambda: zero(k),
        update=update,
        merge=merge,
        encode=encode,
        decode=decode,
    )


# ---------------------------------------------------------- spark plans

def uniform_col(id_col: str, seed: int):
    """u in (0, 1] from md5(id, seed) — byte-for-byte the recipe of
    sampling.weighted_sample (first 13 md5 hex digits = 52 bits, exact
    in a double), so the draw reproduces on any MD5-agreeing engine."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    _SEP, F.col(id_col).cast("string"), F.lit(str(seed))
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    return (h + F.lit(1)) / F.lit(_TWO52)


def sample_agg(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    keys: Sequence[str] | None = None,
    seed: int = 0,
    sketch_col: str = "sketch",
) -> DataFrame:
    """DataFrame[keys..., sketch binary] — one merged priority sample
    per group: generic.sketch_agg over ``kind(k)``, fed by codegen
    expressions (the u column and the weight filter); a partial keeps k
    items and tau per (partition, key).  Rows with null or non-positive
    weight are excluded (they can never be drawn and would poison
    q = w / u)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys or [])
    projected = (
        df.where(
            F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
            & F.col(id_col).isNotNull()
        )
        .select(
            *keys,
            F.col(id_col).cast("string").alias("__psid"),
            F.col(weight_col).cast("double").alias("__psw"),
            uniform_col(id_col, seed).alias("__psu"),
        )
    )
    return sketch_agg(projected, ["__psid", "__psw", "__psu"], kind(k), keys, sketch_col)


def sample_table(
    sketch_df: DataFrame,
    keys: Sequence[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Explode sketches back into rows: DataFrame[keys..., id string,
    weight double, est_weight double].  ``est_weight = max(w, tau)`` is
    the item's unbiased contribution, so any downstream subset-sum
    estimate is plain SQL: filter (optionally after a broadcast join of
    the tiny sample back to its attributes) then SUM(est_weight)."""
    keys = list(keys or [])
    out_schema = schema_ddl(
        sketch_df, keys, "id string", "weight double", "est_weight double"
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                st = decode(bytes(getattr(row, sketch_col)))
                ids, weights, est = sample_items(st)
                out = pd.DataFrame(
                    {
                        "id": ids.astype(str),
                        "weight": weights,
                        "est_weight": est,
                    }
                )
                for kcol in keys:
                    out.insert(0, kcol, getattr(row, kcol))
                yield out[keys + ["id", "weight", "est_weight"]]

    return sketch_df.mapInPandas(expand, schema=out_schema)
