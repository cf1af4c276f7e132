"""Structured Streaming sketch maintenance.

The reference's sketches are commutative monoids (add/merge,
HyperLogLog.hpp:41-49,124-131), so they stream trivially; the reference
itself has no streaming runtime (SURVEY.md §2.5) — this module is the
Spark-native extension of the same algebra to unbounded input.

Three shapes, most-native first:

1. ``register_stream`` — the impl='sql' register aggregate
   (groupBy(keys, j).max(r)) applied to a streaming DataFrame.  This is a
   single native stateful aggregation: Spark keeps <= keys x m tiny (j, r)
   rows in its state store, updates are map-side-combined per micro-batch,
   and no Python runs at all.  Works in update/complete output mode.

2. ``sketch_stream`` — per-key serialized sketch + running estimate via
   ``applyInPandasWithState``: state = one binary register blob per key,
   update = vectorized scatter-max over the micro-batch (np.maximum.at),
   exactly the batch build's inner loop.  Emits (keys..., sketch,
   distinct_estimate) every trigger in update mode.  Use when the sketch
   bytes themselves must flow downstream (checkpointing, re-merge).

3. ``windowed_register_stream`` — event-time windows + watermark over the
   native register aggregate: groupBy(window(ts), keys, j).max(r).  In
   append mode a window's register rows are emitted once, when the
   watermark closes it; feed them to ``assemble_window_sketches`` inside a
   ``foreachBatch`` sink to get one finalized sketch row per closed window
   (chained streaming aggregations are not supported, so the second-level
   assembly runs in batch-land per micro-batch — exactly once per window).

``snapshot_sink`` wires any sketch stream into io.SnapshotWriter: each
micro-batch commits as one lineage-tracked unit, so a killed stream resumes
from the last committed snapshot (north_rule checkpoint semantics) on top
of Spark's own offset checkpointing.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from . import hll as _hll
from . import sketch as _sketch
from .agg import _hashed, _jr_columns_sql
from .sketches.generic import schema_ddl
from .hashing import jr_split

_HASH_COL = "__hllspark_hash"
_J_COL = "__hllspark_j"
_R_COL = "__hllspark_r"
_SKETCH_COL = "sketch"
_GLOBAL_KEY = "__hllspark_g"


def _hash_projection(sdf: DataFrame, value_col: str, keys: Sequence[str],
                     extra: Sequence[str] = ()) -> DataFrame:
    """JVM-side xxhash64 projection (column-pruned; no Python)."""
    filtered, v = _hashed(sdf, value_col, "xxhash64")
    return filtered.select(*keys, *extra, v.alias(_HASH_COL))


def register_stream(
    sdf: DataFrame, value_col: str, keys: Sequence[str] | None = None, p: int = 14
) -> DataFrame:
    """Streaming maxed-register rows: one native stateful aggregation.

    Returns a streaming DataFrame[keys..., j, r] for update/complete sinks.
    State size is bounded by #keys * m rows independent of input volume.
    """
    keys = list(keys or [])
    projected = _hash_projection(sdf, value_col, keys)
    j, r = _jr_columns_sql(F.col(_HASH_COL), p)
    jr = projected.select(*keys, j.alias(_J_COL), r.alias(_R_COL))
    return jr.groupBy(*keys, _J_COL).agg(F.max(_R_COL).alias(_R_COL))


def sketch_stream(
    sdf: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key incremental sketch via applyInPandasWithState.

    State: one serialized register blob per key (6m bits HLL / compressed
    HLLL).  Each trigger emits (keys..., sketch binary, distinct_estimate
    double) for keys touched by the micro-batch (update mode).

    ``idle_ttl_ms`` bounds TOTAL state for unbounded key domains: a key
    whose state sees no update for the TTL is evicted (processing-time
    timeout) — the standard trade for "distinct per session/entity"
    streams where the active key set is bounded but the lifetime key set
    is not.  An evicted key that reappears starts a fresh sketch, so
    long-horizon totals should flow through snapshot_sink re-merge rather
    than rely on eternal state.  Default None keeps state forever
    (exact monoid semantics).
    """
    keys = list(keys or [])
    group_cols = keys if keys else [_GLOBAL_KEY]
    projected = _hash_projection(sdf, value_col, keys)
    if not keys:
        projected = projected.withColumn(_GLOBAL_KEY, F.lit(1))

    key_fields = [
        f for f in projected.schema.fields if f.name in group_cols
    ] if keys else []
    out_schema = StructType(
        key_fields
        + [
            StructField(_SKETCH_COL, BinaryType()),
            StructField("distinct_estimate", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("regs", BinaryType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if idle_ttl_ms and state.hasTimedOut:
            state.remove()  # evict idle key; emit nothing
            return
        if state.exists:
            regs = _sketch.decode(bytes(state.get[0]))
        else:
            regs = _hll.empty(p)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            hashes = pdf[_HASH_COL].to_numpy().astype(np.int64).view(np.uint64)
            jj, rr = jr_split(hashes, p)
            np.maximum.at(regs, jj, rr)
        # state carries the cheap dense form; the emitted column carries the
        # requested serialization (HLLL compression at the boundary, §7)
        state.update((bytearray(_sketch.encode_hll(regs)),))
        if idle_ttl_ms:
            state.setTimeoutDuration(idle_ttl_ms)
        blob = _sketch.encode(regs, algo, m_bits)
        row = {f.name: [v] for f, v in zip(key_fields, key)} if keys else {}
        row[_SKETCH_COL] = [blob]
        row["distinct_estimate"] = [float(_hll.estimate(regs))]
        yield pd.DataFrame(row)

    return projected.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_ttl_ms
            else GroupStateTimeout.NoTimeout
        ),
    )


def windowed_register_stream(
    sdf: DataFrame,
    value_col: str,
    ts_col: str,
    window_duration: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Event-time windowed register rows with watermark-gated finalization.

    Returns streaming DataFrame[window struct, keys..., j, r] at per-j
    granularity (groupBy(window, keys, j).max(r)); in append mode each
    window's rows appear exactly once, after the watermark passes
    window.end (late rows beyond the delay are dropped by Spark).  Feed
    to assemble_window_sketches in a foreachBatch sink.
    """
    keys = list(keys or [])
    projected = _hash_projection(
        sdf.withWatermark(ts_col, watermark_delay), value_col, keys, extra=[ts_col]
    )
    j, r = _jr_columns_sql(F.col(_HASH_COL), p)
    jr = projected.select(
        F.window(ts_col, window_duration).alias("window"),
        *keys,
        j.alias(_J_COL),
        r.alias(_R_COL),
    )
    return jr.groupBy("window", *keys, _J_COL).agg(F.max(_R_COL).alias(_R_COL))


def assemble_window_sketches(
    batch_df: DataFrame,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
) -> DataFrame:
    """Batch-side finalizer for windowed_register_stream output (run
    inside foreachBatch): register rows -> one sketch + estimate per
    (window, keys) group."""
    keys = list(keys or [])
    group_cols = ["window"] + keys
    key_schema = schema_ddl(batch_df, keys)
    out_schema = (
        "window struct<start:timestamp,end:timestamp>"
        + (", " + key_schema if key_schema else "")
        + f", {_SKETCH_COL} binary, distinct_estimate double"
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        regs = np.zeros(1 << p, dtype=np.uint8)
        np.maximum.at(
            regs,
            pdf[_J_COL].to_numpy().astype(np.int64),
            pdf[_R_COL].to_numpy().astype(np.uint8),
        )
        out = pdf.iloc[:1][group_cols].copy()
        out[_SKETCH_COL] = [_sketch.encode(regs, algo, m_bits)]
        out["distinct_estimate"] = [float(_hll.estimate(regs))]
        return out

    return batch_df.groupBy(*group_cols).applyInPandas(assemble, schema=out_schema)


def snapshot_sink(writer, lineage_extra: dict | None = None):
    """foreachBatch function committing each micro-batch of sketch rows as
    one SnapshotWriter unit (unit id = batch id) with lineage metadata —
    resumable sketch checkpointing on top of Spark's offset log."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        unit = f"batch-{batch_id:08d}"
        if unit in writer.committed_units():  # replayed batch after restart
            return
        lineage = {"batch_id": batch_id, **(lineage_extra or {})}
        writer.write_unit(batch_df, unit, lineage=lineage)

    return sink


def generic_sketch_stream(
    sdf: DataFrame,
    value_col: str,
    kind,
    keys: Sequence[str] | None = None,
) -> DataFrame:
    """Per-key incremental sketch for ANY mergeable SketchKind
    (sketches.generic) — CPC, KMV, count-min, Bloom, KLL, t-digest,
    Misra-Gries — via applyInPandasWithState: state = one encoded sketch
    blob per key (byte-bounded by each kind's construction), update = the
    kind's vectorized batch fold.  Emits (keys..., sketch binary) for keys
    touched by each micro-batch (update mode).  For order-invariant kinds
    (CPC's OR-matrix, KMV's k-minima) the final state is byte-identical to
    the batch build; order-sensitive summaries (KLL, t-digest) agree
    within their published error instead (pytest-gated both ways)."""
    keys = list(keys or [])
    group_cols = keys if keys else [_GLOBAL_KEY]
    projected = sdf.where(F.col(value_col).isNotNull()).select(*keys, value_col)
    if not keys:
        projected = projected.withColumn(_GLOBAL_KEY, F.lit(1))
    key_fields = (
        [f for f in projected.schema.fields if f.name in group_cols]
        if keys
        else []
    )
    out_schema = StructType(key_fields + [StructField(_SKETCH_COL, BinaryType())])
    state_schema = StructType([StructField("blob", BinaryType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        st = kind.decode(bytes(state.get[0])) if state.exists else kind.zero()
        for pdf in pdfs:
            if len(pdf):
                st = kind.update(st, pdf[value_col])
        blob = kind.encode(st)
        state.update((bytearray(blob),))
        row = {f.name: [v] for f, v in zip(key_fields, key)} if keys else {}
        row[_SKETCH_COL] = [blob]
        yield pd.DataFrame(row)

    return projected.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_generic_stream(
    sdf: DataFrame,
    value_col: str,
    ts_col: str,
    window_duration: str,
    kind,
    keys: Sequence[str] | None = None,
    watermark_delay: str = "0 seconds",
    emit: str = "update",
) -> DataFrame:
    """Event-time windowed per-(window, keys) sketches for ANY mergeable
    SketchKind — the windowed counterpart of ``generic_sketch_stream``,
    matching ``windowed_register_stream``'s semantics for kinds that have
    no per-register SQL decomposition (CPC, count-min, Bloom, KLL,
    t-digest, Misra-Gries, KMV).

    State: one encoded sketch blob per (window, keys...) group, via
    ``applyInPandasWithState``.  The watermark on ``ts_col`` makes Spark
    drop rows later than ``watermark_delay`` BEFORE the stateful operator
    (pytest-verified), so closed windows are never reopened.

    emit='update' (default): every trigger emits the RUNNING
    (window, keys..., sketch) for groups touched by the micro-batch;
    state for a window is evicted once the watermark passes window.end
    (event-time timeout) so total state is bounded by the windows still
    inside the watermark horizon, not stream lifetime.
    emit='final': nothing is emitted while a window is open; when the
    watermark closes it, its sketch row is emitted exactly once and the
    state dropped — append-mode semantics for downstream sinks that must
    see each window once (pair with ``snapshot_sink``).
    """
    if emit not in ("update", "final"):
        raise ValueError(f"emit must be 'update' or 'final', got {emit!r}")
    keys = list(keys or [])
    wm = sdf.withWatermark(ts_col, watermark_delay)
    projected = wm.where(F.col(value_col).isNotNull()).select(
        F.window(ts_col, window_duration).alias("window"), *keys, value_col
    )
    group_cols = ["window"] + keys
    win_field = next(f for f in projected.schema.fields if f.name == "window")
    key_fields = [f for f in projected.schema.fields if f.name in keys]
    out_schema = StructType(
        [win_field] + key_fields + [StructField(_SKETCH_COL, BinaryType())]
    )
    state_schema = StructType([StructField("blob", BinaryType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        def row(blob):
            out = {"window": [key[0]]}
            for f, v in zip(key_fields, key[1:]):
                out[f.name] = [v]
            out[_SKETCH_COL] = [blob]
            return pd.DataFrame(out)

        if state.hasTimedOut:  # watermark passed window.end
            blob = bytes(state.get[0])
            state.remove()
            if emit == "final":
                yield row(blob)
            return
        st = kind.decode(bytes(state.get[0])) if state.exists else kind.zero()
        for pdf in pdfs:
            if len(pdf):
                st = kind.update(st, pdf[value_col])
        blob = kind.encode(st)
        state.update((bytearray(blob),))
        # evict (and for emit='final', emit) when the event-time watermark
        # passes the window end; key[0] is the window struct row
        end_ms = int(key[0]["end"].timestamp() * 1000)
        try:
            state.setTimeoutTimestamp(end_ms)
        except Exception:
            # window already at/behind the current watermark (availableNow
            # catch-up): fire on the next trigger instead
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if emit == "update":
            yield row(blob)

    return projected.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update" if emit == "update" else "append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# streaming deduplication (training-pipeline operator)
# ---------------------------------------------------------------------------

def session_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    gap_sec: float,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming gap-based sessionization — Spark's native
    ``session_window`` (merging event-time windows, state bounded by the
    watermark) so sessions FINALIZE incrementally: in append mode each
    (key, session) row is emitted exactly once, when the watermark passes
    session end + gap.

    Semantics match the batch :func:`hllspark.sessions.sessionize` split
    rule (events whose spacing is <= gap_sec share a session) — pinned by
    ``test_session_stream_matches_batch``; the batch op reports a per-key
    ordinal while this reports the session's event-time extent.
    ``duration_us`` is last-minus-first event time (the session_window
    end includes the trailing gap; it is subtracted back out).

    Scale: state per in-flight session only (merged eagerly), sharded by
    key across executors; late rows beyond ``watermark_delay`` dropped.
    Returns DataFrame[key, session struct<start,end>, n_events,
    duration_us]."""
    if gap_sec <= 0:
        raise ValueError("gap_sec must be positive")
    gap_us = int(round(gap_sec * 1_000_000))
    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), f"{gap_sec} seconds").alias("session"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "duration_us",
            F.unix_micros(F.col("session.end"))
            - F.unix_micros(F.col("session.start"))
            - F.lit(gap_us),
        )
    )


def dedup_stream(sdf: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Exact streaming dedup: emit only the FIRST occurrence of each key
    across all micro-batches.  Spark's built-in ``dropDuplicates`` on a
    stream keeps unbounded per-key state too — this version is expressed
    through the same applyInPandasWithState machinery as our sketches so
    the state store layout is uniform, and it needs no watermark (true
    "seen forever" semantics; pair with withWatermark + the built-in when
    bounded retention is acceptable).  State per key: one boolean row.
    State is keyed BY the dedup key, so it shards across executors with
    the shuffle and scales horizontally like any keyed stream."""
    key_cols = list(key_cols)
    out_schema = StructType(
        [f for f in sdf.schema.fields if f.name in key_cols]
        + [StructField("first_seen", LongType())]
    )
    state_schema = StructType([StructField("seen", LongType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        count = 0
        for pdf in pdfs:
            count += len(pdf)
        if state.exists:
            (prev,) = state.get
            state.update((prev + count,))
            return iter(())  # already emitted once
        state.update((count,))
        out = pd.DataFrame([dict(zip(key_cols, key))])
        out["first_seen"] = count
        return iter((out,))

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream_approx(
    sdf: DataFrame,
    key_col: str,
    n_buckets: int = 64,
    capacity_per_bucket: int = 1 << 20,
    fpp: float = 0.01,
) -> DataFrame:
    """Approximate streaming dedup with BOUNDED state: a Bloom filter per
    hash bucket (our own hllspark.sketches.bloom), so total state is
    n_buckets x bloom_bytes regardless of stream length — the trade the
    reference's sketch philosophy makes, applied to dedup.  A false
    positive drops a genuinely-new key with probability <= fpp; no
    duplicate is ever emitted twice (no false negatives).  Emits
    (key, bucket) for first-ish occurrences."""
    from .sketches import bloom as _bloom

    hashed = sdf.select(
        F.col(key_col),
        (F.abs(F.xxhash64(F.col(key_col))) % n_buckets).alias("__bucket"),
    )
    out_schema = StructType(
        [
            next(f for f in hashed.schema.fields if f.name == key_col),
            StructField("__bucket", LongType()),
        ]
    )
    state_schema = StructType([StructField("filt", BinaryType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            bits, k = _bloom.decode(bytes(state.get[0]))
        else:
            m_bits, k = _bloom.params_for(capacity_per_bucket, fpp)
            bits = _bloom.zero(m_bits)
        outs = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vals = pdf[key_col].astype("string").to_numpy(dtype=object)
            fresh = ~_bloom.might_contain(bits, vals, k)
            # within-batch repeats: keep only the first of each fresh key
            first_in_batch = ~pd.Series(vals).duplicated().to_numpy()
            fresh &= first_in_batch
            bits = _bloom.update(bits, vals[fresh], k)
            if fresh.any():
                sub = pdf.loc[fresh, [key_col]].copy()
                sub["__bucket"] = key[0]
                outs.append(sub)
        state.update((bytearray(_bloom.encode(bits, k)),))
        return iter(outs)

    return hashed.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ingest_dedup_sink(
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    within_batch: bool = True,
    collector=None,
    **index_kw,
):
    """foreachBatch sink for STREAMED near-dedup ingest — the loop a
    crawler actually runs, composed from the incremental LSH index
    (hllspark.dedup):

        batch -> deduplicate_near (within batch, optional)
              -> dedup_against_index (vs every previously kept doc)
              -> append_to_index (promote survivors, atomic commit)

    The first micro-batch bootstraps the index when none exists at
    ``index_path``.  Survivor semantics are first-arrival-wins across
    micro-batches (identical to the batch append loop documented on
    append_to_index — equal to one-shot deduplicate_near whenever no
    near-dup chain straddles batches).  The index's atomic sidecar
    commit makes the sink restart-safe: a micro-batch killed mid-append
    leaves the index unchanged and the replayed batch re-deduplicates
    against the same committed state.  ``collector(keep_df, batch_id)``
    is invoked with each batch's survivors (e.g. to write them to the
    corpus sink).

    Use with ``writeStream.foreachBatch(...)`` and ONE active query per
    index (the sidecar protocol is single-writer)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from . import dedup as _dedup

        batch = (
            _dedup.deduplicate_near(batch_df, text_col, id_col, threshold)
            if within_batch
            else batch_df
        )
        if not os.path.exists(f"{index_path}/{_dedup._LSH_META}"):
            _dedup.write_minhash_index(
                batch, index_path, text_col, id_col, **index_kw
            )
            keep = batch
        else:
            keep = _dedup.dedup_against_index(
                batch, index_path, text_col, id_col, threshold
            )
            _dedup.append_to_index(keep, index_path, text_col, id_col)
        if collector is not None:
            collector(keep, batch_id)

    return sink
