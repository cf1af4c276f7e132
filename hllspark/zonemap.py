"""Sketch-backed file pruning: per-file zone maps (min/max + Bloom).

The scan-side complement of the write-side bucketing in ``io.py``: at
write time every data file gets a sidecar row per key column — its
min/max plus a Bloom filter of its distinct values — and an equality/IN
scan first probes the sidecar and reads ONLY the surviving files.  This
is the table-format play (Iceberg manifests / Parquet row-group Bloom
filters) expressed engine-level with this library's own sketch kind, so
the sidecar is mergeable, inspectable, and independent of file format.

Why it matters at 100 TB: a needle query ("all events for user X",
"this url's crawl history") over 100k files otherwise scans everything.
Min/max alone only helps when the key correlates with write order; the
Bloom layer prunes on ARBITRARY keys at ~1.2 KB per file per column
(fpp=0.01, 10^6 keys/file), i.e. a ~120 MB sidecar for the whole table
— driver-plannable, exactly like an Iceberg manifest list.  Bloom's
no-false-negative guarantee makes pruning sound: a pruned read plus the
residual filter is row-identical to the full scan's filter.

Layout (house sidecar pattern, dedup.py's LSH index):

    <path>/_zonemaps/col=<name>/   parquet: (file, vmin, vmax, n, bloom)
    <path>/_zonemaps/_meta.json    {cols, fpp, m_bits, k} via os.replace

Single-writer semantics like the LSH sidecar: rebuild after appends.
"""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .sketches import bloom
from .sketches.generic import sketch_agg

_META = "_meta.json"


def _zonemap_root(path: str) -> str:
    return os.path.join(path, "_zonemaps")


def _sidecar(data: DataFrame, col: str, kind) -> DataFrame:
    """(file, vmin, vmax, n, sketch): one row per file of ``data``
    (``__file`` + ``col``).  The Bloom side is LEFT-joined: a file that is
    all-null in ``col`` has no Bloom row, and keeps its sidecar row with
    vmin NULL (always pruned) so file totals and append coverage stay
    exact."""
    stats = data.groupBy("__file").agg(
        F.min(col).alias("vmin"),
        F.max(col).alias("vmax"),
        F.count(col).alias("n"),
    )
    blooms = sketch_agg(data, col, kind, keys=["__file"])
    return stats.join(blooms, "__file", "left").select(
        F.col("__file").alias("file"), "vmin", "vmax", "n", "sketch"
    )


def build_zonemaps(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    fpp: float = 0.01,
    expected_keys_per_file: int = 1_000_000,
    m_bits: int | None = None,
) -> dict:
    """One extra scan of the written table -> per-(file, col) sidecar.

    Plan shape: ``_metadata.file_path`` projection + the grouped
    sorted-segment Bloom fold (one sketch row per file per column) and a
    plain codegen min/max/count agg, joined on the file name — both
    sides are #files-sized.  The scan reads only the key columns
    (column-pruned), so the build costs one narrow pass, not a rewrite.
    An explicit ``m_bits`` gets the k that is optimal for THAT bitmap.
    """
    m_bits = m_bits or bloom.params_for(expected_keys_per_file, fpp)[0]
    k = bloom.k_for(m_bits, expected_keys_per_file)
    kind = bloom.kind(m_bits=m_bits, k=k)
    root = _zonemap_root(path)
    data = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("__file"), *key_cols
    )
    for col in key_cols:
        _sidecar(data, col, kind).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, f"col={col}")
        )
    meta = {"cols": key_cols, "fpp": fpp, "m_bits": m_bits, "k": k}
    os.makedirs(root, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=root, suffix=".json")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(root, _META))
    return meta


def write_with_zonemaps(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    mode: str = "overwrite",
    **zonemap_kwargs,
) -> dict:
    """Write the table, then build its zone-map sidecar.  With
    ``mode='append'`` onto an already-zone-mapped table, only the newly
    written files get sidecar rows (append_zonemaps) — the existing
    corpus is not rescanned."""
    existing = mode == "append" and os.path.exists(
        os.path.join(_zonemap_root(path), _META)
    )
    df.write.mode(mode).parquet(path)
    if existing:
        return append_zonemaps(df.sparkSession, path, key_cols)
    return build_zonemaps(df.sparkSession, path, key_cols, **zonemap_kwargs)


def zonemap_meta(path: str) -> dict:
    with open(os.path.join(_zonemap_root(path), _META)) as f:
        return json.load(f)


def pruned_files(
    spark: SparkSession, path: str, col: str, values: list
) -> tuple[list[str], int]:
    """(surviving file paths, total files) for an equality/IN predicate.

    The sidecar is one row per file and is read DRIVER-SIDE with pyarrow
    — this is the planner's manifest read (bounded by #files, like
    Iceberg's manifest list), not a Spark job; needle-query latency must
    not pay a scheduling round-trip just to learn which files to scan.
    A file survives when ANY probe value is inside its [vmin, vmax] AND
    its Bloom says might-contain (no false negatives, so pruning never
    drops a matching row)."""
    import pyarrow.dataset as pads

    side = (
        pads.dataset(os.path.join(_zonemap_root(path), f"col={col}"))
        .to_table()
        .to_pylist()
    )
    vals = list(values)
    keep: list[str] = []
    for r in side:
        if r["vmin"] is None:  # file holds only nulls in this column
            continue
        in_range = [v for v in vals if r["vmin"] <= v <= r["vmax"]]
        if not in_range:
            continue
        bits, k = bloom.decode_view(bytes(r["sketch"]))
        hits = bloom.might_contain(bits, np.asarray(in_range), k)
        if bool(hits.any()):
            keep.append(r["file"])
    return keep, len(side)


def read_pruned(
    spark: SparkSession, path: str, col: str, values: list
) -> DataFrame:
    """Rows of the table where ``col`` is in ``values``, reading only the
    files the zone maps cannot rule out.  Row-identical to
    ``spark.read.parquet(path).where(col.isin(values))`` — the residual
    filter removes Bloom false positives; no false negatives exist."""
    files, _total = pruned_files(spark, path, col, values)
    if not files:
        # only the everything-pruned case pays a full-table schema fetch
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*files).where(F.col(col).isin(values))


def pruned_files_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """(surviving files, total) for a BETWEEN predicate — min/max-only
    pruning (a Bloom cannot answer range questions); effective exactly
    when the physical layout correlates with the key, e.g. a
    repartitionByRange'd or ingest-time-ordered table."""
    import pyarrow.dataset as pads

    side = (
        pads.dataset(os.path.join(_zonemap_root(path), f"col={col}"))
        .to_table(columns=["file", "vmin", "vmax"])
        .to_pylist()
    )
    keep = [
        r["file"]
        for r in side
        if r["vmin"] is not None and r["vmax"] >= lo and r["vmin"] <= hi
    ]
    return keep, len(side)


def read_pruned_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> DataFrame:
    """Rows where ``lo <= col <= hi``, reading only files whose
    [vmin, vmax] intersects the range.  Row-identical to the full
    scan's BETWEEN filter (min/max pruning is exact)."""
    files, _total = pruned_files_range(spark, path, col, lo, hi)
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*files).where(F.col(col).between(lo, hi))


def _norm_uri(uri: str) -> str:
    """Canonical form for file-identity comparison: Spark's
    ``inputFiles()`` says ``file:///x`` while ``_metadata.file_path``
    says ``file:/x`` — same file, different URI spellings."""
    if uri.startswith("file:"):
        return "/" + uri[5:].lstrip("/")
    return uri


def append_zonemaps(
    spark: SparkSession, path: str, key_cols: list[str] | None = None
) -> dict:
    """Incremental sidecar build: add zone-map rows ONLY for data files
    not yet covered (e.g. after ``df.write.mode('append')``).  The
    file-set diff makes the operation idempotent — a crashed append
    leaves some files uncovered (Spark's job commit keeps torn output
    under ``_temporary``, which the pyarrow sidecar reader ignores by
    prefix) and re-running covers exactly the remainder.  Bloom
    parameters come from the existing ``_meta.json`` so appended rows
    are probe-compatible with the original build.  Single-writer, like
    build_zonemaps."""
    meta = zonemap_meta(path)
    key_cols = list(key_cols or meta["cols"])
    kind = bloom.kind(m_bits=meta["m_bits"], k=meta["k"])
    import pyarrow.dataset as pads

    all_files = {_norm_uri(f): f for f in spark.read.parquet(path).inputFiles()}
    root = _zonemap_root(path)
    for col in key_cols:
        side_dir = os.path.join(root, f"col={col}")
        covered = {
            _norm_uri(f)
            for f in pads.dataset(side_dir)
            .to_table(columns=["file"])
            .column("file")
            .to_pylist()
        }
        new_files = sorted(
            orig for norm, orig in all_files.items() if norm not in covered
        )
        if not new_files:
            continue
        data = spark.read.parquet(*new_files).select(
            F.col("_metadata.file_path").alias("__file"), col
        )
        _sidecar(data, col, kind).coalesce(1).write.mode("append").parquet(side_dir)
    return meta
