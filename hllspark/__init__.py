"""hllspark — a PySpark-native sketch / approximate-aggregation engine.

From-scratch reimplementation of the capabilities of mkarppa/hyperlogloglog
(HyperLogLog, HyperLogLogLog, zstd-compressed HLL cardinality sketches) as
mergeable Spark aggregates, plus the wider sketch family (count-min, Bloom,
KLL, t-digest) and web-scale training-data operators (dedup, similarity,
text analysis) the north_rule calls for.

Layering:
    hashing    — vectorized reference-parity hash chain (farmhash/fibonacci)
    hll        — numpy register cores (build/merge/estimate)
    hlll       — HyperLogLogLog compression (offsets + exceptions + base)
    sketch     — deterministic binary serialization + format conversion
    agg        — Spark operators: sketch_by / approx_distinct /
                 merge_sketches / sketch_from_jr / rollup / cube
    sketches   — count-min, Bloom, KLL, t-digest mergeable aggregates
    streaming  — Structured Streaming sketch maintenance
    io         — pages fixture, snapshot/resume, reference wire formats
    warc       — Common-Crawl WARC ingest (batch + streaming) and export
    crawl      — frontier seen-set (persisted Bloom) + robots compliance
    bpe        — BPE tokenizer training/encoding over the word-type table
    dedup / similarity / text / multimodal — training-data operators
    conf       — Spark configs for local dev through cluster runs
"""

from . import (
    agg,
    bpe,
    conf,
    crawl,
    curation,
    decontam,
    dedup,
    hashing,
    hll,
    hlll,
    io,
    joins,
    jvmagg,
    lshutil,
    multimodal,
    packedvector,
    sampling,
    sessions,
    sketch,
    sketches,
    similarity,
    sqlfuncs,
    streaming,
    text,
    warc,
)

__all__ = [
    "agg",
    "bpe",
    "conf",
    "crawl",
    "curation",
    "decontam",
    "dedup",
    "hashing",
    "hll",
    "hlll",
    "io",
    "joins",
    "jvmagg",
    "lshutil",
    "multimodal",
    "packedvector",
    "sampling",
    "sessions",
    "sketch",
    "sketches",
    "similarity",
    "sqlfuncs",
    "streaming",
    "text",
    "warc",
]
__version__ = "0.1.0"
