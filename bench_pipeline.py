"""The 8-stage curation chain that perfbench's ``curation_pipeline``
workload and ``sketch_build``'s traced run execute:

  pages -> canonical-url exact dedup -> Gopher quality filter
        -> boilerplate line dedup -> MinHash near-dedup -> decontam
        -> mixture sampling -> deterministic shuffle -> sequence packing

``pipeline_stages`` builds the chain; perfbench times it stage by stage
(``python3 perfbench/run.py --workload curation_pipeline --trace 1``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from hllspark import curation, decontam, dedup, sampling
from hllspark.text import token_count

# word-soup fixture thresholds (same as examples/webtext_pipeline.py):
# the synthetic corpus has 5-200 token docs of short dictionary words, so
# the length/word-length gates are loosened to fit it while the scan
# still computes every Gopher statistic at full cost
_QUALITY_KW = dict(
    min_words=5, min_mean_word_len=1.0,
    max_dup_line_frac=1.0, max_dup_line_char_frac=1.0,
    max_top2gram_char_frac=1.0, max_top3gram_char_frac=1.0,
)


def pipeline_stages(eval_docs: DataFrame, seed: int = 0):
    """The 8-stage chain as (name, df -> df) pairs.  ``eval_docs`` is the
    held-out eval slice the decontamination stage guards against."""

    def canonical_dedup(df):
        # crawl-level exact dedup on the canonical URL form: one window
        # shuffle keyed by the canonicalized string's fingerprint
        return dedup.deduplicate_exact(
            df.withColumn("__curl", curation.canonical_url(F.col("url"))),
            text_col="__curl",
            id_col="url",
        ).drop("__curl")

    def quality(df):
        # full Gopher statistic scan (expr path: zero Python workers);
        # one scan, no shuffle
        return curation.quality_filter(df, impl="expr", **_QUALITY_KW)

    def line_dedup(df):
        # boilerplate removal at line grain, then the rebuilt text
        # replaces the original (metadata rejoined on the id — the real
        # pipeline keeps warc_ts/lang through this stage)
        rebuilt = curation.dedup_lines(df, id_col="url", text_col="text")
        return df.drop("text").join(
            rebuilt.select("url", "text"), "url"
        ).where(F.length("text") > 0)

    def near_dedup(df):
        return dedup.deduplicate_near(
            df, "text", "url", threshold=0.7, max_bucket_size=1024
        )

    def decontaminate(df):
        # n=8 (the operator default): at this gram length only genuine
        # shared passages match — eval docs present in the corpus are
        # removed, incidental 3-gram collisions are not
        return decontam.decontaminate(
            df, eval_docs, "url", "text", n=8, threshold=0.8
        )

    def mixture(df):
        # rebalance to the target pretraining mixture (largest feasible
        # sample at exact proportions)
        return sampling.mixture_sample(
            df, "lang", "url",
            {"en": 0.5, "de": 0.2, "fr": 0.15, "fi": 0.15},
            seed=seed,
        )

    def shuffle(df):
        # deterministic training-order randomization (range sort on the
        # key hash); the hash column is carried so packing consumes the
        # SAME order without re-deriving it
        return sampling.shuffle_rows(df, "url", seed=seed).withColumn(
            "__ord", F.xxhash64(F.col("url"), F.lit(seed))
        )

    def pack(df):
        # GPT-style concat-and-chunk in shuffled order (two-phase
        # distributed cumsum; never a single-partition window)
        return curation.pack_sequences(
            df.select("url", "__ord", token_count(F.col("text")).alias("n_tokens")),
            "__ord",
            "n_tokens",
            2048,
        )

    return [
        ("canonical_dedup", canonical_dedup),
        ("quality_filter", quality),
        ("line_dedup", line_dedup),
        ("near_dedup", near_dedup),
        ("decontam", decontaminate),
        ("mixture", mixture),
        ("shuffle", shuffle),
        ("pack", pack),
    ]
