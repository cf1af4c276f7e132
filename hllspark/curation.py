"""Web-corpus curation operators: repetition-based quality filters,
corpus-level line deduplication, PII redaction, URL analytics, and
sequence packing.

These are the standard pre-training curation passes (Gopher table A1
repetition rules, RefinedWeb/CCNet line dedup, C4-style PII scrubbing,
GPT-style concat-and-chunk batch packing) re-expressed as Spark plans:

* Per-document statistics (``repetition_features``, ``pii_features``,
  ``url_features``) never shuffle.  impl='expr' keeps them pure JVM
  expressions inside the scan stage (plan-composable, oracle-matched);
  impl='arrow' routes the repetition statistics through mapInArrow with
  pyarrow C kernels + numpy code arrays for full-corpus throughput
  (value-identical, PLANS.md §21).  At 100 TB this is the only shape
  that works: the filter decision for a document never leaves the map
  task that read it.
* The corpus-global operators are shuffle-bounded: ``dedup_lines``
  shuffles at the line grain exactly twice (count, rebuild) and its
  removal join is a left-anti against only the *over-threshold* lines
  (the heavy hitters, a tiny broadcast-eligible set); ``pack_sequences``
  computes the global ordered cumulative token sum with a range shuffle
  + per-partition window + broadcast per-partition offsets
  (``_range_scan``), never a single-partition global window.

All regex patterns are restricted to the Java-regex ∩ RE2 common subset
so the DuckDB contract oracles run the byte-identical pattern.
"""

from __future__ import annotations

import re as _re
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .decontam import ngram_col
from .text import words_col

# ---------------------------------------------------------------------------
# segmentation helpers
# ---------------------------------------------------------------------------


def segments(text: Column, line_sep: str = "\n") -> Column:
    """Non-blank trimmed segments of ``text`` split on the regex
    ``line_sep`` (default: newline — real web pages; the word-soup test
    fixture passes a word delimiter instead)."""
    return F.filter(
        F.transform(F.split(text, line_sep), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def _safe_div(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition features (shuffle-free)
# ---------------------------------------------------------------------------


def duplicate_segment_fraction(lines: Column) -> Column:
    """Fraction of segment *instances* that are repeats of an earlier
    identical segment: 1 - |distinct| / |all|."""
    n = F.size(lines)
    return _safe_div(n - F.size(F.array_distinct(lines)), n)


def duplicate_segment_char_fraction(lines: Column) -> Column:
    """Fraction of segment characters inside segments that occur more
    than once (ALL occurrences count, per the Gopher rule).  One fold
    over the sorted segment array — adjacent equality marks a duplicate
    run; the first element of a run is back-credited when its twin
    appears."""
    s = F.array_sort(lines)
    total = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(False).alias("counted"),
        F.lit(0).cast("long").alias("tot"),
    )

    def merge(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        add = F.when(
            same,
            F.length(x).cast("long")
            + F.when(acc["counted"], F.lit(0)).otherwise(F.length(acc["prev"])),
        ).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            same.alias("counted"),
            (acc["tot"] + add).cast("long").alias("tot"),
        )

    dup_chars = F.aggregate(s, init, merge, lambda acc: acc["tot"])
    return _safe_div(dup_chars, total)


def top_ngram_char_fraction(text: Column, n: int) -> Column:
    """Characters covered by the most frequent word ``n``-gram divided by
    the document's character count (Gopher "fraction of characters in
    the most common n-gram"; overlapping occurrences all count, so the
    value may exceed 1 on degenerate text).  Ties break to the
    lexicographically smallest gram — the sorted-array fold keeps the
    first gram of equal-length runs, which is exactly that gram."""
    grams = F.array_sort(ngram_col(text, n))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best_run"),
        F.lit(0).cast("int").alias("best_len"),
    )

    def merge(acc, x):
        run = F.when(
            acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1
        ).otherwise(F.lit(1))
        better = run > acc["best_run"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"),
            F.when(better, F.length(x).cast("int"))
            .otherwise(acc["best_len"])
            .alias("best_len"),
        )

    covered = F.aggregate(
        grams, init, merge, lambda acc: (acc["best_run"] * acc["best_len"]).cast("long")
    )
    return _safe_div(covered, F.length(text))


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    ngram_ns: tuple[int, ...] = (2, 3),
    impl: str = "expr",
) -> DataFrame:
    """Adds the Gopher repetition statistics (no shuffle either way):

    - ``dup_line_frac`` / ``dup_line_char_frac`` — duplicate segments
      (split on ``line_sep``) by instance count and by character mass,
    - ``dup_word_frac`` — fraction of word instances that are repeats,
    - ``top{n}gram_char_frac`` for each n in ``ngram_ns``,
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — segments starting
      with a bullet glyph / ending with an ellipsis,
    - ``symbol_word_ratio`` — '#'/'...' occurrences per word.

    ``impl='expr'``: pure JVM higher-order-function expressions inside
    the scan stage — plan-pure and oracle-matched, but HOFs are
    interpreted (CodegenFallback) and the per-doc gram sort/fold costs
    ~25µs/doc.  ``impl='arrow'``: mapInArrow where the string work
    (split / flatten / dictionary-encode / regex match) runs in pyarrow
    C kernels and the counting/grouping/argmax in numpy — NO Python
    objects on the data path (a mapInPandas twin that materialized the
    tokens as Python strings was GC-bound and 10-20x noisier, PLANS.md
    §21) — value-identical (pytest-gated).

    DEFAULT GUIDANCE (round-5 A/B, PLANS.md §27): 'expr' is the
    recommended full-corpus default — on the 500k-page q17 workload its
    run-to-run spread is 1.1x (16.2-18.3s) while 'arrow' swings 3.4-5x
    (8.9-36.7s) across identical runs of identical code (Python-worker
    scheduling amplifies this host's THP swing).  'arrow' has the better
    BEST CASE (~2x faster than expr's floor) — use it when chasing
    throughput on a host whose Python workers are stable, or when the
    corpus is large enough to average out the variance."""
    if impl == "arrow":
        return _repetition_features_arrow(df, text_col, line_sep, ngram_ns)
    if impl != "expr":
        raise ValueError("impl must be 'expr' or 'arrow'")
    t = F.col(text_col)
    lines = segments(t, line_sep)
    words = words_col(t)
    n_words = F.size(words)
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(lines, lambda x: x.rlike(r"^(\-|\*|•)"))
    )
    # \z (end of TEXT), not $: Java's $ also matches before a final line
    # terminator while RE2's does not — \z means the same thing in both
    # engines, so expr, arrow and the DuckDB oracles agree on segments
    # that end with a newline (possible whenever line_sep is not '\n')
    ellipsis = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\z")))
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), F.lit(0)))
    out = (
        df.withColumn("dup_line_frac", duplicate_segment_fraction(lines))
        .withColumn("dup_line_char_frac", duplicate_segment_char_fraction(lines))
        .withColumn(
            "dup_word_frac",
            _safe_div(n_words - F.size(F.array_distinct(words)), n_words),
        )
        .withColumn("bullet_line_frac", _safe_div(bullet, n_lines))
        .withColumn("ellipsis_line_frac", _safe_div(ellipsis, n_lines))
        .withColumn("symbol_word_ratio", _safe_div(hashes + dots, n_words))
    )
    for n in ngram_ns:
        out = out.withColumn(
            f"top{n}gram_char_frac", top_ngram_char_fraction(t, n)
        )
    return out


def _repetition_features_arrow(
    df: DataFrame,
    text_col: str,
    line_sep: str,
    ngram_ns: tuple[int, ...],
) -> DataFrame:
    """mapInArrow twin of the expression path with NO Python objects on
    the data path: splitting / flattening / dictionary-encoding / regex
    matching run in pyarrow C kernels; counting, grouping and argmax run
    in numpy over int64 code arrays.  Lexicographic-rank codes come from
    `pc.sort_indices` over the (small) dictionary only, so the top-gram
    tie-break matches the expr/SQL `count DESC, gram ASC` exactly (code
    order == gram-string order because ' ' sorts below every non-control
    character).  Value-identical to impl='expr' (pytest-gated)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    feat_names = [
        "dup_line_frac", "dup_line_char_frac", "dup_word_frac",
        "bullet_line_frac", "ellipsis_line_frac", "symbol_word_ratio",
    ] + [f"top{n}gram_char_frac" for n in ngram_ns]
    schema = StructType(
        list(df.schema.fields)
        + [StructField(f, DoubleType(), False) for f in feat_names]
    )
    text_idx = df.columns.index(text_col)
    _sep_is_literal = not any(ch in line_sep for ch in r".^$*+?{}[]|()\\")

    def _lex_encode(flat):
        """(codes int64 ndarray, sorted uniques Array, uniq lens ndarray).
        dictionary_encode is a C hash table; only the dictionary is
        sorted (C UTF8 compare) to turn its indices into lex ranks."""
        denc = pc.dictionary_encode(flat)
        dic = denc.dictionary if hasattr(denc, "dictionary") else denc.combine_chunks().dictionary
        idx = denc.indices if hasattr(denc, "indices") else denc.combine_chunks().indices
        order = pc.sort_indices(dic).to_numpy(zero_copy_only=False).astype(np.int64)
        rank = np.empty(len(dic), dtype=np.int64)
        rank[order] = np.arange(len(dic))
        codes = rank[idx.to_numpy(zero_copy_only=False).astype(np.int64)]
        dic_sorted = dic.take(pa.array(order))
        ulen = pc.utf8_length(dic_sorted).to_numpy(zero_copy_only=False).astype(np.int64)
        return codes, ulen

    def _list_grain(list_arr, B):
        """(flat values Array, parent doc ids ndarray, per-doc counts)."""
        flat = pc.list_flatten(list_arr)
        doc = pc.list_parent_indices(list_arr).to_numpy(zero_copy_only=False).astype(np.int64)
        n = pc.list_value_length(list_arr).to_numpy(zero_copy_only=False).astype(np.int64)
        return flat, doc, n

    def compute(batches):
        for rb in batches:
            B = rb.num_rows
            cols = list(rb.columns)
            if B == 0:
                empty = [pa.array([], type=pa.float64()) for _ in feat_names]
                yield pa.RecordBatch.from_arrays(
                    cols + empty, names=list(rb.schema.names) + feat_names
                )
                continue
            texts = pc.fill_null(rb.column(text_idx), "")
            out = {}

            # ---- lines -------------------------------------------------
            # literal separators (the common case: '\n', ' the ') take the
            # non-regex split kernel, ~3x faster than RE2
            if _sep_is_literal:
                raw_lines = pc.split_pattern(texts, line_sep)
            else:
                raw_lines = pc.split_pattern_regex(texts, line_sep)
            lflat_raw, ldoc_raw, _ = _list_grain(raw_lines, B)
            # Spark's trim() (and DuckDB's) strips ONLY the space character
            # — utf8_trim_whitespace would also strip tabs etc. and diverge
            lflat_t = pc.utf8_trim(lflat_raw, " ")
            keep = pc.not_equal(lflat_t, "").to_numpy(zero_copy_only=False)
            lflat = lflat_t.filter(pa.array(keep))
            ldoc = ldoc_raw[keep]
            nl = np.bincount(ldoc, minlength=B).astype(np.int64)
            if len(lflat):
                lcodes, llen = _lex_encode(lflat)
                L = max(int(lcodes.max()) + 1, 1)
                uk, cnt = np.unique(ldoc * L + lcodes, return_counts=True)
                ndl = np.bincount(uk // L, minlength=B)
                dupc = np.bincount(
                    uk // L,
                    weights=np.where(cnt > 1, cnt * llen[uk % L], 0.0),
                    minlength=B,
                )
                lchars = np.bincount(ldoc, weights=llen[lcodes], minlength=B)
                bull = pc.match_substring_regex(lflat, r"^(\-|\*|•)")
                ell = pc.match_substring_regex(lflat, r"(\.\.\.|…)\z")
                nbull = np.bincount(
                    ldoc, weights=bull.to_numpy(zero_copy_only=False), minlength=B
                )
                nell = np.bincount(
                    ldoc, weights=ell.to_numpy(zero_copy_only=False), minlength=B
                )
            else:
                ndl = dupc = lchars = nbull = nell = np.zeros(B)
            nl_safe = np.maximum(nl, 1)
            out["dup_line_frac"] = np.where(nl > 0, (nl - ndl) / nl_safe, 0.0)
            out["dup_line_char_frac"] = np.where(
                lchars > 0, dupc / np.maximum(lchars, 1), 0.0
            )
            out["bullet_line_frac"] = np.where(nl > 0, nbull / nl_safe, 0.0)
            out["ellipsis_line_frac"] = np.where(nl > 0, nell / nl_safe, 0.0)

            # ---- words -------------------------------------------------
            # ascii_split_whitespace == Java \s+ (both split on ASCII
            # [ \t\n\v\f\r] runs) and is 3.3x faster than the RE2 regex
            # split; it emits empty tokens at text edges — filter them,
            # exactly like words_col does on the expr path
            words_list = pc.ascii_split_whitespace(texts)
            flat, doc, _ = _list_grain(words_list, B)
            nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            if not nonempty.all():
                flat = flat.filter(pa.array(nonempty))
                doc = doc[nonempty]
            nw = np.bincount(doc, minlength=B).astype(np.int64)
            nchars = pc.utf8_length(texts).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(flat):
                codes, ulen = _lex_encode(flat)
                V = max(int(codes.max()) + 1, 1)
                ukw = np.unique(doc * V + codes)
                ndw = np.bincount(ukw // V, minlength=B)
            else:
                codes = np.zeros(0, dtype=np.int64)
                ulen = np.zeros(0, dtype=np.int64)
                V = 1
                ndw = np.zeros(B, dtype=np.int64)
            nw_safe = np.maximum(nw, 1)
            out["dup_word_frac"] = np.where(nw > 0, (nw - ndw) / nw_safe, 0.0)
            hashes = pc.count_substring(texts, "#").to_numpy(zero_copy_only=False)
            dots = pc.count_substring(texts, "...").to_numpy(zero_copy_only=False)
            out["symbol_word_ratio"] = np.where(
                nw > 0, (hashes + dots) / nw_safe, 0.0
            )

            # ---- top n-grams --------------------------------------------
            for n in ngram_ns:
                if len(codes) == 0 or n < 2:
                    out[f"top{n}gram_char_frac"] = np.zeros(B)
                    continue
                # stepwise integer combine: comb = prefix*V + next keeps
                # numeric order == joined-gram string order (' ' sorts
                # below every non-control character), so no re-ranking is
                # needed — compress via np.unique ONLY when the key space
                # approaches int64 overflow (huge per-batch vocab)
                gcode = codes
                glen = ulen[codes]
                for step in range(1, n):
                    if gcode.size and int(gcode.max()) > (2**62) // V:
                        _, gcode = np.unique(gcode, return_inverse=True)
                    b = codes[step:]
                    gcode = gcode[: len(b)] * V + b
                    glen = glen[: len(b)] + ulen[b] + 1
                m = doc[: len(gcode)] == doc[n - 1 :]
                gdoc = doc[: len(gcode)][m]
                gc_ = gcode[m]
                gl = glen[m]
                if len(gc_) == 0:
                    out[f"top{n}gram_char_frac"] = np.zeros(B)
                    continue
                keyspace = int(gc_.max()) + 1
                if keyspace > (2**62) // max(B, 1):
                    _, gc_ = np.unique(gc_, return_inverse=True)
                    keyspace = int(gc_.max()) + 1
                # unique (doc, gram) keys come out SORTED: within a doc,
                # grams ascend — so "first index of the max count" IS the
                # `count DESC, gram ASC` winner; segmented max/argmin via
                # reduceat replaces a full lexsort (measured 25x cheaper)
                uk2, fidx, cnt2 = np.unique(
                    gdoc * keyspace + gc_, return_index=True, return_counts=True
                )
                d2 = uk2 // keyspace
                glen_at = gl[fidx]  # gram char length per unique key
                seg = np.flatnonzero(np.r_[True, d2[1:] != d2[:-1]])
                maxs = np.maximum.reduceat(cnt2, seg)
                is_max = cnt2 == np.repeat(maxs, np.diff(np.r_[seg, len(cnt2)]))
                idx_or_inf = np.where(is_max, np.arange(len(cnt2)), len(cnt2))
                winner = np.minimum.reduceat(idx_or_inf, seg)
                covered = np.zeros(B, dtype=np.float64)
                covered[d2[seg]] = cnt2[winner] * glen_at[winner]
                out[f"top{n}gram_char_frac"] = np.where(
                    nchars > 0, covered / np.maximum(nchars, 1), 0.0
                )

            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(out[f], type=pa.float64()) for f in feat_names],
                names=list(rb.schema.names) + feat_names,
            )

    return df.mapInArrow(compute, schema)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2gram_char_frac: float = 0.20,
    max_top3gram_char_frac: float = 0.18,
    impl: str = "expr",
) -> DataFrame:
    """Gopher-rule document filter: keeps rows passing every threshold,
    original schema preserved.  One scan, no shuffle either way.  The
    default impl='expr' is also the recommended full-corpus setting
    (round-5 A/B: stable 1.1x spread vs arrow's 3.4-5x on this host —
    see repetition_features and PLANS.md §27); impl='arrow' routes the
    repetition statistics through the vectorized mapInArrow path, whose
    best case is ~2x faster but whose run-to-run variance is large."""
    t = F.col(text_col)
    words = words_col(t)
    n_words = F.size(words)
    mean_wl = _safe_div(
        F.aggregate(words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)),
        n_words,
    )
    feat = repetition_features(df, text_col, line_sep, ngram_ns=(2, 3), impl=impl)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top2gram_char_frac") <= max_top2gram_char_frac)
        & (F.col("top3gram_char_frac") <= max_top3gram_char_frac)
    )
    return feat.where(keep).select(*df.columns)


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    join_sep: str = "\n",
    min_line_words: int = 3,
    terminal_punct_re: str = r'[.!?"]$',
    min_sentences: int = 5,
    sentence_re: str = r"[.!?]",
    drop_line_phrases: tuple[str, ...] = ("javascript",),
    drop_doc_phrases: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style heuristic cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", §2.2 — the rules behind the C4 corpus):

    * keep only lines that end in a terminal punctuation mark
      (``terminal_punct_re``; pass ``""`` to disable),
    * drop lines with fewer than ``min_line_words`` words (engine
      tokenizer :func:`hllspark.text.words_col`),
    * drop lines containing any of ``drop_line_phrases``
      (case-insensitive substring; C4 uses "javascript"),
    * drop whole documents containing any of ``drop_doc_phrases``
      (case-insensitive; C4 uses "lorem ipsum" and the code marker
      ``{``) — checked against the ORIGINAL text, like C4,
    * drop documents whose CLEANED text has fewer than ``min_sentences``
      sentences, where the sentence count is the number of
      ``sentence_re`` matches (a terminal-punctuation proxy for C4's
      sentence splitter — documented approximation).

    Returns the original columns with ``text_col`` replaced by the
    rebuilt (kept-lines) text, plus ``n_lines`` / ``n_lines_kept`` /
    ``n_sentences``.  Every rule is a row-local JVM expression: one scan,
    zero shuffles, zero Python — the filter decision never leaves the map
    task that read the page, which is the only shape that matters at
    crawl scale.  The three-sentence-span dedup from the same paper is
    corpus-global and lives in :func:`hllspark.dedup.remove_duplicate_runs`
    (ExactSubstr subsumes it).  All regexes are in the Java ∩ RE2 subset
    so the DuckDB contract oracle runs the byte-identical patterns.
    """
    for tmp in ("__c4_t", "__c4_lines", "__c4_kept", "__c4_clean", "__c4_ns"):
        if tmp in df.columns:
            raise ValueError(f"c4_filters: input already has a column {tmp!r}")

    def _keep_line(x: Column) -> Column:
        k = F.size(words_col(x)) >= min_line_words
        if terminal_punct_re:
            k = k & x.rlike(terminal_punct_re)
        for p in drop_line_phrases:
            k = k & ~F.lower(x).contains(p.lower())
        return k

    enriched = (
        df.withColumn("__c4_t", F.coalesce(F.col(text_col).cast("string"), F.lit("")))
        .withColumn("__c4_lines", segments(F.col("__c4_t"), line_sep))
        .withColumn("__c4_kept", F.filter(F.col("__c4_lines"), _keep_line))
        .withColumn("__c4_clean", F.array_join(F.col("__c4_kept"), join_sep))
        .withColumn(
            "__c4_ns",
            F.size(
                F.regexp_extract_all(F.col("__c4_clean"), F.lit(sentence_re), F.lit(0))
            ).cast("long"),
        )
    )
    keep = F.col("__c4_ns") >= min_sentences
    for p in drop_doc_phrases:
        keep = keep & ~F.lower(F.col("__c4_t")).contains(p.lower())
    out_cols = [
        F.col("__c4_clean").alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return enriched.where(keep).select(
        *out_cols,
        F.size("__c4_lines").cast("long").alias("n_lines"),
        F.size("__c4_kept").cast("long").alias("n_lines_kept"),
        F.col("__c4_ns").alias("n_sentences"),
    )


# ---------------------------------------------------------------------------
# corpus-level line dedup (RefinedWeb / CCNet style)
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    join_sep: str = "\n",
    max_docs: int = 1,
) -> DataFrame:
    """Removes every occurrence of any segment that appears in MORE than
    ``max_docs`` distinct documents (boilerplate: nav bars, cookie
    banners, license footers), preserving segment order within each doc.

    Returns (id_col, text, n_lines, n_lines_dropped) — ``text`` is the
    rebuilt document (empty string when everything was boilerplate).

    Plan: posexplode segments (line grain) -> count distinct docs per
    (line hash, line) (map-side partial agg) -> the over-threshold lines
    only (heavy hitters — a small set, AQE will broadcast it) ->
    left-anti join -> rebuild per doc from (pos, line) pairs.  Shuffles:
    the count agg and the rebuild agg, both keyed to avoid skew (hash /
    doc id); the full line inventory is never joined against itself.
    The anti-join key carries the LINE STRING alongside its 64-bit hash:
    at 10^11 lines, xxhash64 birthday collisions are expected, and a
    hash-only key would silently delete any line colliding with a
    boilerplate hash (and inflate its distinct-doc count).  The hash
    stays in the key so shuffle comparisons stay cheap; the string makes
    the decision exact.
    """
    raw = F.split(F.col(text_col), line_sep)
    ex = (
        df.select(F.col(id_col).alias("__id"), F.posexplode(raw))
        .withColumn("col", F.trim("col"))
        .where(F.col("col") != "")
        .select("__id", "pos", F.col("col").alias("line"), F.xxhash64("col").alias("h"))
    )
    bad = (
        ex.groupBy("h", "line")
        .agg(F.countDistinct("__id").alias("nd"))
        .where(F.col("nd") > max_docs)
        .select("h", "line")
    )
    kept = ex.join(bad, ["h", "line"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            join_sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = ex.groupBy("__id").agg(F.count(F.lit(1)).alias("n_lines"))
    base = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        base.join(totals, "__id", "left")
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            (
                F.coalesce(F.col("n_lines"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_lines_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (Java-regex ∩ RE2 patterns)
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"

_PII_PATTERNS = [("email", EMAIL_RE), ("phone", PHONE_RE), ("ipv4", IPV4_RE)]


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII kind ({'email','phone','ipv4'} -> int col)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast("long")
        for kind, pat in _PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """All PII matches replaced with ``<KIND>`` tokens.  Email runs first
    (its local part may contain digits that would otherwise be clipped by
    the phone/ip passes); the three patterns are mutually exclusive after
    that."""
    out = text
    for kind, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_emails / n_phones / n_ipv4 / pii_total and ``redacted``
    (the scrubbed text).  Row-local regex work inside the scan stage."""
    t = F.col(text_col)
    c = pii_counts(t)
    return (
        df.withColumn("n_emails", c["email"])
        .withColumn("n_phones", c["phone"])
        .withColumn("n_ipv4", c["ipv4"])
        .withColumn("pii_total", c["email"] + c["phone"] + c["ipv4"])
        .withColumn("redacted", redact_pii(t))
    )


# ---------------------------------------------------------------------------
# URL analytics
# ---------------------------------------------------------------------------

# public suffixes where the registrable domain is one label deeper
# (heuristic subset of the PSL — co.uk, com.au, ac.jp, ...)
_SECOND_LEVEL = ["co", "com", "net", "org", "gov", "edu", "ac"]

_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def url_host(url: Column) -> Column:
    """Lower-cased host: authority minus userinfo and port."""
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    no_user = F.element_at(F.split(auth, "@"), -1)
    return F.lower(F.element_at(F.split(no_user, ":"), 1))


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def url_path_depth(url: Column) -> Column:
    return F.size(F.filter(F.split(url_path(url), "/"), lambda x: x != "")).cast(
        "long"
    )


def registered_domain(host: Column) -> Column:
    """Registrable domain: last two labels, or last three when the
    second-to-last label is a common second-level suffix (co.uk etc.).
    Hosts with fewer than two labels pass through unchanged."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    take3 = (n >= 3) & F.element_at(labels, -2).isin(_SECOND_LEVEL)
    tail = F.when(take3, F.slice(labels, -3, 3)).otherwise(F.slice(labels, -2, 2))
    return F.when(n >= 2, F.array_join(tail, ".")).otherwise(host)


# ---------------------------------------------------------------------------
# sequence packing (pretraining batch construction)
# ---------------------------------------------------------------------------


def _range_scan(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    weight: Column,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + ``__cum``: the running sum of ``weight`` (inclusive of the
    row) within each group of ``group_cols``, in ``order_cols`` order;
    weight 1 gives the row number.  No group goes to one task and no row
    to the driver: range-repartition on (group, order) so a large group
    spans partitions, take the running sum per (partition, group), and
    ``localCheckpoint(eager=True)`` it, which pins the partition ids the
    two reads below share (its blocks free with the result; a
    ``persist`` would pin them for the session).  A row's offset is its
    group's total weight in earlier partitions: an exclusive window sum
    over per-(partition, group) totals.  Range partitioning keeps a group
    contiguous, so only a partition's first group carries an offset, and
    the offsets (at most one row per partition) are broadcast-joined
    back on the partition and null-safely on the group, so NULL keys
    form one group."""
    from pyspark.sql import Window

    keys = [*group_cols, *order_cols]
    parts = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    w = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        parts.withColumn("__pid", F.spark_partition_id())
        .withColumn("__cum", F.sum(weight).over(w))
        .localCheckpoint(eager=True)
    )
    g = [f"__g{i}" for i in range(len(group_cols))]
    earlier = (
        Window.partitionBy(*g)
        .orderBy("__opid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy(
            F.col("__pid").alias("__opid"),
            *[F.col(c).alias(a) for c, a in zip(group_cols, g)],
        )
        .agg(F.sum(weight).alias("__t"))
        .withColumn("__off", F.sum("__t").over(earlier))
        .where(F.col("__off").isNotNull())
        .drop("__t")
    )
    on = F.col("__pid") == F.col("__opid")
    for c, a in zip(group_cols, g):
        on = on & F.col(c).eqNullSafe(F.col(a))
    return (
        local.join(F.broadcast(offsets), on, "left")
        .withColumn("__cum", F.col("__cum") + F.coalesce("__off", F.lit(0)))
        .drop("__pid", "__opid", *g, "__off")
    )


def select_within_budget(
    df: DataFrame,
    order_col: str,
    n_tokens_col: str,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-budget corpus selection: keep documents, in ``order_col``
    order (typically a quality rank — best first), while the cumulative
    token count stays within ``budget``; a document is kept only if it
    fits ENTIRELY.  The standard "build the best N-token corpus" curation
    step: order by quality descending, select until the budget is full.

    The cumulative count is :func:`_range_scan`'s (never a
    single-partition global window), followed by a pushable
    ``__cum <= budget`` filter.  A NULL count counts 0, any other integer
    counts as itself.  Original schema preserved."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    n = F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))
    out = _range_scan(df, [], [order_col], n, num_partitions)
    return out.where(F.col("__cum") <= F.lit(int(budget))).drop("__cum")


def pack_sequences(
    df: DataFrame,
    order_col: str,
    n_tokens_col: str,
    seq_len: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk assignment: documents are concatenated
    in ``order_col`` order (must be unique — it defines the token
    stream) and the stream is cut every ``seq_len`` tokens.  Adds:

    - ``chunk_id``    — chunk containing the document's FIRST token,
    - ``chunk_offset``— token offset of the document within that chunk,
      ``0 <= chunk_offset < seq_len`` and
      ``chunk_id * seq_len + chunk_offset`` is the document's start,
    - ``n_chunks_spanned`` — how many chunks the document touches.

    A NULL count counts 0, any other integer counts as itself.  The
    global ordered cumulative sum is the scale hazard here: a naive
    ``Window.orderBy(order_col)`` collapses to ONE partition.
    :func:`_range_scan` computes it in the plan instead (range shuffle,
    per-partition window, broadcast per-partition offsets), with no
    driver collect and no ``create_map`` literal, which would put one
    expression-tree entry per partition in the plan.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    n = F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))
    local = _range_scan(df, [], [order_col], n, num_partitions)
    end = F.col("__cum")
    start = end - n
    return (
        local.withColumn("chunk_id", F.floor(start / seq_len))
        .withColumn("chunk_offset", F.pmod(start, F.lit(seq_len)))
        .withColumn(
            "n_chunks_spanned",
            F.when(n > 0, F.floor((end - 1) / seq_len) - F.floor(start / seq_len) + 1)
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("__cum")
    )


def lm_perplexity_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_df: DataFrame | None = None,
    max_vocab: int | None = None,
    mg_capacity: int | None = None,
) -> DataFrame:
    """CCNet-style language-model quality scoring: per-document
    cross-entropy under a bigram LM with Laplace (add-one) smoothing,
    trained on ``model_df`` (default: the corpus itself).  Low
    cross-entropy = fluent/common text, high = gibberish or boilerplate
    soup — the standard perplexity-filter signal (CCNet, Gopher) with the
    KenLM dependency replaced by an in-engine bigram model.

    Returns (id_col, n_tokens, cross_entropy):
      cross_entropy = -(ln P(w1) + sum_i ln P(w_{i+1}|w_i)) / n_tokens
      P(w1)        = (C(w1) + 1) / (N + V)        [unigram, Laplace]
      P(w2|w1)     = (C(w1 w2) + 1) / (C(w1) + V) [bigram, Laplace]
    Tokens are lowercased whitespace words (words_col).  Docs with zero
    tokens score 0.0.  Unseen words/bigrams (model_df != df) back off to
    the +1 numerator with C = 0.

    ``max_vocab`` is the open-vocabulary web-scale path: the model
    vocabulary is capped to the exact top-``max_vocab`` tokens by
    frequency (ties broken lexicographically) and every other token —
    in the model AND in the scored documents — maps to one ``<unk>``
    bucket, so V = |vocab| + 1.  Candidate discovery runs through a
    Misra-Gries summary (``sketches.misragries``, capacity
    ``mg_capacity``, default ``8 * max_vocab``) — a map-side fold with
    O(capacity) state, never a full-vocab shuffle — followed by an
    exact recount of the =< capacity candidates; the selected top-K is
    EXACT (and partition-invariant) whenever every true top-K token
    clears the MG retention bound n/(capacity+1), which the 8x default
    ensures for Zipf-shaped web text.  All model tables are then
    vocab-bounded and explicitly broadcast — the scoring join is
    map-side by construction, closing the un-capped path's
    corpus-sized-bigram-table hazard.

    Plan: token/bigram model counts are ONE map-side-combined aggregate
    each over the model corpus; scoring joins the document gram stream
    against those tables (broadcast when the vocabulary fits — the usual
    case after any frequency cutoff; with ``max_vocab`` set, always) and
    reduces per doc.  No Python in the scoring path (the MG fold is an
    Arrow-vectorized partial aggregate)."""
    model = model_df if model_df is not None else df
    if max_vocab is not None:
        return _lm_perplexity_capped(
            df, id_col, text_col, model, max_vocab,
            mg_capacity or 8 * max_vocab,
        )
    t = F.lower(F.col(text_col))
    words = words_col(t)

    def pair_stream(frame: DataFrame, cols: list[str]) -> DataFrame:
        w = words_col(F.lower(F.col(text_col)))
        n = F.size(w)
        w1s = F.slice(w, 1, F.greatest(n - 1, F.lit(0)))
        w2s = F.slice(w, 2, F.greatest(n - 1, F.lit(0)))
        pairs = F.zip_with(
            w1s, w2s, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
        )
        return frame.select(*cols, F.explode(pairs).alias("p")).select(
            *cols, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )

    toks = model.select(F.explode(words_col(F.lower(F.col(text_col)))).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    stats = F.broadcast(
        toks.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("w").alias("v")
        ).withColumn("__x", F.lit(1))
    )
    bi = pair_stream(model, []).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )

    doc_pairs = pair_stream(df, [id_col])
    lp_bi = (
        doc_pairs.join(bi, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1", "left")
        .withColumn("__x", F.lit(1))
        .join(stats, "__x")
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
        .groupBy(id_col)
        .agg(F.sum("lp").alias("slp"))
    )
    heads = (
        df.select(
            F.col(id_col),
            F.get(words, 0).alias("w"),  # null-safe on empty/null arrays
            F.size(words).alias("n_tokens"),
        )
        .join(uni, "w", "left")
        .withColumn("__x", F.lit(1))
        .join(stats, "__x")
        .select(
            id_col,
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.log(
                    (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n") + F.col("v"))
                ),
            ).otherwise(F.lit(0.0)).alias("lp0"),
        )
    )
    return heads.join(lp_bi, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            -(F.col("lp0") + F.coalesce(F.col("slp"), F.lit(0.0)))
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)).alias("cross_entropy"),
    )


def _lm_perplexity_capped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    max_vocab: int,
    mg_capacity: int,
) -> DataFrame:
    """The ``max_vocab`` path of :func:`lm_perplexity_scores` — see its
    docstring for semantics.  Split out so the un-capped fast path stays
    untouched."""
    from .sketches import generic, misragries as mg

    spark = df.sparkSession
    words = lambda: words_col(F.lower(F.col(text_col)))  # noqa: E731

    # 1. Misra-Gries candidate pass: one sketch fold over the model
    #    token stream; the collect is ONE row holding =< capacity items.
    tok_model = model.select(F.explode(words()).alias("w"))
    sk = generic.sketch_agg(tok_model, "w", mg.kind(mg_capacity))
    state = mg.decode(sk.first()["sketch"])
    cand = sorted(state["counts"])
    cand_df = spark.createDataFrame([(w,) for w in cand], "w string")

    # 2. exact recount of candidates only -> deterministic top-K
    #    (count desc, token asc).  The sort input is =< mg_capacity rows.
    vocab = (
        tok_model.join(F.broadcast(cand_df), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("w"))
        .limit(max_vocab)
        .select("w")
        .localCheckpoint(eager=True)  # =< max_vocab rows, joined 6x below
    )
    v_size = vocab.count() + 1  # + <unk>

    def mapped(frame: DataFrame, col: str) -> DataFrame:
        """Replace ``col`` by its vocab mapping (token, '<unk>', or NULL
        passed through) via a broadcast membership join."""
        marker = f"__v_{col}"
        return (
            frame.join(
                F.broadcast(vocab.select(F.col("w").alias(marker))),
                F.col(col) == F.col(marker),
                "left",
            )
            .withColumn(
                col,
                F.when(F.col(marker).isNotNull(), F.col(col))
                .when(F.col(col).isNotNull(), F.lit("<unk>")),
            )
            .drop(marker)
        )

    # 3. model tables over the MAPPED stream — vocab-bounded by
    #    construction, so both are explicitly broadcast
    uni = F.broadcast(
        mapped(tok_model, "w").groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    )
    stats = F.broadcast(
        tok_model.agg(F.count(F.lit(1)).alias("n"))
        .withColumn("v", F.lit(v_size).cast("long"))
        .withColumn("__x", F.lit(1))
    )
    bi = F.broadcast(
        mapped(mapped(_lm_pair_stream(model, [], text_col), "w1"), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )

    # 4. scoring: the document gram stream through the same mapping,
    #    then broadcast joins against the capped model
    doc_pairs = mapped(
        mapped(_lm_pair_stream(df, [id_col], text_col), "w1"), "w2"
    )
    lp_bi = (
        doc_pairs.join(bi, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1", "left")
        .withColumn("__x", F.lit(1))
        .join(stats, "__x")
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
        .groupBy(id_col)
        .agg(F.sum("lp").alias("slp"))
    )
    heads = mapped(
        df.select(
            F.col(id_col),
            F.get(words(), 0).alias("w"),
            F.size(words()).alias("n_tokens"),
        ),
        "w",
    )
    heads = (
        heads.join(uni, "w", "left")
        .withColumn("__x", F.lit(1))
        .join(stats, "__x")
        .select(
            id_col,
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.log(
                    (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n") + F.col("v"))
                ),
            ).otherwise(F.lit(0.0)).alias("lp0"),
        )
    )
    return heads.join(lp_bi, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            -(F.col("lp0") + F.coalesce(F.col("slp"), F.lit(0.0)))
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)).alias("cross_entropy"),
    )


def _lm_pair_stream(
    frame: DataFrame, cols: list[str], text_col: str
) -> DataFrame:
    """(cols..., w1, w2) adjacent-token pairs, built array-side (zip of
    the word array with its shift — no shuffle, no window) then exploded."""
    w = words_col(F.lower(F.col(text_col)))
    n = F.size(w)
    w1s = F.slice(w, 1, F.greatest(n - 1, F.lit(0)))
    w2s = F.slice(w, 2, F.greatest(n - 1, F.lit(0)))
    pairs = F.zip_with(
        w1s, w2s, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
    )
    return frame.select(*cols, F.explode(pairs).alias("p")).select(
        *cols, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    model_df: DataFrame | None = None,
    max_vocab: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020 §4.3): score every document with the bigram-LM cross-entropy
    (:func:`lm_perplexity_scores`), then split each language into
    ``n_buckets`` equal-count quality tiers — head (most fluent),
    middle, tail.  The head/middle thirds are what CCNet keeps for
    training corpora.

    Returns (id_col, lang_col, n_tokens, cross_entropy, bucket 1-based,
    bucket_label head/middle/tail).  Bucket boundaries follow exact
    NTILE semantics: within a language ordered by
    (round(cross_entropy, 4), id) — the rounding makes the order
    engine-portable, the id makes ties deterministic — the first
    ``n mod b`` buckets take ``ceil(n/b)`` rows, the rest ``floor(n/b)``.

    Scale design — deliberately NOT ``ntile() over (partition by lang)``:
    that window puts an entire language in ONE task, and `en` at crawl
    scale is most of the corpus (the same skew hazard PLANS §9 measures
    for hot keys).  Instead the exact rank within a language is
    :func:`_range_scan`'s running count over (lang, score, id), so
    languages SPAN partitions instead of owning one, and a language's
    size is a broadcast per-language count; the bucket then falls out of
    the closed-form NTILE formula from (rank, n_lang).  A NULL language
    is one language."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    scores = lm_perplexity_scores(
        df, id_col, text_col, model_df=model_df, max_vocab=max_vocab
    )
    scored = scores.join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    ).withColumn("__ce", F.round(F.col("cross_entropy"), 4))
    ranked = _range_scan(
        scored, [lang_col], ["__ce", id_col], F.lit(1), num_partitions
    )
    sizes = ranked.groupBy(F.col(lang_col).alias("__lang")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    ranked = ranked.join(
        F.broadcast(sizes), F.col(lang_col).eqNullSafe(F.col("__lang")), "left"
    )
    k = F.col("__cum")
    n = F.col("__n")
    nb = F.lit(int(n_buckets)).cast("long")
    q = (n - n % nb) / nb  # floor(n / nb) in exact integer arithmetic
    q = q.cast("long")
    r = (n % nb).cast("long")
    head_cut = r * (q + F.lit(1))
    safe_q = F.greatest(q, F.lit(1))  # else-branch divisor; q=0 never taken
    bucket = F.when(
        k <= head_cut,
        (k + q) / (q + F.lit(1)),
    ).otherwise(r + (k - head_cut + safe_q - F.lit(1)) / safe_q)
    bucket = F.floor(bucket).cast("int")
    label = (
        F.when(bucket == F.lit(1), F.lit("head"))
        .when(bucket == F.lit(int(n_buckets)), F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return ranked.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("n_tokens"),
        F.col("cross_entropy"),
        bucket.alias("bucket"),
        label.alias("bucket_label"),
    )


_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
# query = everything after the FIRST '?' that occurs BEFORE any '#':
# the lazy [^#]*? prefix cannot cross a fragment marker, so a '?'
# appearing only inside the fragment ("...#sec?x=1") yields NO query
# instead of promoting fragment content into one (round-5 ADVICE fix)
_QUERY_RE = r"^[^#]*?\?([^#]*)"


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for crawl-level dedup — the standard
    normalization set, all JVM expressions:

    1. scheme and host lowercased,
    2. fragment (``#...``) dropped,
    3. default port stripped (http:80 / https:443),
    4. query parameters sorted (``&``-split, lexicographic), empty query
       dropped,
    5. empty path becomes ``/``.

    Userinfo is preserved verbatim; bracketed IPv6 hosts are out of
    scope (the port split keys on the LAST ':').  Non-URL strings (no
    ``scheme://``) pass through unchanged.  Compose with
    ``deduplicate_exact`` keyed on the canonical form, or with
    ``url_features`` for per-site analytics."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    # userinfo@hostport: keep userinfo verbatim, lowercase host, drop
    # the port when it is the scheme default
    has_user = auth.contains("@")
    hostport = F.element_at(F.split(auth, "@"), -1)
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.when(
        hostport.contains(":"), F.substring_index(hostport, ":", -1)
    ).otherwise(F.lit(""))
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    new_auth = F.concat(
        F.when(has_user, F.concat(F.substring_index(auth, "@", 1), F.lit("@")))
        .otherwise(F.lit("")),
        host,
        F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port)),
    )
    path = url_path(url)
    new_path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(url, _QUERY_RE, 1)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(q, "&"), lambda x: x != "")), "&"
    )
    new_q = F.when(sorted_q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_q)
    )
    canon = F.concat(scheme, F.lit("://"), new_auth, new_path, new_q)
    return F.when(scheme == "", url).otherwise(canon)


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds host / registered_domain / path_depth — row-local JVM
    expressions; feed the result straight into sketch_by('url', keys=
    ['registered_domain']) for per-site distinct-page estimates, or salt
    on host for skewed crawls (the north-star layout)."""
    u = F.col(url_col)
    h = url_host(u)
    return (
        df.withColumn("host", h)
        .withColumn("registered_domain", registered_domain(h))
        .withColumn("path_depth", url_path_depth(u))
    )


def host_suffixes(host: Column) -> Column:
    """All label suffixes of a host, longest first: ``a.b.co.uk`` ->
    ``[a.b.co.uk, b.co.uk, co.uk, uk]``.  Bounded by the label count
    (<= ~10 on real hosts), so the per-row cost is constant."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )


def filter_blocked_hosts(
    df: DataFrame,
    blocked,
    url_col: str = "url",
    id_col: str | None = None,
    blocked_col: str = "domain",
    invert: bool = False,
    max_regex_entries: int = 1000,
) -> DataFrame:
    """URL blocklist filtering (UT1-style domain blocklists): drop rows
    whose host equals a blocked domain OR is a subdomain of one (label-
    suffix match — ``ads.example.com`` is blocked by ``example.com``;
    ``notexample.com`` is not).  Rows whose URL yields no host are kept
    (nothing to match).  ``invert=True`` returns the BLOCKED rows
    instead — the audit view.

    Two shapes, picked by the type of ``blocked``:

    * a Python sequence (curated lists, <= ~100k entries): ONE row-local
      filter evaluated in the scan stage — zero shuffle, zero Python;
      the 100 TB hot path.  Up to ``max_regex_entries`` entries it is an
      anchored regex alternation over the host (whole-stage codegen,
      2.1M urls/s measured); past that, ``exists(host_suffixes, isin)``
      — a per-suffix hash-set probe whose cost is independent of the
      list size (PLANS §37).
    * a DataFrame with column ``blocked_col`` (multi-million-entry UT1
      dumps that would bloat the plan as literals): requires ``id_col``
      (a unique row key).  A projected (id, suffix) stream — never the
      text/html payload — broadcast-semi-joins the blocklist; the
      matching ids then anti-join back onto the corpus.  The join-back
      shuffles row keys only; on a corpus bucketed by ``id_col``
      (``hllspark.io.write_bucketed``) it co-locates with no exchange
      on the big side.
    """
    host = url_host(F.col(url_col))
    sfx = host_suffixes(host)
    if isinstance(blocked, DataFrame):
        if not id_col:
            raise ValueError("DataFrame blocklists require id_col (unique row key)")
        bl = (
            blocked.select(
                F.lower(F.col(blocked_col).cast("string")).alias("__bl_domain")
            )
            .where(F.col("__bl_domain").isNotNull() & (F.col("__bl_domain") != ""))
            .distinct()
        )
        pairs = df.select(F.col(id_col), F.explode(sfx).alias("__sfx"))
        hit_ids = (
            pairs.join(
                F.broadcast(bl), pairs["__sfx"] == bl["__bl_domain"], "left_semi"
            )
            .select(id_col)
            .distinct()
        )
        return df.join(hit_ids, id_col, "left_semi" if invert else "left_anti")
    vals = sorted({str(d).strip().lower() for d in blocked if d and str(d).strip()})
    if not vals:
        return df.where(F.lit(False)) if invert else df
    # strategy measured at 2M urls (PLANS §37): one anchored regex
    # alternation is ~5x faster than any array form for curated-size
    # lists but degrades linearly with entries (0.04M rows/s at 20k);
    # exists(suffixes, isin) is list-size-INDEPENDENT (~0.6M rows/s at
    # 500 and 20k alike, isin compiles to a hash-set probe), so it takes
    # over past the measured crossover
    if len(vals) <= max_regex_entries:
        pat = "(^|\\.)(" + "|".join(_re.escape(v) for v in vals) + ")$"
        hit = F.coalesce(host.rlike(pat), F.lit(False))
    else:
        hit = F.coalesce(F.exists(sfx, lambda s: s.isin(*vals)), F.lit(False))
    return df.where(hit if invert else ~hit)


# ---------------------------------------------------------------------------
# Naive-Bayes log-odds quality classifier (fastText-style filter stage)
# ---------------------------------------------------------------------------

def nb_quality_weights(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    smoothing: float = 1.0,
    max_features: int | None = None,
) -> DataFrame:
    """(token, weight) Naive-Bayes log-odds table from a labeled sample —
    the classifier behind the DCLM/FineWeb-style quality-filter stage,
    trainable entirely in-plan (two aggregates, no gradient loop):

      weight(w) = ln((C_pos(w) + a) / (N_pos + a*V))
                - ln((C_neg(w) + a) / (N_neg + a*V))

    with token-frequency counts C, class token totals N, vocabulary size
    V and Laplace ``smoothing`` a.  ``label_col`` must be 0/1 (castable);
    null-label rows are excluded from training entirely (they would
    otherwise inflate V while counting toward neither class).
    ``max_features`` keeps only the top-K tokens by |weight| (ties by
    token) — the broadcast-bounded open-vocab path; dropped tokens score
    as 0 exactly like unseen ones, so capping only shrinks, never skews.

    Plan: explode tokens with the label -> ONE map-side-combined
    groupBy(token) carrying both class counts -> class totals + V from a
    single tiny agg broadcast back via crossJoin (1 row).  The cap is a
    TakeOrdered (no full sort shuffle).
    """
    toks = labeled.where(F.col(label_col).isNotNull()).select(
        F.col(label_col).cast("double").alias("y"),
        F.explode(
            F.coalesce(
                words_col(F.col(text_col)), F.array().cast("array<string>")
            )
        ).alias("token"),
    )
    per_tok = toks.groupBy("token").agg(
        F.sum("y").alias("c_pos"),
        F.sum(1 - F.col("y")).alias("c_neg"),
    )
    totals = per_tok.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    a = F.lit(float(smoothing))
    w = (
        F.log((F.col("c_pos") + a) / (F.col("n_pos") + a * F.col("v")))
        - F.log((F.col("c_neg") + a) / (F.col("n_neg") + a * F.col("v")))
    ).alias("weight")
    out = per_tok.crossJoin(F.broadcast(totals)).select("token", w)
    if max_features is not None:
        out = out.orderBy(
            F.abs(F.col("weight")).desc(), F.col("token")
        ).limit(int(max_features))
    return out


def nb_quality_scores(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prior: float = 0.0,
) -> DataFrame:
    """Per-document quality score under a (token, weight) log-odds table
    (``nb_quality_weights`` or any externally trained linear model):

      score = sigmoid(prior + mean over tokens of weight(token))

    Mean (not sum) keeps the score length-invariant, like fastText's
    averaged bag-of-words; unknown tokens contribute 0; zero-token docs
    score sigmoid(prior).  Returns (id_col, n_tokens, score).

    Plan: document token stream left-joins the broadcast weights table
    (vocab-bounded — cap with max_features at open-vocab scale) and
    reduces per doc; one (id)-keyed shuffle, text never shuffles.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.coalesce(
                words_col(F.col(text_col)), F.array().cast("array<string>")
            )
        ).alias("token"),
    )
    summed = (
        toks.join(F.broadcast(weights), "token", "left")
        .groupBy("id")
        .agg(
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    p = F.lit(float(prior))
    logit = p + F.when(
        F.coalesce(F.col("n"), F.lit(0)) > 0,
        F.col("s") / F.col("n"),
    ).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(summed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_tokens"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169) — hashed-ngram importance weights between a small
# target corpus (the distribution you WANT, e.g. high-quality reference
# text) and the raw corpus, then Gumbel-top-k resampling proportional to
# the importance weight.  The model is two bag-of-hashed-ngrams bucket
# histograms; everything is bounded by num_buckets regardless of corpus
# size, so the weight table always broadcasts — the 100 TB shape is one
# map-side-combined groupBy per corpus plus a broadcast join at scoring.
# ---------------------------------------------------------------------------

_DSIR_SEP = "\x1f"


def dsir_bucket(gram: Column, num_buckets: int, seed: int = 0) -> Column:
    """Engine-portable hashed-feature bucket in [0, num_buckets): first 8
    md5 hex digits (32 bits, exact in a long) of ``gram || sep || seed``,
    mod num_buckets — reproducible bit-identically in any engine with md5
    (the same trick as sampling._md5_hex8, kept separate so feature
    hashing and sampling draws are independent hash streams)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(_DSIR_SEP, gram, F.lit(str(seed)))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(int(num_buckets)))


def _dsir_feature_stream(
    df: DataFrame,
    text_col: str,
    num_buckets: int,
    n_max: int,
    seed: int,
    id_col: str | None = None,
) -> DataFrame:
    """(bucket) — or (id, bucket) — one row per word n-gram occurrence
    (n = 1..n_max), bucketed by ``dsir_bucket``.  Counts, not distinct:
    DSIR's unigram/bigram model is a bag-of-features histogram."""
    grams = ngram_col(F.col(text_col), 1)
    for n in range(2, n_max + 1):
        grams = F.concat(grams, ngram_col(F.col(text_col), n))
    cols = [F.explode(grams).alias("gram")]
    if id_col is not None:
        cols.insert(0, F.col(id_col).alias("id"))
    out = df.select(*cols)
    b = dsir_bucket(F.col("gram"), num_buckets, seed).alias("bucket")
    return out.select("id", b) if id_col is not None else out.select(b)


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    num_buckets: int = 4096,
    n_max: int = 2,
    smoothing: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """(bucket, weight) hashed-ngram log importance weights:

      weight(b) = ln((C_target(b) + a) / (N_target + a*B))
                - ln((C_raw(b) + a) / (N_raw + a*B))

    over word unigrams..n_max-grams hashed into B = ``num_buckets``
    buckets, Laplace-smoothed with a = ``smoothing``.  The table has
    EXACTLY num_buckets rows (empty buckets included — under smoothing an
    unseen bucket still carries the nonzero prior log-ratio), so scoring
    joins never miss and the broadcast is bounded by construction.

    Plan: one explode + map-side-combined groupBy(bucket) per corpus
    (≤ B rows reach each reduce), totals via a 1-row broadcast crossJoin,
    bucket spine from spark.range — no shuffle ever carries more than B
    rows, at any corpus size."""
    spark = raw.sparkSession
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    if n_max < 1:
        raise ValueError("n_max must be >= 1")

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            _dsir_feature_stream(df, text_col, num_buckets, n_max, seed)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    ct = counts(target, "c_t")
    cr = counts(raw, "c_r")
    totals = (
        ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
        .crossJoin(cr.agg(F.coalesce(F.sum("c_r"), F.lit(0)).alias("n_r")))
    )
    spine = spark.range(int(num_buckets)).select(F.col("id").alias("bucket"))
    a = F.lit(float(smoothing))
    bb = F.lit(float(num_buckets))
    w = (
        F.log(
            (F.coalesce(F.col("c_t"), F.lit(0)) + a)
            / (F.col("n_t") + a * bb)
        )
        - F.log(
            (F.coalesce(F.col("c_r"), F.lit(0)) + a)
            / (F.col("n_r") + a * bb)
        )
    ).alias("weight")
    return (
        spine.join(ct, "bucket", "left")
        .join(cr, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select("bucket", w)
    )


def dsir_scores(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    n_max: int = 2,
    seed: int = 0,
) -> DataFrame:
    """(id_col, n_features, log_weight) per-document log importance
    weight: the sum over the doc's hashed n-gram OCCURRENCES of
    weight(bucket).  num_buckets / n_max / seed must match the
    ``dsir_weights`` call that built ``weights``.  Docs with no features
    (shorter than one word) get log_weight 0.

    Plan: feature stream inner-joins the broadcast B-row weight table
    (never misses — the spine is complete) and reduces per doc; ONE
    (id)-keyed shuffle of (id, weight) pairs, the text never shuffles."""
    stream = _dsir_feature_stream(
        df, text_col, num_buckets, n_max, seed, id_col=id_col
    )
    summed = (
        stream.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.sum("weight").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(summed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_features"),
            F.coalesce(F.col("s"), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    n_max: int = 2,
    smoothing: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """End-to-end DSIR: train importance weights of ``target`` against
    ``df`` as the raw corpus, score every raw doc, and draw k docs
    WITHOUT replacement with probability ∝ exp(log_weight) via
    deterministic Gumbel-top-k (sampling.gumbel_top_k — log-domain, so
    unbounded log weights never overflow).  Returns the selected rows of
    ``df`` with their ``log_weight`` attached."""
    from .sampling import gumbel_top_k

    w = dsir_weights(
        df, target, text_col, num_buckets, n_max, smoothing, seed
    )
    scores = dsir_scores(
        df, w, id_col, text_col, num_buckets, n_max, seed
    )
    picked = gumbel_top_k(
        scores, id_col, "log_weight", k, seed=seed + 1
    ).select(id_col, "log_weight")
    return df.join(F.broadcast(picked), id_col)
