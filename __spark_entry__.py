"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (smoke check at sf0.001).
queries()     — one entry per implemented operator from SURVEY.md §2.
oracle_sql()  — DuckDB-equivalent SQL for every SQL-expressible query.

Sketch ESTIMATES are approximate, so they cannot be oracle-checked against
exact SQL values directly; instead each estimate query has a companion
"within_bound" query that returns the per-group boolean (as int) of the
published-error-bound assertion |est/exact - 1| <= 3 * 1.04/sqrt(m), whose
oracle is simply `1` per group — turning the accuracy guarantee itself into
an oracle-checked result.  Raw-estimate queries stay rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf resolves pd.Series hints here
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hllspark import agg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-language distinct-document estimates with sketch sizes
    over the documents table at sf0.001."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    sk = agg.sketch_by(docs, "text", ["lang"], p=12, algo="hlll")
    return (
        agg.with_estimate(sk)
        .withColumn("sketch_bits", agg.bit_size_udf(F.col("sketch")))
        .select("lang", "distinct_estimate", "sketch_bits")
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

_P = 12  # default precision for oracle-checked bound queries
_BOUND = 3 * 1.04 / (1 << (_P // 2))  # 3 sigma of 1.04/sqrt(2^p); p even


def _q_exact_distinct_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
        .orderBy("event_type")
    )


def _q_exact_distinct_docs_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.countDistinct("text").alias("distinct_texts"))
        .orderBy("lang")
    )


def _q_hll_users_by_type_estimate(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return agg.approx_distinct(ev, "user_id", ["event_type"], p=_P).orderBy(
        "event_type"
    )


def _within_bound(est_df: DataFrame, exact_df: DataFrame, key: str) -> DataFrame:
    # relative 3-sigma HLL bound, plus a per-group linear-counting slack:
    # at n << m the estimator is linear counting, whose error events are
    # whole register collisions, each an O(1) ABSOLUTE error, so a tiny
    # group (e.g. 15 users at sf0.001) may sit 1 register off while being
    # exactly as accurate as the algorithm promises.  The slack is the
    # expected collision count E = n^2/2m plus 3 of its (Poisson) sigmas,
    # rounded up and capped at 2: at p=12 it is 1 for n <= ~27 and 2
    # above, where the relative bound takes over by n ~ 41.
    j = est_df.join(exact_df, key)
    collisions = F.col("exact") * F.col("exact") / F.lit(2.0 * (1 << _P))
    slack = F.least(F.ceil(collisions + 3 * F.sqrt(collisions)), F.lit(2))
    return (
        j.select(
            key,
            (
                F.abs(F.col("distinct_estimate") - F.col("exact"))
                <= F.greatest(F.lit(_BOUND) * F.col("exact"), slack)
            )
            .cast("int")
            .alias("within_bound"),
        )
        .orderBy(key)
    )


def _q_hll_users_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    est = agg.approx_distinct(ev, "user_id", ["event_type"], p=_P)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact"))
    return _within_bound(est, exact, "event_type")


def _q_sql_api_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Pure-spark.sql sketch surface (hllspark.sqlfuncs): per-(type, day)
    sketches built, re-merged to per-type, and estimated ENTIRELY through
    registered SQL functions — plus byte-parity of the SQL-built global
    sketch with the DataFrame API's farmhash build (one wire format across
    both surfaces).  within_bound gates the estimate at the usual
    1.5 * 1.04/sqrt(m) + linear-counting slack; bytes_equal gates parity."""
    from hllspark import sqlfuncs

    ev = _t(spark, sf, "events")
    ev.createOrReplaceTempView("sql_api_events")
    sqlfuncs.register_sql_functions(spark, p=_P)
    est = spark.sql(
        "WITH daily AS (SELECT event_type, to_date(ts) AS day, "
        " hll_build_agg(user_id) AS sk FROM sql_api_events "
        " GROUP BY event_type, to_date(ts)) "
        "SELECT event_type, hll_estimate(hll_merge_agg(sk)) AS distinct_estimate "
        "FROM daily GROUP BY event_type"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    bound = _within_bound(est, exact, "event_type")

    sql_global = spark.sql(
        "SELECT hll_build_agg(user_id) AS sk FROM sql_api_events"
    ).first()["sk"]
    df_global = (
        agg.sketch_by(ev, "user_id", p=_P, hash_mode="farmhash", impl="pandas")
        .first()["sketch"]
    )
    parity = int(bytes(sql_global) == bytes(df_global))
    return bound.withColumn("bytes_equal", F.lit(parity)).orderBy("event_type")


def _q_hll_docs_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    est = agg.approx_distinct(docs, "text", ["lang"], p=_P)
    exact = docs.groupBy("lang").agg(F.countDistinct("text").alias("exact"))
    return _within_bound(est, exact, "lang")


def _q_hll_merge_reagg_consistent(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day sketches re-merged == directly-built global sketch
    (merge associativity, reference test.cpp:672-736 at plan level)."""
    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = agg.sketch_by(ev, "user_id", ["day"], p=10)
    remerged = agg.merge_sketches(daily).select(
        F.col("sketch").alias("s1")
    )
    direct = agg.sketch_by(ev, "user_id", p=10).select(F.col("sketch").alias("s2"))
    return remerged.crossJoin(direct).select(
        (F.col("s1") == F.col("s2")).cast("int").alias("merge_consistent")
    )


def _q_hlll_smaller_than_hll(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLogLog compression beats dense HLL's 6m bits per group
    (the paper's space claim, HyperLogLogLog.hpp:145-147)."""
    docs = _t(spark, sf, "documents")
    sk = agg.sketch_by(docs, "text", ["lang"], p=_P, algo="hlll")
    return (
        sk.select(
            "lang",
            (agg.bit_size_udf(F.col("sketch")) < F.lit(6 * (1 << _P)))
            .cast("int")
            .alias("hlll_smaller"),
        )
        .orderBy("lang")
    )


def _q_hll_linear_counting_exact_small(spark: SparkSession, sf: str) -> DataFrame:
    """For n << m the linear-counting branch (HyperLogLog.hpp:104-105)
    rounds to the exact distinct count — deterministic, oracle-checkable."""
    ev = _t(spark, sf, "events")
    est = agg.approx_distinct(ev, "event_type", p=_P)
    return est.select(
        F.round("distinct_estimate").cast("long").alias("distinct_event_types")
    )


# --- text / dedup / similarity operator queries ---------------------------


def _q_html_extract_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Wrap each document's text in a deterministic HTML page template
    (head/style/meta boilerplate, a multi-line comment, a script whose
    body contains both ``<`` and a fake ``</p>`` close tag, block +
    inline tags, and an entity tail exercising nbsp / amp-last / #39 /
    lt+gt decoding), then run :func:`hllspark.text.extract_text_html`.
    The fixture text is verified clean (no ``<``/``&``, single-spaced,
    trimmed) so the expected extraction is a pure string construction
    the oracle can state independently of any regex engine."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit(
            '<html><head><title>boiler</title><style media="x">p{color:red}'
            '</style><meta charset="utf-8"></head><body><!-- strip\n me -->'
            '<script type="text/javascript">if (1 < 2) { var s = "</p>"; }'
            '</script><h1 class="big">Doc '
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            "&nbsp;&amp;tail</p><ul><li>A&#39;s &lt;x&gt;</li></ul>"
            "</body></html>"
        ),
    )
    return docs.select(
        "doc_id", htext.extract_text_html(html).alias("extracted")
    ).orderBy("doc_id")


def _q_text_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", htext.token_count(F.col("text")).cast("long").alias("n_tokens")
    ).orderBy("doc_id")


def _q_text_stats_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
            F.round(F.avg(htext.token_count(F.col("text"))), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def _q_exact_dedup_group_count(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import dedup

    docs = _t(spark, sf, "documents")
    return dedup.exact_duplicates(docs).agg(
        F.count(F.lit(1)).alias("dup_groups")
    )


def _q_word_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import dedup

    docs = _t(spark, sf, "documents")
    pairs = (
        docs.where(F.col("doc_id") < 12)
        .select(F.col("doc_id").alias("id_a"))
        .crossJoin(
            docs.where(F.col("doc_id") < 12).select(F.col("doc_id").alias("id_b"))
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    return (
        dedup.ngram_jaccard(pairs, docs, k=1)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _q_shingle3_distinct_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    ex = htext.explode_shingles(docs, "text", k=3)
    return (
        ex.groupBy("lang")
        .agg(F.countDistinct("shingle").alias("distinct_shingles"))
        .orderBy("lang")
    )


def _q_hll_shingles_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    ex = htext.explode_shingles(docs, "text", k=3)
    est = agg.approx_distinct(ex, "shingle", ["lang"], p=_P)
    exact = ex.groupBy("lang").agg(F.countDistinct("shingle").alias("exact"))
    return _within_bound(est, exact, "lang")


def _q_cosine_top3(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.brute_force_top_k(emb, queries_df, k=3)
        .select(
            "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
        .orderBy("query_id", "rank")
    )


def _q_cosine_top1_is_self(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top1 = similarity.brute_force_top_k(emb, queries_df, k=1)
    return top1.select(
        "query_id",
        (F.col("vec_id") == F.col("query_id")).cast("int").alias("is_self"),
    ).orderBy("query_id")


def _q_pq_recall_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (round 5): PQ codes (8 bytes/vector, 32x
    under float32) scored via ADC lookup tables must put every query's
    own vector at rank 1 (its code's ADC score is the maximum possible)
    and recall at least 5 of the exact cosine top-10 per query on the
    fixture (measured floor at sf0.001/sf0.01 is exactly 5; the pytest
    additionally gates aggregate recall >= 0.7) — the within-bound
    oracle pattern (approximate structure gated by exact expectations)."""
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.first()["embedding"])
    books = similarity.fit_pq_codebooks(emb, dim, m=8, nbits=8, seed=7)
    codes = similarity.pq_encode(emb, books)
    queries_df = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_top_k(emb, queries_df, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.pq_top_k(codes, queries_df, books, k=10)
    top1 = approx.where(F.col("rank") == 1).select(
        "query_id",
        (F.col("vec_id") == F.col("query_id")).cast("int").alias("self_top1"),
    )
    rec = (
        exact.join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) >= 5).cast("int").alias("recall_ok"))
    )
    return top1.join(rec, "query_id").orderBy("query_id")


def _q_lang_id_markers(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is in the house"),
            (1, "der Hund und die Katze ist das Tier"),
            (2, "le chat et la maison les arbres des fleurs"),
            (3, "zzzz qqqq xxxx"),
        ],
        "sample_id int, sample string",
    )
    return df.select(
        "sample_id", htext.lang_id(F.col("sample")).alias("lang_pred")
    ).orderBy("sample_id")


def _q_simhash_self_hamming(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import dedup

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 50)
    sh = docs.select("doc_id", dedup.simhash(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
            .cast("int")
            .alias("self_hamming"),
        )
        .orderBy("doc_id")
    )


def _q_minhash_lsh_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, value-matched against DuckDB's
    EXHAUSTIVE word-3-gram jaccard self-join: the corpus slice is augmented
    with five planted near-twins (three appended tokens, jaccard n/(n+3) ~
    0.97+) identically on both sides.  At threshold 0.8 with 16 bands x 4
    rows a true pair at s >= 0.8 shares a band w.p. >= 1-(1-0.8^4)^16 ~
    0.9997 (planted twins: ~1-1e-16), and hashing is seeded/deterministic —
    the candidate set is exhaustive on this corpus, so LSH+verify equals
    the exhaustive join row for row."""
    from hllspark import dedup

    return (
        dedup.minhash_near_duplicates(_aug_docs(spark, sf), threshold=0.8)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _aug_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The shared near-dup fixture: documents slice + five planted
    near-twins (see _q_minhash_lsh_near_dups)."""
    docs = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    twins = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqx zqx zqx")).alias("text"),
    )
    return docs.unionByName(twins)


def _q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate clusters: MinHash+LSH pairs -> connected components
    (min-label propagation).  Value-matched against DuckDB's recursive-CTE
    transitive closure over the exhaustive jaccard pair graph."""
    from hllspark import dedup

    pairs = dedup.minhash_near_duplicates(_aug_docs(spark, sf), threshold=0.8)
    return (
        dedup.connected_components(pairs)
        .select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))
        .orderBy("doc_id")
    )


def _q_near_dedup_count(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dedup: keep one representative per near-dup cluster;
    the surviving row count must equal n - (nodes - components) computed
    exhaustively by the DuckDB oracle."""
    from hllspark import dedup

    kept = dedup.deduplicate_near(_aug_docs(spark, sf), threshold=0.8)
    return kept.agg(F.count(F.lit(1)).alias("n_after_near_dedup"))


def _q_farmhash_golden(spark: SparkSession, sf: str) -> DataFrame:
    """Reference hash parity inside the oracle gate: farmhash::Hash64 of the
    reference's own golden inputs (test.cpp:428-437), as signed int64."""
    from hllspark import text as htext

    df = spark.createDataFrame(
        [(0, ""), (1, "a"), (2, "qwerty"), (3, "asdf"), (4, "Hamburgevons")],
        "i int, s string",
    )
    fp = htext.farmhash_fingerprint_udf()
    return df.select("i", fp(F.col("s")).alias("h")).orderBy("i")


def _q_quality_stats_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    qf = htext.quality_features(docs)
    return (
        qf.groupBy("lang")
        .agg(
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("mean_word_len"), 4).alias("avg_word_len"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def _q_bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import text as htext

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        htext.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def _q_fingerprint_collision_free(spark: SparkSession, sf: str) -> DataFrame:
    """content_fingerprint is injective on this corpus: #distinct prints ==
    #distinct normalized texts (collision probability ~ n^2/2^64)."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    agg_row = docs.agg(
        F.countDistinct(htext.content_fingerprint(F.col("text"))).alias("n_fp"),
        F.countDistinct(norm).alias("n_norm"),
    )
    return agg_row.select(
        (F.col("n_fp") == F.col("n_norm")).cast("int").alias("collision_free")
    )


def _q_dedup_keep_one_count(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import dedup

    docs = _t(spark, sf, "documents")
    return dedup.deduplicate_exact(docs).agg(
        F.count(F.lit(1)).alias("n_after_dedup")
    )


def _q_multimodal_feature_dims(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark import multimodal

    media = multimodal.synthesize_media(spark, 60)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", F.size("features").alias("feat_dim")
    ).orderBy("media_id")


def _q_frame_sample_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plan: sampled-frame count == ceil(n_frames/30)
    per video row (pure-SQL explode plan, decode stubbed)."""
    from hllspark import multimodal

    media = multimodal.synthesize_media(spark, 60)
    plan = multimodal.frame_sample_plan(media, every_n=30)
    per = plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_sampled"))
    j = media.where(F.col("kind") == "video").join(per, "media_id")
    return j.select(
        "media_id",
        (F.col("n_sampled") == F.ceil(F.col("n_frames") / 30))
        .cast("int")
        .alias("frames_ok"),
    ).orderBy("media_id")


def _q_hllzstd_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """zstd-compressed sketch variant (reference HyperLogLogZstd.hpp):
    build grouped sketches through the zstd codec, estimates must land
    within the same 3-sigma bound as dense HLL."""
    ev = _t(spark, sf, "events")
    sk = agg.sketch_by(ev, "user_id", ["event_type"], p=_P, algo="hllzstd")
    est = agg.with_estimate(sk).select("event_type", "distinct_estimate")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact"))
    return _within_bound(est, exact, "event_type")


def _q_jr_build_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's jr datatype end-to-end: derive (j, r) pairs from
    event user_ids with the exact reference split (j = top-p bits of the
    Fibonacci hash, r = clz+1 of the raw hash), build from pairs, estimate.
    Must equal the estimate from building over the values directly, and
    stay within bound of the exact count."""
    ev = _t(spark, sf, "events")
    v = F.xxhash64(F.col("user_id"))
    j_expr, r_expr = agg._jr_columns_sql(v, _P)
    jr = ev.where(F.col("user_id").isNotNull()).select(
        j_expr.alias("j"), r_expr.alias("r")
    )
    sk = agg.sketch_from_jr(jr, p=_P)
    est = agg.with_estimate(sk).select("distinct_estimate")
    # direct build over the values: identical register states -> the numpy
    # estimator must produce the bit-identical double (the SQL estimator
    # differs in float summation order, so compare sketch-to-sketch)
    direct = agg.with_estimate(agg.sketch_by(ev, "user_id", p=_P)).select(
        F.col("distinct_estimate").alias("direct_estimate")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact"))
    return (
        est.crossJoin(direct)
        .crossJoin(exact)
        .select(
            (F.col("distinct_estimate") == F.col("direct_estimate"))
            .cast("int")
            .alias("jr_equals_direct"),
            (
                (F.abs(F.col("distinct_estimate") - F.col("exact")) / F.col("exact"))
                <= F.lit(_BOUND)
            )
            .cast("int")
            .alias("within_bound"),
        )
    )


def _q_kmv_overlap_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """KMV sketch set operations (Beyer'07): distinct users per event type
    as k-minimum-values sketches; estimate, jaccard, and intersection of
    the two alphabetically-first types each within their published bounds
    vs the exact SQL answers."""
    from hllspark.sketches import generic, kmv

    ev = _t(spark, sf, "events")
    types = [
        r[0]
        for r in ev.select("event_type").distinct().orderBy("event_type").limit(2).collect()
    ]
    sk = generic.sketch_agg(
        ev.where(F.col("event_type").isin(types)), "user_id", kmv.kind(1024),
        keys=["event_type"],
    ).collect()
    states = {r["event_type"]: kmv.decode(bytes(r["sketch"])) for r in sk}
    A, B = states[types[0]], states[types[1]]
    ua = ev.where(F.col("event_type") == types[0]).select("user_id").distinct()
    ub = ev.where(F.col("event_type") == types[1]).select("user_id").distinct()
    na, nb = ua.count(), ub.count()
    ni = ua.join(ub, "user_id").count()
    nu = na + nb - ni
    tol = 4 / (1024 ** 0.5)  # ~4 sigma of 1/sqrt(k)
    est_ok = abs(kmv.estimate(A) - na) / max(na, 1) < tol
    jac = kmv.jaccard(A, B)
    true_jac = ni / max(nu, 1)
    jac_ok = abs(jac - true_jac) < 5 * tol
    int_ok = abs(kmv.intersection_estimate(A, B) - ni) / max(ni, 1) < 5 * tol
    return spark.createDataFrame(
        [(int(est_ok), int(jac_ok), int(int_ok))],
        "estimate_ok int, jaccard_ok int, intersection_ok int",
    )


def _q_multi_distinct_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """One-scan multi-column distinct estimates (user_id + props per
    event_type) each within the 3-sigma bound of the exact counts."""
    ev = _t(spark, sf, "events")
    est = agg.approx_distinct_multi(ev, ["user_id", "props"], ["event_type"], p=_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("xu"),
        F.countDistinct("props").alias("xp"),
    )
    j = est.join(exact, "event_type")
    ok = lambda e, x: (
        (F.abs(F.col(e) - F.col(x)) / F.col(x)) <= F.lit(_BOUND)
    ).cast("int")
    return j.select(
        "event_type",
        ok("distinct_user_id", "xu").alias("users_ok"),
        ok("distinct_props", "xp").alias("props_ok"),
    ).orderBy("event_type")


def _q_approx_quantiles_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped KLL quantiles: for each (event_type, prob), the true rank of
    the estimated quantile must lie within 0.03 of prob (KLL rank-error
    guarantee at k=200)."""
    from hllspark.sketches import generic

    ev = _t(spark, sf, "events")
    probs = [0.25, 0.5, 0.75]
    est = generic.approx_quantiles(ev, "value", probs, keys=["event_type"])
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    le = (
        est.alias("e")
        .join(ev.alias("v"), F.col("e.event_type") == F.col("v.event_type"))
        .where(F.col("v.value") <= F.col("e.quantile"))
        .groupBy("e.event_type", "e.prob")
        .agg(F.count("*").alias("n_le"))
    )
    return (
        est.join(le, ["event_type", "prob"], "left")
        .join(counts, "event_type")
        .select(
            "event_type",
            "prob",
            (
                F.abs(F.coalesce(F.col("n_le"), F.lit(0)) / F.col("n") - F.col("prob"))
                <= 0.03
            )
            .cast("int")
            .alias("rank_ok"),
        )
        .orderBy("event_type", "prob")
    )


def _q_embedding_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup dedup (sign-LSH candidates + exact cosine
    filter) vs DuckDB's exhaustive self-join at the same threshold.  The
    fixture has no natural near-dups (max cross cosine ~0.51), so five
    deterministic twins (scaled copies, cosine exactly 1.0) are planted
    identically in both engines; at cos >= 0.95 a 24-plane/8-band
    signature shares a band with probability ~0.99997, so the LSH
    candidate set is exhaustive here and the result value-matches."""
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    twins = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * 1.0001).cast("float")
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(twins)
    return (
        similarity.near_duplicates_by_cosine(aug, dim, threshold=0.95)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _q_semantic_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023: cluster the embedding space, drop
    semantic duplicates within each cluster) over the twin-augmented
    embeddings table, with engine-portable seed centroids (the 4 rows
    with smallest md5(id || '|7')) and the declarative 'expr' assignment
    path.  The DuckDB oracle replicates seed selection, argmax-cosine
    assignment (tie: lowest cell), and the keep-min-id within-cluster
    drop rule end-to-end — exactly 5 planted twins drop (organic max
    cross cosine ~0.51 < eps)."""
    import numpy as np

    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    twins = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * 1.0001).cast("float")
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(twins)
    seeds = similarity._seed_rows(aug, 4, "vec_id", "embedding", 7)
    C = np.asarray([r.v for r in seeds], dtype=np.float64)
    return (
        similarity.semantic_dedup(aug, dim, eps=0.95, centroids=C, impl="expr")
        .select("vec_id", "cell", F.col("kept").cast("int").alias("kept"))
        .orderBy("vec_id")
    )


def _q_kmeans_centroid_update(spark: SparkSession, sf: str) -> DataFrame:
    """ONE distributed spherical-Lloyd iteration (k=4, engine-portable
    md5-seeded init) over the embeddings table; every centroid component,
    rounded to 6dp.  Gates the distributed update math — Arrow-matmul
    assignment, in-plan L2 normalization, posexplode + ONE map-side-
    combined groupBy(cell, pos) — against a pure-SQL replica (argmax
    cosine assignment, per-(cell,pos) mean of unit vectors, per-cell
    renormalization).  The oracle assumes all 4 cells non-empty (holds on
    the fixture; the empty-cell keep-previous rule is pytest-gated)."""
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    C = similarity.kmeans_fit_distributed(emb, dim, k=4, iters=1, seed=7)
    rows = [
        (c, p, float(C[c, p]))
        for c in range(C.shape[0])
        for p in range(dim)
    ]
    return (
        spark.createDataFrame(rows, "cell int, pos int, comp double")
        .select("cell", "pos", F.round("comp", 6).alias("comp"))
        .orderBy("cell", "pos")
    )


def _q_misra_gries_exact_when_k_covers(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries heavy-hitters summary built distributed (partial per
    partition + mergeable-summary merge); with k >= #distinct items the
    counters are provably exact, so the summary must value-match the exact
    GROUP BY counts."""
    from hllspark.sketches import generic, misragries as mg

    ev = _t(spark, sf, "events")
    sk = generic.sketch_agg(ev, "event_type", mg.kind(64)).collect()[0]["sketch"]
    st = mg.decode(bytes(sk))
    rows = sorted(st["counts"].items())
    return spark.createDataFrame(rows, "item string, cnt long").orderBy("item")


def _q_mg_grouped_exact(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED Misra-Gries heavy hitters (one summary per day, merged
    distributed): with k >= #distinct items per group the counters are
    provably exact, so every (day, item, count) row must value-match the
    exact GROUP BY — the grouped companion of
    misra_gries_exact_when_k_covers.  Decode/expansion runs distributed
    via applyInPandas over the per-day sketch rows."""
    import pandas as pd_  # local alias; module-level pd used by hints

    from hllspark.sketches import generic, misragries as mg

    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    sk = generic.sketch_agg(ev, "event_type", mg.kind(64), keys=["day"])

    def expand(pdf: pd_.DataFrame) -> pd_.DataFrame:
        st = mg.decode(bytes(pdf["sketch"].iloc[0]))
        items = sorted(st["counts"].items())
        return pd_.DataFrame(
            {
                "day": [pdf["day"].iloc[0]] * len(items),
                "item": [k for k, _ in items],
                "cnt": [v for _, v in items],
            }
        )

    return (
        sk.groupBy("day")
        .applyInPandas(expand, "day date, item string, cnt long")
        # ISO string day: date-typed columns encode differently across
        # Spark/DuckDB/Arrow (date32 vs datetime64) and break value hashes
        .select(F.col("day").cast("string").alias("day"), "item", "cnt")
        .orderBy("day", "item")
    )


def _q_media_header_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Real byte-level media parsing end-to-end: synthesize 300 rows with
    genuine PNG/JPEG/WAV headers, sniff + parse them back, and aggregate —
    the DuckDB oracle recomputes the same stats from the generating
    formulas, so any parsing error breaks the value hash."""
    from hllspark import multimodal as mm

    media = mm.synthesize_media_containers(spark, 300)
    meta = mm.with_media_metadata(media)
    return (
        meta.select(
            F.col("media_meta.format").alias("format"),
            F.coalesce(F.col("media_meta.width"), F.lit(0)).alias("w"),
            F.coalesce(F.col("media_meta.sample_rate"), F.lit(0)).alias("sr"),
        )
        .groupBy("format")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("w") + F.col("sr")).alias("sum_w"),
        )
        .orderBy("format")
    )


def _q_png_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end (round 4): synthesize PNGs with
    closed-form pixel content, decode them with the zlib+numpy PNG
    decoder (no codec library), and report per-image pixel statistics.
    The DuckDB oracle recomputes the identical statistics from the pixel
    formula with generate_series, so a single wrong byte anywhere in the
    inflate/defilter path breaks the value hash."""
    import numpy as np

    from hllspark import multimodal as mm

    media = mm.synthesize_media_containers(spark, 60)
    pngs = media.where(F.col("media_id") % 3 == 0)

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = mm.decode_png(bytes(payload))
                h, w, _ = px.shape
                s = int(px.sum(dtype=np.int64))
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        "pixel_sum": s,
                        "pixel_mean": s / px.size,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    out = pngs.mapInPandas(
        run,
        "media_id bigint, width int, height int, pixel_sum bigint, "
        "pixel_mean double",
    )
    return out.orderBy("media_id")


def _q_jpeg_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG decode end-to-end (round 5): synthesize baseline JPEGs
    whose 8x8 blocks are closed-form constants (exact through all-ones
    quantization), entropy-decode them with the in-repo numpy codec
    (Huffman + dequant + IDCT), and report per-image pixel statistics —
    the oracle recomputes the statistics from jpeg_block_value with
    generate_series, so any wrong bit in the Huffman/DCT path breaks the
    value hash (mirror of png_decode_stats)."""
    import numpy as np

    from hllspark import multimodal as mm

    media = mm.synthesize_media_containers(spark, 60)
    jpegs = media.where(F.col("media_id") % 3 == 1)

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = mm.decode_jpeg(bytes(payload))
                h, w = px.shape
                s = int(px.sum(dtype=np.int64))
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        "pixel_sum": s,
                        "pixel_mean": s / px.size,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    out = jpegs.mapInPandas(
        run,
        "media_id bigint, width int, height int, pixel_sum bigint, "
        "pixel_mean double",
    )
    return out.orderBy("media_id")


def _q_y4m_frame_sample_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video frame sampling end-to-end (round 5): synthesize Y4M
    streams whose frame content is closed-form (y4m_frame_value),
    frame-sample every 5th frame with frame_sample_stats (header-token
    parse + FRAME-marker walk + luma-plane slicing — no codec library),
    and report per-sampled-frame luma statistics.  The DuckDB oracle
    recomputes the identical statistics from the pixel formula with
    range joins, so a wrong byte anywhere in the container walk or plane
    slicing breaks the value hash (mirror of png/jpeg_decode_stats;
    closes the last multimodal decode seam — frame_sample_plan's decode
    step is no longer stubbed)."""
    from hllspark import multimodal as mm

    vids = mm.synthesize_video_containers(spark, 40)
    out = mm.frame_sample_stats(vids, every_n=5)
    return out.orderBy("media_id", "frame_idx")


def _q_zonemap_pruned_users(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-backed file pruning end-to-end (round 5, hllspark/zonemap.py):
    write events range-partitioned by user_id with per-file min/max +
    Bloom sidecars, then answer a needle IN-predicate by reading ONLY the
    files the zone maps cannot rule out.  Bloom's no-false-negative
    guarantee plus the residual filter makes the pruned read row-identical
    to a full scan's filter — the oracle is that full-scan SQL on the
    original table, so a single wrongly-pruned file breaks the value hash.
    File-skipping effectiveness (kept < total) is pytest-gated
    (tests/test_zonemap.py); this query gates soundness."""
    import hashlib
    import shutil

    from hllspark import zonemap as zm

    ev = _t(spark, sf, "events")
    path = "/tmp/hllspark_zm_" + hashlib.sha1(sf.encode()).hexdigest()[:10]
    shutil.rmtree(path, ignore_errors=True)
    zm.write_with_zonemaps(
        ev.repartitionByRange(16, "user_id"),
        path,
        ["user_id"],
        expected_keys_per_file=20000,
        fpp=0.01,
    )
    probe = [3, 7, 11, 140, 9999]  # present x3 / sf0.01-only / absent
    out = zm.read_pruned(spark, path, "user_id", probe)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("sum_uid"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def _q_snapshot_delta_pages(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl snapshot diffing (round 5, crawl.snapshot_delta): old = docs
    0..299, new = docs 100..399 with every 7th text rewritten — so
    0..99 are removed, 300..399 added, 100..299 changed iff id%7==0,
    unchanged otherwise (excluded).  The operator computes this via
    thin (key, xxhash64 fingerprint) projections + ONE full-outer join;
    the oracle states the classification from the construction."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") < 300).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("k"),
        "text",
    )
    new = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 400)).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("k"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    from hllspark import crawl

    out = crawl.snapshot_delta(old, new, key_col="k")
    return out.select("k", "status").orderBy("k")


def _q_zonemap_range_read(spark: SparkSession, sf: str) -> DataFrame:
    """Range-predicate file pruning (round 5, zonemap.read_pruned_range):
    min/max-only sidecar pruning of a BETWEEN scan over the range-
    partitioned events copy written by _q_zonemap_pruned_users' layout
    (rebuilt here under its own path).  min/max pruning is exact, so the
    pruned read is row-identical to the full-scan BETWEEN filter — the
    oracle is that SQL on the original table."""
    import hashlib
    import shutil

    from hllspark import zonemap as zm

    ev = _t(spark, sf, "events")
    path = "/tmp/hllspark_zmr_" + hashlib.sha1(sf.encode()).hexdigest()[:10]
    shutil.rmtree(path, ignore_errors=True)
    zm.write_with_zonemaps(
        ev.repartitionByRange(16, "user_id"),
        path,
        ["user_id"],
        expected_keys_per_file=20000,
    )
    out = zm.read_pruned_range(spark, path, "user_id", 4, 9)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("sum_uid"),
        )
        .orderBy("event_type")
    )


def _q_warc_read_stats(spark: SparkSession, sf: str) -> DataFrame:
    """WARC ingest end-to-end (round 5, hllspark/warc.py): synthesize
    deterministic WARC files (record i is a closed-form function of i;
    files alternate plain / per-record-gzip), read them back with
    read_warc (binaryFile + streaming record parse + HTTP split), and
    report per-record stats including the byte SUM over the decoded
    body — the DuckDB oracle recomputes everything from the generating
    formulas, so any wrong byte in the gzip-member walk, header parse,
    Content-Length slicing, or HTTP envelope split breaks the hash."""
    import hashlib
    import shutil

    from hllspark import warc as W

    n = 48
    path = "/tmp/hllspark_warc_" + hashlib.sha1(sf.encode()).hexdigest()[:10]
    shutil.rmtree(path, ignore_errors=True)
    W.synthesize_warc_files(path, n, records_per_file=16)
    recs = W.read_warc(spark, path)
    body = F.col("payload").cast("string")  # fixture bodies are ascii
    return recs.select(
        "target_uri",
        (
            F.substring("warc_date", 12, 2).cast("int") * 60
            + F.substring("warc_date", 15, 2).cast("int")
        ).alias("minute_of_day"),
        F.length(body).cast("long").alias("body_len"),
        F.expr(
            "aggregate(sequence(1, length(cast(payload as string))), 0L, "
            "(acc, k) -> acc + ascii(substr(cast(payload as string), k, 1)))"
        ).alias("body_byte_sum"),
        F.col("warc_file").endswith(".gz").cast("int").alias("from_gzip"),
    ).orderBy("target_uri")


def _q_sketch_overlap_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Set-operation estimates from sketch columns only: distinct-user
    union/intersection between the two alphabetically-first event types;
    union within the 3-sigma bound, intersection within the looser
    inclusion-exclusion envelope (~6 sigma of the union)."""
    ev = _t(spark, sf, "events")
    types = [r[0] for r in ev.select("event_type").distinct().orderBy("event_type").limit(2).collect()]
    sk = agg.sketch_by(ev.where(F.col("event_type").isin(types)),
                       "user_id", ["event_type"], p=_P)
    a = sk.where(F.col("event_type") == types[0]).select(F.col("sketch").alias("sa"))
    b = sk.where(F.col("event_type") == types[1]).select(F.col("sketch").alias("sb"))
    ov = agg.with_overlap(a.crossJoin(b), "sa", "sb").select("overlap.*")
    exact_u = (
        ev.where(F.col("event_type").isin(types)).select("user_id").distinct().count()
    )
    ua = ev.where(F.col("event_type") == types[0]).select("user_id").distinct()
    ub = ev.where(F.col("event_type") == types[1]).select("user_id").distinct()
    exact_i = ua.join(ub, "user_id").count()
    row = ov.collect()[0]
    u_ok = abs(row["union"] - exact_u) / max(exact_u, 1) <= _BOUND
    i_ok = abs(row["intersection"] - exact_i) <= 2 * _BOUND * max(row["union"], 1.0)
    return spark.createDataFrame(
        [(int(u_ok), int(i_ok))], "union_within_bound int, intersection_within_bound int"
    )


def _q_ann_ivf_top3(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with nprobe == n_centroids probes every cell, so the result
    must equal exact brute-force cosine top-3 row for row — a full
    value-matched oracle for the IVF scale path."""
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.ivf_top_k(
            emb, queries_df, dim, k=3, n_centroids=8, nprobe=8
        )
        .select(
            "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
        .orderBy("query_id", "rank")
    )


def _q_ann_ivf_indexed_top3(spark: SparkSession, sf: str) -> DataFrame:
    """The WRITE-SIDE IVF path: materialize the corpus partitioned by cell
    (write_ivf_index), probe via partition-pruned scans
    (ivf_top_k_indexed).  With nprobe == n_centroids every cell is probed,
    so the result must equal exact brute-force cosine top-3 row for row —
    the same oracle as ann_ivf_top3, now through the on-disk index."""
    import hashlib

    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    path = (
        "/tmp/hllspark_ivf_index_"
        + hashlib.sha1(sf.encode()).hexdigest()[:10]
    )
    similarity.write_ivf_index(emb, path, dim, n_centroids=8)
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        similarity.ivf_top_k_indexed(spark, path, queries_df, k=3, nprobe=8)
        .select(
            "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
        .orderBy("query_id", "rank")
    )


def _q_sketch_rollup_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP over sketch columns: fine-grain (event_type) sketches
    re-merged to every rollup grain without rescanning events; every grain's
    estimate within the 3-sigma bound of the exact distinct count."""
    ev = _t(spark, sf, "events")
    fine = agg.sketch_by(ev, "user_id", ["event_type"], p=_P)
    roll = agg.sketch_rollup(fine, ["event_type"])
    exact_g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact")).withColumn(
        "event_type", F.lit(None).cast("string")
    )
    exact = exact_g.unionByName(exact_all)
    j = roll.alias("r").join(
        exact.alias("e"), F.expr("r.event_type <=> e.event_type")
    )
    return j.select(
        F.col("r.grouping_set_id").alias("grouping_set_id"),
        F.col("r.event_type").alias("event_type"),
        (
            (F.abs(F.col("r.distinct_estimate") - F.col("e.exact")) / F.col("e.exact"))
            <= F.lit(_BOUND)
        )
        .cast("int")
        .alias("within_bound"),
    ).orderBy("grouping_set_id", "event_type")


def _q_rollup_fused_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Fused one-scan ROLLUP (native GROUPING SETS Expand + JVM register
    aggregate, zero Python in the plan — hllspark.agg.approx_distinct_rollup):
    every grain's estimate within the 3-sigma bound of the exact count."""
    ev = _t(spark, sf, "events")
    roll = agg.approx_distinct_rollup(ev, "user_id", ["event_type"], p=_P)
    exact_g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact")).withColumn(
        "event_type", F.lit(None).cast("string")
    )
    exact = exact_g.unionByName(exact_all)
    j = roll.alias("r").join(
        exact.alias("e"), F.expr("r.event_type <=> e.event_type")
    )
    return j.select(
        F.col("r.grouping_set_id").alias("grouping_set_id"),
        F.col("r.event_type").alias("event_type"),
        (
            (F.abs(F.col("r.distinct_estimate") - F.col("e.exact")) / F.col("e.exact"))
            <= F.lit(_BOUND)
        )
        .cast("int")
        .alias("within_bound"),
    ).orderBy("grouping_set_id", "event_type")


def _q_cube_fused_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Fused one-scan CUBE over (event_type, day): all four grains'
    estimates from a single base scan (hllspark.agg.approx_distinct_cube,
    native GROUPING SETS + JVM estimate aggregate), each within the
    3-sigma bound of its exact distinct count."""
    ev = _t(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    cube = agg.approx_distinct_cube(ev, "user_id", ["event_type", "day"], p=_P)
    ex = F.countDistinct("user_id").alias("exact")
    nul = F.lit(None).cast("string")
    exact = (
        ev.groupBy("event_type", "day").agg(ex)
        .withColumn("grouping_set_id", F.lit(0))
        .unionByName(
            ev.groupBy("event_type").agg(ex)
            .withColumn("day", nul)
            .withColumn("grouping_set_id", F.lit(1))
        )
        .unionByName(
            ev.groupBy("day").agg(ex)
            .withColumn("event_type", nul)
            .withColumn("grouping_set_id", F.lit(2))
        )
        .unionByName(
            ev.agg(ex)
            .withColumn("event_type", nul)
            .withColumn("day", nul)
            .withColumn("grouping_set_id", F.lit(3))
        )
    )
    j = cube.alias("c").join(
        exact.alias("e"),
        F.expr(
            "c.grouping_set_id = e.grouping_set_id"
            " AND c.event_type <=> e.event_type AND c.day <=> e.day"
        ),
    )
    return j.select(
        F.col("c.grouping_set_id").alias("grouping_set_id"),
        F.col("c.event_type").alias("event_type"),
        F.col("c.day").alias("day"),
        (
            (F.abs(F.col("c.distinct_estimate") - F.col("e.exact")) / F.col("e.exact"))
            <= F.lit(_BOUND)
        )
        .cast("int")
        .alias("within_bound"),
    ).orderBy("grouping_set_id", "event_type", "day")


def _q_rolling_distinct_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """7-day trailing rolling distinct users per day
    (hllspark.agg.rolling_distinct: one sketch build per day, exploded
    register re-merge per window end — ONE base scan for all overlapping
    windows): each end's estimate within the 3-sigma bound of the exact
    trailing-window COUNT DISTINCT."""
    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    roll = agg.rolling_distinct(ev, "user_id", "ts", 7, p=_P)
    ends = ev.select("day").distinct().select(F.col("day").alias("window_end"))
    exact = (
        ev.join(
            F.broadcast(ends),
            (F.col("day") >= F.date_sub(F.col("window_end"), 6))
            & (F.col("day") <= F.col("window_end")),
        )
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("exact"))
    )
    j = roll.join(exact, "window_end")
    return j.select(
        F.date_format("window_end", "yyyy-MM-dd").alias("window_end"),
        (
            (F.abs(F.col("distinct_estimate") - F.col("exact")) / F.col("exact"))
            <= F.lit(_BOUND)
        )
        .cast("int")
        .alias("within_bound"),
    ).orderBy("window_end")


def _q_bloom_semi_join_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned semi-join (hllspark.joins.bloom_semi_join: distributed
    Bloom over the dim keys, broadcast bitmap probe prunes the fact scan
    BEFORE its shuffle, exact leftsemi mops up false positives) returns
    exactly the plain semi-join — checked as the matched-row count."""
    from hllspark import joins

    ev = _t(spark, sf, "events")
    dim = ev.where(F.col("event_id") % 7 == 0).select("event_id")
    semi = joins.bloom_semi_join(ev, "event_id", dim, "event_id", fpp=0.01)
    return semi.agg(F.count("*").cast("long").alias("n_matched"))


def _q_ann_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN recall vs brute-force top-5 (deterministic seeded
    hyperplanes); the scale path must recover most true neighbors."""
    from hllspark import similarity

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = similarity.brute_force_top_k(emb, queries_df, k=5).select(
        "query_id", "vec_id"
    )
    lsh = similarity.lsh_top_k(emb, queries_df, dim, k=5).select(
        "query_id", "vec_id"
    )
    hit = brute.join(lsh, ["query_id", "vec_id"]).count()
    total = brute.count()
    return spark.createDataFrame(
        [(int(hit / max(total, 1) >= 0.5),)], "lsh_recall_ok int"
    )


def _q_winnow_fingerprint_props(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing invariants (Schleimer'03): selected prints are a non-empty
    subset of the k-gram hash set, at most one per window position."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    grams = htext.shingles(F.col("text"), 5)
    all_hashes = F.transform(grams, lambda g: F.xxhash64(g))
    fps = htext.winnow_fingerprints(F.col("text"), k=5, window=4)
    n_windows = F.greatest(F.size(all_hashes) - F.lit(3), F.lit(0))
    ok = (
        (F.size(fps) > 0)
        & (F.size(fps) <= n_windows)
        & (F.size(F.array_except(fps, all_hashes)) == 0)
    )
    return docs.select("doc_id", ok.cast("int").alias("winnow_ok")).orderBy(
        "doc_id"
    )


# --- extended sketch family (count-min / bloom / kll / t-digest) -----------


def _q_streaming_users_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming sketch maintenance (availableNow over the same
    parquet): final per-group estimates must satisfy the HLL bound — and
    they equal the batch build byte-for-byte (monoid property)."""
    import os
    import tempfile

    from hllspark import streaming

    batch = _t(spark, sf, "events")
    # testdata tables may be single files; FileStreamSource needs a dir view
    src = f"{sf}/events.parquet"
    if os.path.isfile(src):
        d = tempfile.mkdtemp(prefix="hllspark-stream-src-")
        os.symlink(os.path.abspath(src), os.path.join(d, "part-0.parquet"))
        src = d
    sdf = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming.sketch_stream(sdf, "user_id", ["event_type"], p=_P)
    rows: dict[str, float] = {}

    def sink(bdf: DataFrame, bid: int) -> None:
        for r in bdf.collect():
            rows[r["event_type"]] = r["distinct_estimate"]

    with tempfile.TemporaryDirectory() as ck:
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    est = spark.createDataFrame(
        [(k, v) for k, v in rows.items()],
        "event_type string, distinct_estimate double",
    )
    exact = batch.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    return _within_bound(est, exact, "event_type")


def _q_tdigest_median_within_tol(spark: SparkSession, sf: str) -> DataFrame:
    from hllspark.sketches import generic, tdigest

    ev = _t(spark, sf, "events")
    sk = generic.sketch_agg(ev, "value", tdigest.kind(100), keys=["event_type"])
    med = generic.query_udf(lambda b: tdigest.decode(b).quantile(0.5), "double")
    est = sk.select("event_type", med(F.col("sketch")).alias("est_median"))
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("exact_median"),
        (F.expr("percentile(value, 0.99)") - F.expr("percentile(value, 0.01)")).alias(
            "spread"
        ),
    )
    j = est.join(exact, "event_type")
    return j.select(
        "event_type",
        (
            F.abs(F.col("est_median") - F.col("exact_median"))
            <= F.greatest(F.col("spread") * 0.05, F.lit(0.5))
        )
        .cast("int")
        .alias("median_ok"),
    ).orderBy("event_type")


def _q_kll_rank_error(spark: SparkSession, sf: str) -> DataFrame:
    """Global KLL rank check, fully distributed: the only collect is the
    single global sketch row (bounded by construction); the true ranks of
    all estimated quantiles come from ONE pass over events via a broadcast
    join with the 5-row quantile table."""
    from hllspark.sketches import generic, kll

    ev = _t(spark, sf, "events")
    sk = generic.sketch_agg(ev, "value", kll.kind(200)).first()["sketch"]
    s = kll.decode(bytes(sk))
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    est = spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, s.quantile(qs))],
        "q double, quantile double",
    )
    ranked = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("q")
        .agg(
            (
                F.sum((F.col("value") <= F.col("quantile")).cast("long"))
                / F.count(F.lit(1))
            ).alias("true_rank")
        )
    )
    return ranked.select(
        "q",
        (F.abs(F.col("true_rank") - F.col("q")) < 0.03).cast("int").alias("rank_ok"),
    ).orderBy("q")


def _q_countmin_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min point-estimate bounds, distributed: true counts for the 25
    probed ids come from a broadcast-semi-join aggregate (never the full
    truth table); the CM table (width x depth longs, bounded by
    construction) rides into an Arrow-batched pandas UDF as a closure."""
    import numpy as np

    from hllspark.sketches import countmin, generic

    ev = _t(spark, sf, "events")
    width, depth = 2053, 5
    sk = generic.sketch_agg(ev, "user_id", countmin.kind(width, depth)).first()[
        "sketch"
    ]
    cm = countmin.decode(bytes(sk))
    n = ev.count()
    ids = ev.select("user_id").distinct().orderBy("user_id").limit(25)
    truth = (
        ev.join(F.broadcast(ids), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    @F.pandas_udf("double")
    def cm_estimate(uid: pd.Series) -> pd.Series:
        if len(uid) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(
            countmin.point_estimate(cm, uid.to_numpy().astype(np.int64)),
            dtype="float64",
        )

    eps_n = 3 * float(np.e) / width * n
    return (
        truth.withColumn("est", cm_estimate(F.col("user_id")))
        .select(
            "user_id",
            (
                (F.col("cnt") <= F.col("est"))
                & (F.col("est") <= F.col("cnt") + F.lit(eps_n))
            )
            .cast("int")
            .alias("count_ok"),
        )
        .orderBy("user_id")
    )


def _q_countsketch_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Count-sketch UNBIASED point estimates (Charikar et al. 2002): same
    distributed build shape as countmin_bounds, but the error bound is the
    l2 form 3*||f||_2/sqrt(width) — much tighter than count-min's eps*N on
    heavy-tailed key distributions; ||f||_2 comes from one exact
    sum(c^2) aggregate over the probed-universe counts.

    depth=7 (not the library default 5): the 3-sigma form holds per key
    with probability 1-exp(-Omega(depth)) via the median trick, and the
    measured max normalized error across all three fixtures is 3.41 at
    depth 5 (one tail event among 25 keys, expected rate ~1.4%/key) vs
    0.14 at depth 7 — the deterministic gate keeps the published constant
    and buys its headroom from median concentration, not a fudged bound."""
    import math

    import numpy as np

    from hllspark.sketches import countsketch, generic

    ev = _t(spark, sf, "events")
    width, depth = 2053, 7
    sk = generic.sketch_agg(ev, "user_id", countsketch.kind(width, depth)).first()[
        "sketch"
    ]
    sk = countsketch.decode(bytes(sk))
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    l2 = math.sqrt(
        float(per_key.agg(F.sum(F.col("cnt") * F.col("cnt"))).first()[0])
    )
    ids = ev.select("user_id").distinct().orderBy("user_id").limit(25)
    truth = per_key.join(F.broadcast(ids), "user_id")

    @F.pandas_udf("double")
    def cs_estimate(uid: pd.Series) -> pd.Series:
        if len(uid) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(
            countsketch.point_estimate(sk, uid.to_numpy().astype(np.int64)),
            dtype="float64",
        )

    bound = 3.0 * l2 / math.sqrt(width)
    return (
        truth.withColumn("est", cs_estimate(F.col("user_id")))
        .select(
            "user_id",
            (F.abs(F.col("est") - F.col("cnt")) <= F.lit(bound))
            .cast("int")
            .alias("point_ok"),
        )
        .orderBy("user_id")
    )


def _q_ams_f2_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """AMS second-moment (F2 = sum of squared key frequencies, Alon-Matias-
    Szegedy 1996) per event type from ONE grouped count-sketch build — the
    self-join-size statistic a planner wants per partition-key without
    running the join.  exact_f2 is the oracle-checkable value; the sketch
    estimate must land within F2*sqrt(8/width)."""
    import math

    from hllspark.sketches import countsketch, generic

    ev = _t(spark, sf, "events")
    width = 2053
    sk = generic.sketch_agg(
        ev, "user_id", countsketch.kind(width, 5), keys=["event_type"]
    )
    est_udf = generic.query_udf(
        lambda b: countsketch.f2_estimate(countsketch.decode(b)), "double"
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    rel = math.sqrt(8.0 / width)
    return (
        sk.withColumn("est", est_udf(F.col("sketch")))
        .join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_f2").cast("long").alias("exact_f2"),
            (F.abs(F.col("est") - F.col("exact_f2")) <= F.col("exact_f2") * F.lit(rel))
            .cast("int")
            .alias("within_bound"),
        )
        .orderBy("event_type")
    )


def _q_ams_join_size_unbiased(spark: SparkSession, sf: str) -> DataFrame:
    """Unbiased join-cardinality estimate (count-sketch inner product /
    AMS) for the click-vs-view user_id join: centered on the exact size
    with per-row std sqrt(2*F2a*F2b/width) — the companion to
    cm_join_size_within_bound's guaranteed-upper-bound estimator
    (hllspark/joins.py approx_join_size_unbiased)."""
    import math

    from hllspark import joins as hjoins

    ev = _t(spark, sf, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "view")
    width = 8209
    est = hjoins.approx_join_size_unbiased(
        a, "user_id", b, "user_id", width=width, depth=7
    )

    def _stats(side):
        per = side.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
        return per.agg(
            F.sum(F.col("c") * F.col("c")).alias("f2"),
        ).first()["f2"]

    exact = (
        a.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ca"))
        .join(b.groupBy("user_id").agg(F.count(F.lit(1)).alias("cb")), "user_id")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("s"))
        .first()["s"]
    ) or 0
    sd = math.sqrt(2.0 * float(_stats(a)) * float(_stats(b)) / width)
    ok = int(abs(est - float(exact)) <= 4.0 * sd)
    return spark.createDataFrame(
        [(int(exact), ok)], "exact_join_size bigint, within_bound int"
    )


def _q_cpc_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """CPC coupon sketch (Lang'17, the reference's DataSketches baseline —
    datasketches/measure.cpp:92-96,161-169): per-type distinct-user
    estimates within 4x the ICON-ballpark RSE of the exact counts."""
    from hllspark.sketches import cpc, generic

    ev = _t(spark, sf, "events")
    k = 2048
    sk = generic.sketch_agg(ev, "user_id", cpc.kind(k), keys=["event_type"])
    est_udf = generic.query_udf(lambda b: cpc.estimate(cpc.decode(b)), "double")
    est = sk.select("event_type", est_udf(F.col("sketch")).alias("est"))
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            (
                (F.abs(F.col("est") - F.col("exact")) / F.col("exact"))
                <= F.lit(4 * cpc.rse(k))
            )
            .cast("int")
            .alias("within_bound"),
        )
        .orderBy("event_type")
    )


def _q_bloom_no_false_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom membership check, distributed: every distinct user is probed
    inside an Arrow-batched pandas UDF (the filter bits — sized m/8 bytes
    by construction — ride in as a closure) and the verdict is a single
    min() aggregate; no unbounded set ever reaches the driver."""
    import numpy as np

    from hllspark.sketches import bloom, generic

    ev = _t(spark, sf, "events")
    n_users = ev.select(F.countDistinct("user_id")).first()[0]
    m, kh = bloom.params_for(max(n_users, 1), 0.01)
    sk = generic.sketch_agg(ev, "user_id", bloom.kind(m, kh)).first()["sketch"]
    bits, k2 = bloom.decode(bytes(sk))

    @F.pandas_udf("boolean")
    def contains(uid: pd.Series) -> pd.Series:
        if len(uid) == 0:
            return pd.Series([], dtype="bool")
        return pd.Series(
            bloom.might_contain(bits, uid.to_numpy().astype(np.int64), k2)
        )

    return (
        ev.select("user_id")
        .distinct()
        .agg(
            F.coalesce(F.min(contains(F.col("user_id")).cast("int")), F.lit(1))
            .alias("no_false_negatives")
        )
    )


def _q_session_stats_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (4h gap) over events: per-session event
    count and duration — one shuffle on user_id, lag + running-sum window,
    zero Python (hllspark/sessions.py)."""
    from hllspark import sessions

    ev = _t(spark, sf, "events")
    return (
        sessions.session_stats(ev, "user_id", "ts", 14400.0, order_cols=["event_id"])
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "n_events",
            "duration_us",
        )
        .orderBy("user_id", "session_seq")
    )


def _q_hash_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Bernoulli sample (rate 0.2, seed 7) of documents by
    md5 key hash — engine-portable, shuffle-free (hllspark/sampling.py);
    the oracle reproduces the EXACT membership with vanilla SQL."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    return (
        sampling.hash_sample(docs, ["doc_id"], 0.2, seed=7, method="md5")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _q_stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ceil(0.1 * n) rows per lang stratum, chosen by md5 hash order
    of doc_id — deterministic stratified sampling (hllspark/sampling.py)."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    return (
        sampling.stratified_sample(docs, ["lang"], "doc_id", 0.1, seed=3)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


def _q_winnow_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing (MOSS-style) near-dup pairs (round 4): planted exact
    copies and suffix-extended copies must pair with their sources at
    fingerprint overlap >= 0.8; unrelated word-soup docs must not.  The
    oracle derives the expected pair set from the CONSTRUCTION (equal
    base-text groups), independent of the fingerprint math."""
    from hllspark import dedup

    base = _t(spark, sf, "documents").where(F.col("doc_id") < 50).select(
        "doc_id", "text"
    )
    small = base.where(F.col("doc_id") < 5)
    aug = (
        base.unionByName(
            small.select(
                (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
            )
        ).unionByName(
            small.select(
                (F.col("doc_id") + 2000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" zq zq zq zq zq zq zq zq")
                ).alias("text"),
            )
        )
    )
    out = dedup.winnow_near_duplicates(
        aug, min_shared=2, min_overlap=0.8
    )
    # restrict the checked set to pairs involving a PLANTED id: the
    # fixture also contains its own organic near-duplicates (e.g. two
    # word-soup docs at 97% 5-gram jaccard at sf0.001), which winnow
    # correctly detects but an equal-text oracle cannot express —
    # organic detection is pytest-gated instead
    return (
        out.where(F.col("id_b") >= 1000)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def _q_winnow_guarantee_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing DETECTION GUARANTEE on ORGANIC data (round 5, closing
    the r4 oracle gap): any two documents sharing a token run of length
    >= window + k - 1 = 8 MUST share a winnow fingerprint (Schleimer et
    al. 2003, thm 1).  'Shares a run of >= 8 tokens' is exactly 'shares
    an 8-gram', which IS SQL-expressible — the oracle computes the full
    shared-8-gram pair set in DuckDB, and this query returns that same
    pair set INTERSECTED with winnow's detected pairs (min_shared=1,
    no overlap floor, no cap): any organically near-duplicate pair the
    operator missed would vanish from the intersection and break the
    row-count/value hash."""
    from hllspark import dedup, text as htext

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    g = docs.select(
        "doc_id", F.explode(htext.shingles(F.col("text"), 8)).alias("g")
    ).distinct()
    rp = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    wp = dedup.winnow_near_duplicates(
        docs, k=5, window=4, min_shared=1, min_overlap=0.0,
        max_bucket_size=None,
    ).select("id_a", "id_b")
    return rp.join(wp, ["id_a", "id_b"]).orderBy("id_a", "id_b")


def _q_exact_substr_removal(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr-style duplicate-run REMOVAL (round 5; Lee et al.
    2022, arXiv:2107.06499): every token inside a duplicated run of
    >= 8 tokens is cut, with keep_first=True exempting the (min doc_id,
    min pos) occurrence so one copy of each passage survives.  Planted
    full copies of docs 0-4 (at +1000) must lose their ENTIRE text to
    the originals; organic shared 8-gram runs in the fixture are cut on
    the later document only.  The oracle replicates the whole pipeline
    in SQL — gram counts, first-occurrence rank, position coverage, and
    the exact surviving token sequence."""
    from hllspark import dedup

    base = _t(spark, sf, "documents").where(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    aug = base.unionByName(
        base.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
        )
    )
    out = dedup.remove_duplicate_runs(
        aug, min_run=8, min_count=2, keep_first=True
    )
    return (
        out.where(F.col("n_removed") > 0)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_removed").cast("long").alias("n_removed"),
            "kept_text",
        )
        .orderBy("doc_id")
    )


def _q_nb_quality_scores_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Naive-Bayes log-odds quality classifier (round 5, the
    DCLM/FineWeb-style trained-filter stage): weights trained in-plan on
    docs < 200 labeled lang=='en', held-out docs 200-299 scored with
    the length-invariant mean-log-odds sigmoid.  The oracle replicates
    training AND scoring end-to-end in SQL (class token counts, Laplace
    log-odds, unseen-token zero backoff, sigmoid)."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    train = docs.where(F.col("doc_id") < 200).select(
        (F.col("lang") == "en").cast("int").alias("label"), "text"
    )
    held = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    out = curation.nb_quality_scores(
        held, curation.nb_quality_weights(train)
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("score", 4).alias("score"),
    ).orderBy("doc_id")


def _q_dsir_log_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (round 5, Xie et al. 2023
    arXiv:2302.03169): hashed unigram+bigram bucket histograms (B=64,
    md5-portable feature hash) of target = en docs < 100 vs raw = docs
    100-399, Laplace-smoothed log p_target/p_raw per bucket, per-raw-doc
    log importance weight = sum of bucket weights over the doc's gram
    occurrences.  The oracle replicates the full model in SQL: the
    engine-wide tokenizer, both gram orders, the md5 bucket hash, both
    histograms, the smoothed log-ratio, and the per-doc reduction."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") < 100))
    raw = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 400))
    w = curation.dsir_weights(
        raw, target, num_buckets=64, n_max=2, smoothing=1.0, seed=3
    )
    out = curation.dsir_scores(raw, w, num_buckets=64, n_max=2, seed=3)
    return out.select(
        "doc_id",
        F.col("n_features").cast("long").alias("n_features"),
        F.round("log_weight", 4).alias("log_weight"),
    ).orderBy("doc_id")


def _q_dsir_resample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR end-to-end (round 5): train importance weights (target = en
    docs < 100 against raw = docs 100-399), score every raw doc, draw
    k=50 WITHOUT replacement by deterministic Gumbel-top-k in the log
    domain (sampling.gumbel_top_k; the md5-uniform makes the draw
    engine-bit-identical).  The oracle reproduces the EXACT membership:
    the full weight model, the per-doc scores, the Gumbel perturbation
    -ln(-ln((h+1)/2^52)), and the top-50 selection."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") < 100))
    raw = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 400))
    out = curation.dsir_resample(
        raw, target, 50, num_buckets=64, n_max=2, smoothing=1.0, seed=3
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_canonical_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (round 4): three syntactic variants of the
    same logical page (mixed case, default port, shuffled query params,
    fragments) must collapse to ONE canonical form — the oracle states
    the expected canonical string directly from the construction, so it
    is an independent check of every normalization rule at once."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    base = F.concat(
        F.upper(F.col("source")), F.lit(".Example.COM"),
    )
    did = F.col("doc_id").cast("string")
    v = [
        F.concat(F.lit("HTTPS://"), base, F.lit(":443/d/"), did,
                 F.lit("?b=2&a=1#x")),
        F.concat(F.lit("https://"), F.lower(base), F.lit("/d/"), did,
                 F.lit("?a=1&b=2")),
        F.concat(F.lit("https://"), base, F.lit(":443/d/"), did,
                 F.lit("?b=2&a=1#frag2")),
    ]
    ex = docs.select(
        "doc_id", F.explode(F.array(*v)).alias("url")
    ).select("doc_id", curation.canonical_url(F.col("url")).alias("c"))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.countDistinct("c").alias("n_canonical"),
            F.min("c").alias("canonical"),
        )
        .orderBy("doc_id")
    )


def _q_budget_select_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection (round 4): keep docs in doc_id order
    while the cumulative token count fits a 5000-token budget — the
    distributed-cumsum machinery value-matched against a window oracle."""
    from hllspark import curation
    from hllspark.text import token_count

    docs = _t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("nt")
    )
    out = curation.select_within_budget(docs, "doc_id", "nt", budget=5000)
    return out.select("doc_id", "nt").orderBy("doc_id")


def _q_corpus_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order shuffle (round 4): the first 100 docs
    of the md5-keyed global shuffle, with rank — the oracle reproduces
    the exact order byte-for-byte."""
    from hllspark import sampling
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    shuffled = sampling.shuffle_rows(docs, "doc_id", seed=9, method="md5")
    h = sampling._md5_hex8([F.col("doc_id")], 9)
    rank = F.row_number().over(Window.orderBy(h, F.col("doc_id")))
    return (
        shuffled.select("doc_id", rank.alias("rank"))
        .where(F.col("rank") <= 100)
        .orderBy("rank")
    )


def _q_lm_perplexity_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM cross-entropy quality scoring (round 4, CCNet-style
    perplexity proxy): model trained on the corpus itself, per-doc
    cross-entropy value-matched against a full SQL replica of the
    Laplace-smoothed model."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    out = curation.lm_perplexity_scores(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    ).orderBy("doc_id")


def _q_crawl_seen_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted Bloom seen-set (round 5, hllspark/crawl.py): ingest
    batch 1 (docs < 150) into a fresh frontier state, then ingest an
    overlapping batch 2 (docs 100-249) — the survivors must be exactly
    batch 2's urls that batch 1 never committed (the oracle states it
    as an anti-join).  Deterministic: the Bloom is sized at fpp=1e-6
    for 10k keys and probing is pure fixed hashing, so the no-FP
    outcome is a property of the bytes, not luck."""
    import hashlib
    import shutil

    from hllspark.crawl import BloomSeenSet

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    state = "/tmp/hllspark_seen_" + hashlib.sha1(sf.encode()).hexdigest()[:10]
    shutil.rmtree(state, ignore_errors=True)
    s = BloomSeenSet.create(state, n_expected=10_000, fpp=1e-6)
    s.ingest(docs.where(F.col("doc_id") < 150))
    unseen = s.ingest(
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 250))
    )
    return unseen.select("doc_id", "url").orderBy("doc_id")


def _q_nb_lang_id_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Trained char-bigram NB language ID (round 5, hllspark/text.py
    nb_lang_weights / nb_lang_id — the fastText/CLD-style trained
    upgrade of the marker-vote heuristic): model trained in-plan on
    docs < 300 with their lang labels, docs 300-499 classified by exact
    NB log-posterior argmax.  The oracle replicates EVERYTHING in SQL —
    padding, gram extraction, the complete gram x lang Laplace matrix,
    priors, the OOV floor term, and the (score desc, lang desc)
    tie-break — so train AND score are both gated."""
    from hllspark.text import nb_lang_id, nb_lang_weights

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    w, stats = nb_lang_weights(docs.where(F.col("doc_id") < 300), n=2)
    test = docs.where(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 500)
    ).select("doc_id", "text")
    out = nb_lang_id(test, w, stats)
    return out.select(
        "doc_id", "lang", F.round("score", 4).alias("score")
    ).orderBy("doc_id")


def _q_robots_filter_urls(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt compliance filtering (round 5, hllspark/crawl.py):
    every source host publishes 'User-agent: *; Disallow: /d/1;
    Allow: /d/12' plus an otherbot-only Disallow-all group that must
    NOT apply — so doc paths whose id starts with '1' are blocked
    unless the id starts with '12' (the longer allow wins, RFC 9309
    longest-match).  The oracle states the expected decision directly
    from the path formula, independent of the parser."""
    from hllspark.crawl import parse_robots, robots_filter

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    robots = (
        _t(spark, sf, "documents")
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("host"))
        .distinct()
        .withColumn(
            "robots_txt",
            F.lit(
                "# policy\nUser-agent: *\nDisallow: /d/1\nAllow: /d/12\n"
                "\nUser-agent: otherbot\nDisallow: /\n"
            ),
        )
    )
    rules = parse_robots(robots)
    return robots_filter(docs, rules).orderBy("doc_id")


def _q_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training's distributed grain (round 5,
    hllspark/bpe.py): word counts (the one corpus-sized aggregate) ->
    adjacent char+</w> symbol-pair frequencies weighted by word
    frequency — the statistics the first merge decision is made from.
    Top 30 by (count desc, pair asc); the oracle recomputes the whole
    grain from substrings in SQL.  The iterative merge loop itself is
    driver-side over the type table and pytest-gated against the
    hand-computed Sennrich sequence (test_bpe.py)."""
    from hllspark import bpe

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    wc = bpe.word_counts(docs)
    return (
        bpe.symbol_pair_counts(wc)
        .orderBy(F.desc("count"), "s1", "s2")
        .limit(30)
    )


def _q_ccnet_bucket_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style per-language perplexity tiers (round 5,
    curation.ccnet_buckets): every document bucketed head/middle/tail by
    bigram-LM cross-entropy within its language.  The operator computes
    exact NTILE semantics WITHOUT a per-language window (range
    repartition + broadcast rank offsets — no whole-language-in-one-task
    skew); the oracle replicates the full LM and a literal NTILE(3) in
    SQL, so both the scores and the distributed rank path are gated."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    out = curation.ccnet_buckets(docs, n_buckets=3, num_partitions=8)
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy"),
        "bucket",
        "bucket_label",
    ).orderBy("doc_id")


def _q_lm_perplexity_capped_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Vocab-capped bigram-LM scoring (round 5): the model vocabulary is
    capped to the exact top-20 tokens (Misra-Gries candidates + exact
    recount, ties count-desc/word-asc) and every other token maps to one
    <unk> bucket with V = 21 — the oracle replicates the cap, the
    mapping, and the Laplace model in full SQL, so the MG candidate pass
    is gated to be lossless on this corpus."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    out = curation.lm_perplexity_scores(docs, max_vocab=20)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    ).orderBy("doc_id")


def _q_mixture_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Language-balanced mixture sampling (round 4): the largest sample
    whose lang shares follow the 0.5/0.3/0.2 target exactly (flooring),
    no stratum oversampled, membership by md5 hash order — the oracle
    recomputes the scale factor AND the exact per-row membership."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    out = sampling.mixture_sample(
        docs, "lang", "doc_id", {"en": 0.5, "de": 0.3, "fr": 0.2}, seed=5
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def _q_temperature_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature rebalancing at T=2 (round 5, mBERT/XLM-R-style):
    target proportions derived IN-PLAN as n_g^(1/2)/sum — sqrt is
    IEEE-exact in both engines, so the oracle reproduces the scale
    factor, the per-stratum takes AND the exact md5-hash-order
    membership."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    out = sampling.temperature_sample(docs, "lang", "doc_id", 2.0, seed=7)
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def _q_weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, hllspark/sampling.py): 100 docs drawn with probability
    proportional to n_chars — the oracle reproduces the EXACT draw because
    the priority (-ln(md5-uniform)/weight) is engine-bit-identical."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    return (
        sampling.weighted_sample(docs, "doc_id", "n_chars", 100, seed=11)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _q_priority_sample_members(spark: SparkSession, sf: str) -> DataFrame:
    """Priority sampling sketch (Duffield-Lund-Thorup JACM'07,
    hllspark/sketches/priority.py): the k=100 mergeable weighted sample
    of documents by n_chars.  Priorities are md5-seeded (w / u with u the
    52-bit md5 uniform), so the oracle reproduces EXACT membership with
    ORDER BY priority DESC LIMIT k — the same engine-portability argument
    as weighted_sample_docs, but for the bounded mergeable sketch."""
    from hllspark.sketches import priority

    docs = _t(spark, sf, "documents")
    sk = priority.sample_agg(docs, "doc_id", "n_chars", k=100, seed=5)
    return (
        priority.sample_table(sk)
        .select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("weight").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


def _q_priority_sample_lang_totals(spark: SparkSession, sf: str) -> DataFrame:
    """The point of priority sampling: UNBIASED subset-sum estimates from
    ONE k=200 sample — per-lang estimated total n_chars computed as
    sum(max(w, tau)) over the sampled docs of each lang (DLT'07 Thm 1),
    where tau is the (k+1)-th largest priority.  The sketch is the only
    thing scanned-side; the tiny sample broadcast-joins back to the
    documents table for the lang attribute.  The oracle replicates tau
    and every per-item contribution bit-for-bit."""
    from hllspark.sketches import priority

    docs = _t(spark, sf, "documents")
    sk = priority.sample_agg(docs, "doc_id", "n_chars", k=200, seed=7)
    sample = priority.sample_table(sk).select(
        F.col("id").cast("long").alias("doc_id"), "est_weight"
    )
    return (
        docs.join(F.broadcast(sample), "doc_id")
        .groupBy("lang")
        .agg(F.round(F.sum("est_weight"), 4).alias("est_chars"))
        .orderBy("lang")
    )


def _q_cm_join_size_within_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min inner-product join-cardinality estimate (Cormode &
    Muthukrishnan '05) for the events self-join on user_id: never below
    the exact size, above by at most (e/width)*|A|*|B| (hllspark/joins.py
    approx_join_size — planner-style estimation without running the join)."""
    import math

    from hllspark import joins as hjoins

    ev = _t(spark, sf, "events")
    width = 8209
    est = hjoins.approx_join_size(ev, "user_id", ev, "user_id", width=width, depth=7)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    exact = per_key.agg(F.sum(F.col("c") * F.col("c")).alias("s")).first()["s"]
    n = ev.count()
    ok = int(exact <= est <= exact + math.e / width * n * n)
    return spark.createDataFrame(
        [(int(exact), ok)], "exact_join_size bigint, within_bound int"
    )


def _q_asof_click_error(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (hllspark/joins.py as_of_join): attribute every click
    event to the user's most recent error at-or-before it — union + one
    exchange + running last() window, no range-join row explosion;
    checked against DuckDB's native ASOF LEFT JOIN."""
    from hllspark import joins as hjoins

    ev = _t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    out = hjoins.as_of_join(clicks, errors, "user_id", "ts", "err_ts")
    return out.select(
        "event_id", "user_id", "err_event_id", "err_value"
    ).orderBy("event_id")


def _q_range_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed range join (hllspark/joins.py range_join): events matched
    into derived per-type value intervals via explode-to-buckets + hash
    equi-join + exact filter — no cartesian/BNLJ; DuckDB inequality-join
    oracle."""
    from hllspark import joins as hjoins

    ev = _t(spark, sf, "events")
    iv = (
        ev.where(F.col("event_id") % 37 == 0)
        .select(
            "event_type",
            (F.floor(F.col("value") / 10) * 10).cast("double").alias("lo"),
            (F.floor(F.col("value") / 10) * 10 + 7).cast("double").alias("hi"),
        )
        .distinct()
    )
    pts = ev.select("event_id", "event_type", "value")
    out = hjoins.range_join(pts, "value", iv, "lo", "hi", on="event_type", bucket=10.0)
    return out.select("event_id", "event_type", "lo").orderBy("event_id", "lo")


def _q_json_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured column handling: per-type stats over a JSON field
    extracted from events.props with the JVM-side get_json_object path
    (no Python; schema-on-read, the standard telemetry-pipeline shape)."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def _q_salted_join_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Salted skew-resistant join (hllspark/joins.py salted_join): fact
    salt + salt-fold dim replication must reproduce the plain equi-join
    row count exactly."""
    from hllspark import joins as hjoins

    li = _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k"))
    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    out = hjoins.salted_join(li, orders, "k", salt=8)
    return out.agg(F.count(F.lit(1)).alias("n_joined"))


def _q_bm25_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 relevance scoring (hllspark/text.py bm25_scores): every
    doc scored against a 3-term query; token stream filtered to the query
    terms before any shuffle, corpus stats broadcast."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    return (
        htext.bm25_scores(docs, ["spark", "window", "hash"])
        .select(F.col("id").alias("doc_id"), F.round("score", 4).alias("score"))
        .orderBy("doc_id")
    )


def _q_top_k_docs_by_len(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped top-k (hllspark/text.py top_k_by): 5 longest docs per lang,
    deterministic tie-break — one exchange + per-stratum sort."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents")
    return (
        htext.top_k_by(docs, "lang", "n_chars", 5, tie_col="doc_id")
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


def _q_decontam_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval n-gram decontamination (hllspark/decontam.py): trigram
    overlap of every train doc (doc_id < 200) against an eval slice that
    is an exact copy of train docs 100-149 — those must report ratio 1.0
    and contaminated=1; broadcast semi-join on xxhash64(gram)."""
    from hllspark import decontam

    docs = _t(spark, sf, "documents")
    train = docs.where(F.col("doc_id") < 200)
    test = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    rep = decontam.ngram_overlap(train, test, "doc_id", "text", n=3, threshold=0.8)
    return rep.select(
        "doc_id",
        "n_grams",
        "n_matched",
        F.round("overlap_ratio", 4).alias("overlap_ratio"),
        "contaminated",
    ).orderBy("doc_id")


def _q_repetition_stats_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition features (hllspark/curation.py
    repetition_features): duplicate-segment fractions (instance + char
    mass), duplicate-word fraction and top-2-gram character coverage,
    averaged per lang.  All shuffle-free array folds inside the scan;
    the fixture is single-line word soup so segments split on ' the '."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    feat = curation.repetition_features(docs, line_sep=" the ", ngram_ns=(2,))
    return (
        feat.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_line_frac"), 4).alias("avg_dup_line_frac"),
            F.round(F.avg("dup_line_char_frac"), 4).alias("avg_dup_line_char_frac"),
            F.round(F.avg("dup_word_frac"), 4).alias("avg_dup_word_frac"),
            F.round(F.avg("top2gram_char_frac"), 4).alias("avg_top2gram_char_frac"),
        )
        .orderBy("lang")
    )


def _q_line_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level line dedup (hllspark/curation.py dedup_lines,
    RefinedWeb-style): segments occurring in more than 2 distinct docs are
    removed everywhere, docs rebuilt in order; per-lang survivor stats.
    The removal join is left-anti against only the over-threshold lines."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    dd = curation.dedup_lines(
        docs, id_col="doc_id", text_col="text",
        line_sep=" the ", join_sep=" the ", max_docs=2,
    )
    out = dd.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_lines_dropped").alias("n_lines_dropped"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("lang")
    )


def _pii_poisoned(docs: DataFrame) -> DataFrame:
    """Deterministic PII markers derived from (doc_id, source) appended to
    every doc — one email, one phone, one IPv4 — so the detector/redactor
    is exercised on known ground truth in both engines."""
    return docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" reach doc"), F.col("doc_id").cast("string"),
            F.lit("@"), F.col("source"), F.lit(".example.co.uk or 555-010-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
        ),
    )


def _q_pii_redact_stats(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + redaction (hllspark/curation.py pii_features /
    redact_pii): per-lang match counts for emails/phones/IPv4 planted
    deterministically in every doc, plus the residual match count over
    the redacted text (must be 0).  Patterns live in the Java∩RE2 regex
    subset so the DuckDB oracle runs the byte-identical expressions."""
    from hllspark import curation

    docs = _pii_poisoned(_t(spark, sf, "documents"))
    feat = curation.pii_features(docs)
    rc = curation.pii_counts(F.col("redacted"))
    resid = rc["email"] + rc["phone"] + rc["ipv4"]
    return (
        feat.withColumn("resid", resid)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("n_emails"),
            F.sum("n_phones").alias("n_phones"),
            F.sum("n_ipv4").alias("n_ipv4"),
            F.sum("resid").alias("residual_after_redact"),
        )
        .orderBy("lang")
    )


def _q_url_host_stats(spark: SparkSession, sf: str) -> DataFrame:
    """URL analytics (hllspark/curation.py url_features): host extraction,
    registrable-domain folding (co.uk-style second-level suffixes) and
    path depth over deterministic per-doc URLs; grouped by registered
    domain.  Row-local JVM expressions — the shape that feeds per-site
    distinct-page sketches at crawl scale."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".example.co.uk/d/"))
            .otherwise(F.lit(".example.org/d/")),
            F.col("doc_id").cast("string"),
            F.lit("/p"),
        ),
    )
    feat = curation.url_features(urls)
    return (
        feat.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.round(F.avg("path_depth"), 4).alias("avg_path_depth"),
        )
        .orderBy("registered_domain")
    )


def _q_blocked_hosts_filter(spark: SparkSession, sf: str) -> DataFrame:
    """UT1-style domain-blocklist filtering (round 5, hllspark/curation.py
    filter_blocked_hosts): deterministic per-doc URLs with userinfo and
    port noise; the blocklist carries one registrable domain, matched by
    LABEL suffix (``x.ads.tracker.net`` blocked, ``x.nottracker.net``
    kept).  Runs ALL THREE modes — literal-regex (anchored alternation,
    zero shuffle), literal-set (exists over host suffixes + hash-set
    probe, the giant-list path), and DataFrame (broadcast semi-join over
    the exploded (id, suffix) stream) — and returns (mode, doc_id)
    survivors; the oracle re-derives the host from the construction and
    applies the label-suffix rule independently, so the three modes are
    gated equal AND correct (userinfo/port stripping included)."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("user:pw@")).otherwise(
                F.lit("")
            ),
            F.lower(F.col("source")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(".ads.tracker.net"))
            .when(F.col("doc_id") % 3 == 1, F.lit(".example.org"))
            .otherwise(F.lit(".nottracker.net")),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":8443")).otherwise(
                F.lit("")
            ),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    blocked = ["tracker.net"]
    lit_kept = curation.filter_blocked_hosts(urls, blocked).select(
        F.lit("literal").alias("mode"), "doc_id"
    )
    set_kept = curation.filter_blocked_hosts(
        urls, blocked, max_regex_entries=0
    ).select(F.lit("set").alias("mode"), "doc_id")
    bl_df = spark.createDataFrame([(d,) for d in blocked], "domain string")
    df_kept = curation.filter_blocked_hosts(
        urls, bl_df, id_col="doc_id"
    ).select(F.lit("dataframe").alias("mode"), "doc_id")
    return (
        lit_kept.unionByName(set_kept)
        .unionByName(df_kept)
        .orderBy("mode", "doc_id")
    )


def _q_cap_per_group_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (round 5, RefinedWeb-style rebalancing,
    hllspark/sampling.py cap_per_group): keep at most 12 docs per lang in
    md5-hash order, via the SALTED two-phase path (salt_buckets=8) — the
    oracle is the plain one-window SQL statement of the semantics, so the
    skew-safe plan is gated to produce EXACTLY the unsalted membership."""
    from hllspark import sampling

    docs = _t(spark, sf, "documents")
    out = sampling.cap_per_group(
        docs, "lang", "doc_id", 12, salt_buckets=8, seed=3
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def _q_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (hllspark/curation.py pack_sequences): GPT-style
    concat-and-chunk assignment over the whole corpus in doc_id order,
    seq_len=256 — in-plan distributed cumsum (range partitions + broadcast
    per-partition offsets, no driver collect), never a single-partition
    global window."""
    from hllspark import curation

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    packed = curation.pack_sequences(toks, "doc_id", "n_tokens", 256, num_partitions=8)
    return (
        packed.where(F.col("doc_id") < 100)
        .select("doc_id", "n_tokens", "chunk_id", "chunk_offset", "n_chunks_spanned")
        .orderBy("doc_id")
    )


def _q_quality_filter_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """The END operator of the Gopher pipeline (hllspark/curation.py
    quality_filter) through the mapInArrow fast path: thresholds tuned to
    split the fixture ~380/500; the DuckDB oracle replicates every
    predicate (word count, mean word length, dup-segment fractions,
    top-2/3-gram coverage) at per-doc grain.  Every fraction is an exact
    IEEE division of integers, so threshold comparisons agree bit-for-bit
    across engines."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    kept = curation.quality_filter(
        docs,
        line_sep=" the ",
        min_words=20,
        max_words=100_000,
        min_mean_word_len=1.0,
        max_mean_word_len=10.0,
        max_symbol_word_ratio=0.1,
        max_dup_line_frac=0.35,
        max_dup_line_char_frac=0.5,
        max_top2gram_char_frac=0.095,
        max_top3gram_char_frac=0.12,
        impl="arrow",
    )
    return kept.select("doc_id").orderBy("doc_id")


def _q_c4_filter_stats(spark: SparkSession, sf: str) -> DataFrame:
    """C4 heuristic cleaning (hllspark/curation.py c4_filters — Raffel et
    al. 2020 §2.2): the fixture's word-soup text gains deterministic
    sentence structure (every ' data' becomes ' data.'), lines are split
    on ' slow '; the operator then applies the real C4 rules — terminal
    punctuation, >=3 words per line, line-phrase drop ('javascript',
    'customer'), doc-phrase drop ('lorem ipsum', '{'), >=2 sentences
    after cleaning.  The oracle replicates every rule with DuckDB list
    lambdas on the byte-identical regexes.  Row-local JVM expressions:
    one scan, zero shuffles, zero Python."""
    from hllspark import curation

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    punct = docs.withColumn("text", F.regexp_replace("text", " data", " data."))
    out = curation.c4_filters(
        punct,
        line_sep=" slow ",
        join_sep="\n",
        min_line_words=3,
        terminal_punct_re=r"[.!?]$",
        min_sentences=2,
        sentence_re=r"[.!?]",
        drop_line_phrases=("javascript", "customer"),
        drop_doc_phrases=("lorem ipsum", "{"),
    )
    return out.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        "n_lines",
        "n_lines_kept",
        "n_sentences",
    ).orderBy("doc_id")


def _q_index_dedup_new_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup index (hllspark/dedup.py write_minhash_index /
    index_near_matches): docs < 300 are indexed once (signatures + banded
    buckets on disk); a NEW batch (docs 300-349 plus exact copies of docs
    0-4 under shifted ids) dedups against the index without re-signaturing
    the corpus — the index tables never shuffle (new-side broadcast).
    Detected pairs must equal the exact-Jaccard >= 0.8 pairs, and the
    signature estimate must sit within 0.15 of exact (1.0 exactly for the
    planted copies)."""
    import hashlib

    from hllspark import dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") < 300)
    path = "/tmp/hllspark_lsh_index_" + hashlib.sha1(sf.encode()).hexdigest()[:10]
    dedup.write_minhash_index(corpus, path)
    new = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)).unionByName(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 40000).alias("doc_id"), "text"
        )
    )
    matches = dedup.index_near_matches(new, path, threshold=0.8)
    # exact verification of the estimate: join text back for true jaccard
    withk = matches.join(
        new.select(F.col("doc_id").alias("new_id"), F.col("text").alias("__ta")),
        "new_id",
    ).join(
        corpus.select(F.col("doc_id").alias("index_id"), F.col("text").alias("__tb")),
        "index_id",
    )
    from hllspark.text import shingles as _sh

    ga = F.array_distinct(_sh(F.col("__ta"), 3))
    gb = F.array_distinct(_sh(F.col("__tb"), 3))
    true_jac = F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb))
    return (
        withk.select(
            "new_id",
            "index_id",
            F.lit(1).alias("found"),
            (F.abs(F.col("est_jaccard") - true_jac) <= 0.15)
            .cast("int")
            .alias("est_close"),
        )
        .orderBy("new_id", "index_id")
    )


def _q_fd_covariance_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent Directions (Liberty 2013 / GLPW 2016, round 5,
    hllspark/sketches/freqdir.py): ONE-pass mergeable covariance sketch of
    the embeddings table through the shared two-phase plan, checked
    against the EXACT Gram matrix (similarity.gram_matrix, a bounded
    dim^2 collect) for the full PSD sandwich
    0 <= A^T A - B^T B <= (||A||_F^2 / ell) I.  frob_sq is value-matched
    against the SQL sum of squares (it is exact in the sketch by
    construction); the eigenvalue check is the non-SQL-expressible part,
    reported as the theorem-guaranteed flag."""
    import numpy as np

    from hllspark import similarity
    from hllspark.sketches import freqdir

    emb = _t(spark, sf, "embeddings")
    dim, ell = 64, 16
    sk = freqdir.decode(
        bytes(similarity.fd_sketch(emb, dim, ell).first()["sketch"])
    )
    G = similarity.gram_matrix(emb, dim)
    ev = np.linalg.eigvalsh(G - freqdir.gram_estimate(sk))
    ok = int(ev.min() > -1e-6 and ev.max() <= freqdir.cov_error_bound(sk) + 1e-9)
    return spark.createDataFrame(
        [(round(sk.frob_sq, 2), ok)], "frob_sq double, within_bound int"
    )


def _q_fd_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass PCA from the frequent-directions sketch: project the
    corpus onto the sketch's top-r right singular directions IN-PLAN
    (similarity.pca_project, one broadcast matmul per Arrow batch, no
    shuffle) and verify the GLPW16 projection guarantee
    ||A - A pi_r||_F^2 <= ell/(ell-r) * ||A - A_r||_F^2 against exact
    PCA of the exact Gram matrix.  The captured energy is aggregated
    distributed over the projected column (codegen array fold)."""
    import numpy as np

    from hllspark import similarity
    from hllspark.sketches import freqdir

    emb = _t(spark, sf, "embeddings")
    dim, ell, r = 64, 16, 8
    sk = freqdir.decode(
        bytes(similarity.fd_sketch(emb, dim, ell).first()["sketch"])
    )
    V, _ = freqdir.top_directions(sk, r)
    captured = (
        similarity.pca_project(emb.where(F.col("embedding").isNotNull()), V)
        .select(
            F.aggregate(
                F.transform("projected", lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("e")
        )
        .agg(F.sum("e"))
        .first()[0]
    )
    G = similarity.gram_matrix(emb, dim)
    evals = np.sort(np.linalg.eigvalsh(G))[::-1]
    exact_resid = float(evals[r:].sum())
    fd_resid = float(np.trace(G)) - float(captured)
    ok = int(fd_resid <= ell / (ell - r) * exact_resid + 1e-6)
    return spark.createDataFrame(
        [(round(sk.frob_sq, 2), r, ok)],
        "frob_sq double, r int, proj_ok int",
    )


def _q_tfidf_vector_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashed TF-IDF vectorization (round 5, text.hashed_tfidf):
    md5-portable bucket hash, smooth idf ln((1+N)/(1+df))+1, per-doc dense
    vectors assembled in pure JVM expressions.  The oracle replicates the
    ENTIRE vectorizer in SQL — tokenizer, md5 bucketing, tf, document
    frequencies, idf, and the per-doc (nnz, l2) reduction — so the vector
    contents are value-gated end-to-end (nnz and l2 determine the sparse
    weight multiset up to bucket permutation; the md5 bucket hash is the
    same construction already value-gated by dsir_log_weights)."""
    from hllspark import text as htext

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    out = htext.hashed_tfidf(docs, dim=32, seed=0, normalize=False)
    sq = F.aggregate(
        F.transform("tfidf", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    nnz = F.aggregate(
        F.transform(
            "tfidf", lambda x: F.when(x != 0.0, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda a, b: a + b,
    )
    return (
        out.select(
            "doc_id",
            nnz.cast("long").alias("nnz"),
            F.round(F.sqrt(sq), 4).alias("l2"),
        )
        .orderBy("doc_id")
    )


def _q_politeness_waves_urls(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host politeness scheduling (round 5, hllspark/crawl.py
    politeness_waves): deterministic per-doc URLs over four hosts,
    per_wave=3; every host takes the skew-safe range-partitioned rank
    (8 partitions, so each host spans tasks instead of owning one),
    while the oracle states the SEMANTICS as the plain one-window SQL —
    the same engine-runs-the-distributed-plan /
    oracle-states-the-meaning contract as cap_per_group_docs.  The md5
    wave order replicates bit-identically (sampling._md5_hex8)."""
    from hllspark import crawl

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    out = crawl.politeness_waves(urls, per_wave=3, num_partitions=8)
    return out.select("doc_id", "host", "wave").orderBy("doc_id")


def _q_pagerank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over a synthesized host link graph (round 5,
    hllspark/crawl.py pagerank) — uniform teleport + dangling-mass
    redistribution, 3 iterations: src hosts h0-h4, dst hosts h0-h6, so
    h5/h6 are DANGLING (sink) nodes exercising the redistribution term.
    The oracle replicates all three iterations literally in SQL
    (per-iteration dangling scalar, contribution join, recurrence);
    multi-edges count per-row on both sides."""
    from hllspark import crawl

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 280)
    edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string")).alias("src"),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 3 + 1) % 7).cast("string")
        ).alias("dst"),
    )
    out = crawl.pagerank(edges, iters=3, damping=0.85)
    return out.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


# Bump each round: rotates the contract tail through the driver's
# 50-query correctness window (see COVERAGE.md "contract rotation").
_ROUND = 5

# The driver's correctness harness checks the FIRST 50 entries of
# queries().  _HEAD keeps >=1 query per operator family (the load-bearing
# contract: HLL core, dedup chain, one per sketch kind group, curation,
# joins, streaming, ...) permanently inside that window; everything else
# lives in _TAIL and is rotated by _ROUND so each tail query re-enters
# the driver-gated set roughly every other round.
_HEAD = [
    # sketch algebra core (reference parity)
    "hll_users_within_bound",
    "hll_merge_reagg_consistent",
    "hll_linear_counting_exact_small",
    "hlll_smaller_than_hll",
    "farmhash_golden",
    "hllzstd_within_bound",
    "jr_build_estimate",
    # generic sketch family
    "cpc_within_bound",
    "kll_rank_error",
    "bloom_no_false_negatives",
    "mg_grouped_exact",
    "ams_f2_by_type",
    # SQL-only API surface (round 5)
    "sql_api_users_by_type",
    # relational sketch aggregation
    "rollup_fused_within_bound",
    "rolling_distinct_within_bound",
    # dedup chain
    "exact_dedup_group_count",
    "minhash_lsh_near_dups",
    "dedup_clusters",
    "near_dedup_count",
    "index_dedup_new_batch",
    "exact_substr_removal",
    "nb_quality_scores_docs",
    # similarity / ANN
    "ann_ivf_indexed_top3",
    "embedding_near_dup_pairs",
    "semantic_dedup_survivors",
    # curation
    "repetition_stats_by_lang",
    "quality_filter_survivors",
    "line_dedup_stats",
    "pack_chunks",
    # sampling
    "hash_sample_docs",
    # joins
    "asof_click_error",
    "bloom_semi_join_exact",
    # sessionization + streaming
    "session_stats_events",
    "streaming_users_within_bound",
    # text / retrieval
    "bm25_docs",
    # decontamination
    "decontam_overlap",
    # multimodal
    "media_header_stats",
    # sources (WARC ingest family, round 5)
    "warc_read_stats",
    "html_extract_roundtrip",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "repetition_stats_by_lang": _q_repetition_stats_by_lang,
        "quality_filter_survivors": _q_quality_filter_survivors,
        "c4_filter_stats": _q_c4_filter_stats,
        "pack_chunks": _q_pack_chunks,
        "index_dedup_new_batch": _q_index_dedup_new_batch,
        "line_dedup_stats": _q_line_dedup_stats,
        "pii_redact_stats": _q_pii_redact_stats,
        "url_host_stats": _q_url_host_stats,
        "blocked_hosts_filter": _q_blocked_hosts_filter,
        "cap_per_group_docs": _q_cap_per_group_docs,
        "session_stats_events": _q_session_stats_events,
        "hash_sample_docs": _q_hash_sample_docs,
        "stratified_sample_docs": _q_stratified_sample_docs,
        "mixture_sample_docs": _q_mixture_sample_docs,
        "temperature_sample_docs": _q_temperature_sample_docs,
        "lm_perplexity_docs": _q_lm_perplexity_docs,
        "ccnet_bucket_docs": _q_ccnet_bucket_docs,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "crawl_seen_filter": _q_crawl_seen_filter,
        "robots_filter_urls": _q_robots_filter_urls,
        "nb_lang_id_docs": _q_nb_lang_id_docs,
        "lm_perplexity_capped_docs": _q_lm_perplexity_capped_docs,
        "corpus_shuffle_order": _q_corpus_shuffle_order,
        "budget_select_docs": _q_budget_select_docs,
        "canonical_url_dedup": _q_canonical_url_dedup,
        "winnow_near_dups": _q_winnow_near_dups,
        "winnow_guarantee_pairs": _q_winnow_guarantee_pairs,
        "exact_substr_removal": _q_exact_substr_removal,
        "nb_quality_scores_docs": _q_nb_quality_scores_docs,
        "dsir_log_weights": _q_dsir_log_weights,
        "dsir_resample_docs": _q_dsir_resample_docs,
        "weighted_sample_docs": _q_weighted_sample_docs,
        "cm_join_size_within_bound": _q_cm_join_size_within_bound,
        "asof_click_error": _q_asof_click_error,
        "range_join_events": _q_range_join_events,
        "salted_join_exact": _q_salted_join_exact,
        "json_props_stats": _q_json_props_stats,
        "bm25_docs": _q_bm25_docs,
        "top_k_docs_by_len": _q_top_k_docs_by_len,
        "decontam_overlap": _q_decontam_overlap,
        "streaming_users_within_bound": _q_streaming_users_within_bound,
        "tdigest_median_within_tol": _q_tdigest_median_within_tol,
        "kll_rank_error": _q_kll_rank_error,
        "countmin_bounds": _q_countmin_bounds,
        "countsketch_bounds": _q_countsketch_bounds,
        "ams_f2_by_type": _q_ams_f2_by_type,
        "ams_join_size_unbiased": _q_ams_join_size_unbiased,
        "bloom_no_false_negatives": _q_bloom_no_false_negatives,
        "cpc_within_bound": _q_cpc_within_bound,
        "quality_stats_by_lang": _q_quality_stats_by_lang,
        "bpe_token_counts": _q_bpe_token_counts,
        "fingerprint_collision_free": _q_fingerprint_collision_free,
        "dedup_keep_one_count": _q_dedup_keep_one_count,
        "multimodal_feature_dims": _q_multimodal_feature_dims,
        "frame_sample_counts": _q_frame_sample_counts,
        "ann_lsh_recall": _q_ann_lsh_recall,
        "ann_ivf_top3": _q_ann_ivf_top3,
        "ann_ivf_indexed_top3": _q_ann_ivf_indexed_top3,
        "sketch_rollup_within_bound": _q_sketch_rollup_within_bound,
        "rollup_fused_within_bound": _q_rollup_fused_within_bound,
        "cube_fused_within_bound": _q_cube_fused_within_bound,
        "rolling_distinct_within_bound": _q_rolling_distinct_within_bound,
        "bloom_semi_join_exact": _q_bloom_semi_join_exact,
        "hllzstd_within_bound": _q_hllzstd_within_bound,
        "sketch_overlap_within_bound": _q_sketch_overlap_within_bound,
        "media_header_stats": _q_media_header_stats,
        "png_decode_stats": _q_png_decode_stats,
        "jpeg_decode_stats": _q_jpeg_decode_stats,
        "y4m_frame_sample_stats": _q_y4m_frame_sample_stats,
        "zonemap_pruned_users": _q_zonemap_pruned_users,
        "zonemap_range_read": _q_zonemap_range_read,
        "snapshot_delta_pages": _q_snapshot_delta_pages,
        "warc_read_stats": _q_warc_read_stats,
        "misra_gries_exact_when_k_covers": _q_misra_gries_exact_when_k_covers,
        "mg_grouped_exact": _q_mg_grouped_exact,
        "embedding_near_dup_pairs": _q_embedding_near_dup_pairs,
        "semantic_dedup_survivors": _q_semantic_dedup_survivors,
        "kmeans_centroid_update": _q_kmeans_centroid_update,
        "approx_quantiles_by_type": _q_approx_quantiles_by_type,
        "multi_distinct_within_bound": _q_multi_distinct_within_bound,
        "kmv_overlap_within_bound": _q_kmv_overlap_within_bound,
        "priority_sample_members": _q_priority_sample_members,
        "priority_sample_lang_totals": _q_priority_sample_lang_totals,
        "jr_build_estimate": _q_jr_build_estimate,
        "winnow_fingerprint_props": _q_winnow_fingerprint_props,
        "html_extract_roundtrip": _q_html_extract_roundtrip,
        "text_token_counts": _q_text_token_counts,
        "text_stats_by_lang": _q_text_stats_by_lang,
        "exact_dedup_group_count": _q_exact_dedup_group_count,
        "word_jaccard_pairs": _q_word_jaccard_pairs,
        "shingle3_distinct_by_lang": _q_shingle3_distinct_by_lang,
        "hll_shingles_within_bound": _q_hll_shingles_within_bound,
        "cosine_top3": _q_cosine_top3,
        "cosine_top1_is_self": _q_cosine_top1_is_self,
        "pq_recall_within_bound": _q_pq_recall_within_bound,
        "fd_covariance_bound": _q_fd_covariance_bound,
        "fd_pca_project": _q_fd_pca_project,
        "tfidf_vector_stats": _q_tfidf_vector_stats,
        "politeness_waves_urls": _q_politeness_waves_urls,
        "pagerank_hosts": _q_pagerank_hosts,
        "lang_id_markers": _q_lang_id_markers,
        "simhash_self_hamming": _q_simhash_self_hamming,
        "minhash_lsh_near_dups": _q_minhash_lsh_near_dups,
        "dedup_clusters": _q_dedup_clusters,
        "near_dedup_count": _q_near_dedup_count,
        "farmhash_golden": _q_farmhash_golden,
        "exact_distinct_users_by_type": _q_exact_distinct_users_by_type,
        "exact_distinct_docs_by_lang": _q_exact_distinct_docs_by_lang,
        "hll_users_by_type_estimate": _q_hll_users_by_type_estimate,
        "hll_users_within_bound": _q_hll_users_within_bound,
        "sql_api_users_by_type": _q_sql_api_users_by_type,
        "hll_docs_within_bound": _q_hll_docs_within_bound,
        "hll_merge_reagg_consistent": _q_hll_merge_reagg_consistent,
        "hlll_smaller_than_hll": _q_hlll_smaller_than_hll,
        "hll_linear_counting_exact_small": _q_hll_linear_counting_exact_small,
    }
    missing = [n for n in _HEAD if n not in all_queries]
    assert not missing, f"_HEAD names without implementations: {missing}"
    tail = [n for n in all_queries if n not in _HEAD]
    slots = max(1, 50 - len(_HEAD))
    r = (_ROUND * slots) % len(tail) if tail else 0
    ordered = _HEAD + tail[r:] + tail[:r]
    return {n: all_queries[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    _goldens_i64 = {  # reference farmhash goldens (test.cpp:428-432) as int64
        "": 0x826E8074D1FA8DEF - (1 << 64),
        "a": 0x06756523D617D714,
        "qwerty": 0xF0615CBF0F4109A7 - (1 << 64),
        "asdf": 0xCD80A1A405A2802A - (1 << 64),
        "Hamburgevons": 0x3A0EDE9A0A12FE52,
    }
    golden_rows = ", ".join(
        f"({i}, {v})" for i, v in enumerate(_goldens_i64.values())
    )
    _pii_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _pii_phone = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"
    _pii_ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    _pii_text = (
        "text || ' reach doc' || CAST(doc_id AS VARCHAR) || '@' || source "
        "|| '.example.co.uk or 555-010-' || CAST(1000 + doc_id % 9000 AS VARCHAR) "
        "|| ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' "
        "|| CAST(doc_id % 100 AS VARCHAR)"
    )
    _pii_redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{_pii_email}', "
        f"'<EMAIL>', 'g'), '{_pii_phone}', '<PHONE>', 'g'), '{_pii_ipv4}', "
        "'<IPV4>', 'g')"
    )
    # DSIR shared model replica (Xie et al. 2023): engine-wide tokenizer,
    # unigram+bigram stream, md5 feature hash into B=64 buckets (seed 3),
    # Laplace-smoothed log p_target/p_raw over the complete bucket spine,
    # per-raw-doc summed log weight — mirrors curation.dsir_weights /
    # dsir_scores term for term.
    _dsir_bucket = (
        "CAST(concat('0x', substring(md5({g} || chr(31) || '3'), 1, 8)) "
        "AS BIGINT) % 64"
    )
    _DSIR_MODEL_SQL = (
        "WITH tg AS (SELECT list_filter(regexp_split_to_array(text, "
        "  '\\s+'), x -> x <> '') AS ws FROM documents "
        "  WHERE lang = 'en' AND doc_id < 100), "
        "rw AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "  '\\s+'), x -> x <> '') AS ws FROM documents "
        "  WHERE doc_id >= 100 AND doc_id < 400), "
        "tgr AS (SELECT ws[i] AS gram FROM tg, "
        "  unnest(generate_series(1, len(ws))) t(i) "
        "  UNION ALL SELECT ws[i] || ' ' || ws[i + 1] FROM tg, "
        "  unnest(generate_series(1, len(ws) - 1)) t(i)), "
        "rwg AS (SELECT doc_id, ws[i] AS gram FROM rw, "
        "  unnest(generate_series(1, len(ws))) t(i) "
        "  UNION ALL SELECT doc_id, ws[i] || ' ' || ws[i + 1] FROM rw, "
        "  unnest(generate_series(1, len(ws) - 1)) t(i)), "
        "ctc AS (SELECT " + _dsir_bucket.format(g="gram") + " AS bucket, "
        "  count(*) AS c_t FROM tgr GROUP BY 1), "
        "crc AS (SELECT " + _dsir_bucket.format(g="gram") + " AS bucket, "
        "  count(*) AS c_r FROM rwg GROUP BY 1), "
        "tt AS (SELECT (SELECT coalesce(sum(c_t), 0) FROM ctc) AS n_t, "
        "  (SELECT coalesce(sum(c_r), 0) FROM crc) AS n_r), "
        "w AS (SELECT s.bucket, "
        "  ln((coalesce(ct.c_t, 0) + 1.0) / (tt.n_t + 64.0)) - "
        "  ln((coalesce(cr.c_r, 0) + 1.0) / (tt.n_r + 64.0)) AS weight "
        "  FROM range(64) s(bucket) "
        "  LEFT JOIN ctc ct ON ct.bucket = s.bucket "
        "  LEFT JOIN crc cr ON cr.bucket = s.bucket CROSS JOIN tt), "
        "rbk AS (SELECT doc_id, " + _dsir_bucket.format(g="gram")
        + " AS bucket FROM rwg), "
        "ag AS (SELECT r.doc_id, sum(w.weight) AS s, count(*) AS n "
        "  FROM rbk r JOIN w USING (bucket) GROUP BY r.doc_id)"
    )
    return {
        "repetition_stats_by_lang": (
            "WITH base AS (SELECT doc_id, lang, text, length(text) AS n_chars, "
            "  string_split(text, ' the ') AS segs, "
            "  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words "
            "  FROM documents), "
            "ex AS (SELECT doc_id, trim(segs[i]) AS line FROM base, "
            "  unnest(generate_series(1, len(segs))) t(i) "
            "  WHERE trim(segs[i]) <> ''), "
            "segstats AS (SELECT doc_id, count(*) AS n_lines, "
            "  count(DISTINCT line) AS n_dlines, sum(length(line)) AS line_chars, "
            "  sum(CASE WHEN cnt > 1 THEN length(line) ELSE 0 END) AS dup_chars "
            "  FROM (SELECT doc_id, line, count(*) OVER "
            "    (PARTITION BY doc_id, line) AS cnt FROM ex) s GROUP BY doc_id), "
            "wx AS (SELECT doc_id, words[i] AS w FROM base, "
            "  unnest(generate_series(1, len(words))) t(i)), "
            "wstats AS (SELECT doc_id, count(*) AS n_words, "
            "  count(DISTINCT w) AS n_dwords FROM wx GROUP BY doc_id), "
            "grams AS (SELECT doc_id, words[i] || ' ' || words[i+1] AS gram "
            "  FROM base, unnest(generate_series(1, len(words) - 1)) t(i) "
            "  WHERE len(words) >= 2), "
            "gcnt AS (SELECT doc_id, gram, count(*) AS c FROM grams "
            "  GROUP BY doc_id, gram), "
            "best AS (SELECT doc_id, c * length(gram) AS covered FROM "
            "  (SELECT doc_id, gram, c, row_number() OVER (PARTITION BY doc_id "
            "   ORDER BY c DESC, gram ASC) AS rn FROM gcnt) WHERE rn = 1), "
            "perdoc AS (SELECT b.doc_id, b.lang, "
            "  COALESCE((s.n_lines - s.n_dlines) * 1.0 / NULLIF(s.n_lines, 0), 0) "
            "    AS dlf, "
            "  COALESCE(s.dup_chars * 1.0 / NULLIF(s.line_chars, 0), 0) AS dlcf, "
            "  COALESCE((w.n_words - w.n_dwords) * 1.0 / NULLIF(w.n_words, 0), 0) "
            "    AS dwf, "
            "  COALESCE(bb.covered * 1.0 / NULLIF(b.n_chars, 0), 0) AS tg2 "
            "  FROM base b LEFT JOIN segstats s USING (doc_id) "
            "  LEFT JOIN wstats w USING (doc_id) "
            "  LEFT JOIN best bb USING (doc_id)) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "round(avg(dlf), 4) AS avg_dup_line_frac, "
            "round(avg(dlcf), 4) AS avg_dup_line_char_frac, "
            "round(avg(dwf), 4) AS avg_dup_word_frac, "
            "round(avg(tg2), 4) AS avg_top2gram_char_frac "
            "FROM perdoc GROUP BY lang ORDER BY lang"
        ),
        "quality_filter_survivors": (
            "WITH base AS (SELECT doc_id, text, length(text) AS n_chars, "
            "  string_split(text, ' the ') AS segs, "
            "  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words "
            "  FROM documents), "
            "ex AS (SELECT doc_id, trim(segs[i]) AS line FROM base, "
            "  unnest(generate_series(1, len(segs))) t(i) "
            "  WHERE trim(segs[i]) <> ''), "
            "segstats AS (SELECT doc_id, count(*) AS n_lines, "
            "  count(DISTINCT line) AS n_dlines, sum(length(line)) AS line_chars, "
            "  sum(CASE WHEN cnt > 1 THEN length(line) ELSE 0 END) AS dup_chars "
            "  FROM (SELECT doc_id, line, count(*) OVER "
            "    (PARTITION BY doc_id, line) AS cnt FROM ex) s GROUP BY doc_id), "
            "wx AS (SELECT doc_id, words[i] AS w FROM base, "
            "  unnest(generate_series(1, len(words))) t(i)), "
            "wstats AS (SELECT doc_id, count(*) AS n_words, "
            "  sum(length(w)) AS wchars FROM wx GROUP BY doc_id), "
            "g2 AS (SELECT doc_id, words[i] || ' ' || words[i+1] AS gram "
            "  FROM base, unnest(generate_series(1, len(words) - 1)) t(i) "
            "  WHERE len(words) >= 2), "
            "b2 AS (SELECT doc_id, c * length(gram) AS covered FROM "
            "  (SELECT doc_id, gram, count(*) AS c, row_number() OVER "
            "   (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn "
            "   FROM g2 GROUP BY doc_id, gram) WHERE rn = 1), "
            "g3 AS (SELECT doc_id, "
            "  words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram "
            "  FROM base, unnest(generate_series(1, len(words) - 2)) t(i) "
            "  WHERE len(words) >= 3), "
            "b3 AS (SELECT doc_id, c * length(gram) AS covered FROM "
            "  (SELECT doc_id, gram, count(*) AS c, row_number() OVER "
            "   (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn "
            "   FROM g3 GROUP BY doc_id, gram) WHERE rn = 1), "
            "perdoc AS (SELECT b.doc_id, w.n_words, "
            "  w.wchars * 1.0 / w.n_words AS mwl, "
            "  ((length(b.text) - length(replace(b.text, '#', ''))) "
            "   + (length(b.text) - length(replace(b.text, '...', ''))) / 3) "
            "   * 1.0 / w.n_words AS swr, "
            "  COALESCE((s.n_lines - s.n_dlines) * 1.0 / NULLIF(s.n_lines, 0), "
            "    0) AS dlf, "
            "  COALESCE(s.dup_chars * 1.0 / NULLIF(s.line_chars, 0), 0) AS dlcf, "
            "  COALESCE(b2.covered * 1.0 / NULLIF(b.n_chars, 0), 0) AS tg2, "
            "  COALESCE(b3.covered * 1.0 / NULLIF(b.n_chars, 0), 0) AS tg3 "
            "  FROM base b LEFT JOIN segstats s USING (doc_id) "
            "  LEFT JOIN wstats w USING (doc_id) "
            "  LEFT JOIN b2 USING (doc_id) LEFT JOIN b3 USING (doc_id)) "
            # the fixture has no '...' runs, so swr reduces to the '#' count
            "SELECT doc_id FROM perdoc "
            "WHERE n_words BETWEEN 20 AND 100000 "
            "AND mwl BETWEEN 1.0 AND 10.0 AND swr <= 0.1 "
            "AND dlf <= 0.35 AND dlcf <= 0.5 AND tg2 <= 0.095 AND tg3 <= 0.12 "
            "ORDER BY doc_id"
        ),
        "c4_filter_stats": (
            "WITH base AS (SELECT doc_id, "
            "  replace(text, ' data', ' data.') AS t FROM documents), "
            "seg AS (SELECT doc_id, t, "
            "  list_filter(list_transform(regexp_split_to_array(t, ' slow '), "
            "    x -> trim(x)), x -> x <> '') AS lines FROM base), "
            "k AS (SELECT doc_id, t, lines, list_filter(lines, x -> "
            "  len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> '')) >= 3 "
            "  AND regexp_matches(x, '[.!?]$') "
            "  AND NOT contains(lower(x), 'javascript') "
            "  AND NOT contains(lower(x), 'customer')) AS kept FROM seg), "
            "c AS (SELECT doc_id, t, lines, kept, "
            "  array_to_string(kept, chr(10)) AS clean FROM k), "
            "s AS (SELECT doc_id, t, lines, kept, clean, "
            "  len(regexp_extract_all(clean, '[.!?]')) AS ns FROM c) "
            "SELECT doc_id, CAST(length(clean) AS BIGINT) AS text_len, "
            "CAST(len(lines) AS BIGINT) AS n_lines, "
            "CAST(len(kept) AS BIGINT) AS n_lines_kept, "
            "CAST(ns AS BIGINT) AS n_sentences FROM s "
            "WHERE ns >= 2 AND NOT contains(lower(t), 'lorem ipsum') "
            "AND NOT contains(lower(t), '{') ORDER BY doc_id"
        ),
        "index_dedup_new_batch": (
            "WITH corpus AS (SELECT doc_id, text FROM documents "
            "  WHERE doc_id < 300), "
            "newb AS ("
            "  SELECT doc_id, text FROM documents "
            "  WHERE doc_id >= 300 AND doc_id < 350"
            "  UNION ALL"
            "  SELECT doc_id + 40000, text FROM documents WHERE doc_id < 5), "
            "g AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') "
            "  for i in range(1, len(w) - 1)]) AS gs "
            "  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') "
            "  AS w FROM (SELECT * FROM corpus UNION ALL SELECT * FROM newb)) "
            "  WHERE len(w) >= 3) "
            "SELECT n.doc_id AS new_id, c.doc_id AS index_id, "
            "1 AS found, 1 AS est_close "
            "FROM (SELECT g.* FROM g JOIN newb USING (doc_id)) n, "
            "     (SELECT g.* FROM g JOIN corpus USING (doc_id)) c "
            "WHERE len(list_intersect(n.gs, c.gs)) * 1.0 / "
            "len(list_distinct(list_concat(n.gs, c.gs))) >= 0.8 "
            "ORDER BY new_id, index_id"
        ),
        "pack_chunks": (
            "WITH t AS (SELECT doc_id, "
            "  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) "
            "  AS n FROM documents), "
            "c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id "
            "  ROWS UNBOUNDED PRECEDING) AS cum FROM t) "
            "SELECT doc_id, n AS n_tokens, "
            "CAST(floor((cum - n) / 256) AS BIGINT) AS chunk_id, "
            "CAST((cum - n) % 256 AS BIGINT) AS chunk_offset, "
            "CAST(CASE WHEN n > 0 THEN floor((cum - 1) / 256) "
            "  - floor((cum - n) / 256) + 1 ELSE 0 END AS BIGINT) "
            "  AS n_chunks_spanned "
            "FROM c WHERE doc_id < 100 ORDER BY doc_id"
        ),
        "line_dedup_stats": (
            "WITH base AS (SELECT doc_id, lang, "
            "  string_split(text, ' the ') AS segs FROM documents), "
            "ex AS (SELECT doc_id, i, trim(segs[i]) AS line FROM base, "
            "  unnest(generate_series(1, len(segs))) t(i) "
            "  WHERE trim(segs[i]) <> ''), "
            "bad AS (SELECT line FROM ex GROUP BY line "
            "  HAVING count(DISTINCT doc_id) > 2), "
            "kept AS (SELECT * FROM ex WHERE line NOT IN "
            "  (SELECT line FROM bad)), "
            "reb AS (SELECT doc_id, string_agg(line, ' the ' ORDER BY i) "
            "  AS text, count(*) AS n_kept FROM kept GROUP BY doc_id), "
            "tot AS (SELECT doc_id, count(*) AS n_lines FROM ex "
            "  GROUP BY doc_id), "
            "per AS (SELECT b.doc_id, b.lang, "
            "  COALESCE(t.n_lines, 0) AS n_lines, "
            "  COALESCE(t.n_lines, 0) - COALESCE(r.n_kept, 0) AS dropped, "
            "  COALESCE(length(r.text), 0) AS chars "
            "  FROM (SELECT DISTINCT doc_id, lang FROM base) b "
            "  LEFT JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id)) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_lines) AS BIGINT) AS n_lines, "
            "CAST(sum(dropped) AS BIGINT) AS n_lines_dropped, "
            "CAST(sum(chars) AS BIGINT) AS total_chars "
            "FROM per GROUP BY lang ORDER BY lang"
        ),
        "pii_redact_stats": (
            f"WITH p AS (SELECT lang, {_pii_text} AS t FROM documents), "
            f"r AS (SELECT lang, "
            f"  len(regexp_extract_all(t, '{_pii_email}')) AS ne, "
            f"  len(regexp_extract_all(t, '{_pii_phone}')) AS np, "
            f"  len(regexp_extract_all(t, '{_pii_ipv4}')) AS ni, "
            f"  {_pii_redacted} AS red FROM p) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(ne) AS BIGINT) AS n_emails, "
            "CAST(sum(np) AS BIGINT) AS n_phones, "
            "CAST(sum(ni) AS BIGINT) AS n_ipv4, "
            f"CAST(sum(len(regexp_extract_all(red, '{_pii_email}')) "
            f"+ len(regexp_extract_all(red, '{_pii_phone}')) "
            f"+ len(regexp_extract_all(red, '{_pii_ipv4}'))) AS BIGINT) "
            "AS residual_after_redact "
            "FROM r GROUP BY lang ORDER BY lang"
        ),
        "url_host_stats": (
            "WITH u AS (SELECT doc_id, 'https://' || source || "
            "  CASE WHEN doc_id % 2 = 0 THEN '.example.co.uk/d/' "
            "  ELSE '.example.org/d/' END || CAST(doc_id AS VARCHAR) || '/p' "
            "  AS url FROM documents), "
            "f AS (SELECT doc_id, "
            "  lower(string_split(string_split(regexp_extract(url, "
            "    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '@')[-1], ':')[1]) "
            "    AS host, "
            "  len(list_filter(string_split(regexp_extract(url, "
            "    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'), "
            "    x -> x <> '')) AS path_depth FROM u), "
            "g AS (SELECT doc_id, host, path_depth, string_split(host, '.') "
            "  AS l FROM f), "
            "rd AS (SELECT doc_id, host, path_depth, "
            "  CASE WHEN len(l) >= 3 AND l[len(l) - 1] IN "
            "    ('co', 'com', 'net', 'org', 'gov', 'edu', 'ac') "
            "  THEN l[len(l) - 2] || '.' || l[len(l) - 1] || '.' || l[len(l)] "
            "  WHEN len(l) >= 2 THEN l[len(l) - 1] || '.' || l[len(l)] "
            "  ELSE host END AS registered_domain FROM g) "
            "SELECT registered_domain, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts, "
            "round(avg(path_depth), 4) AS avg_path_depth "
            "FROM rd GROUP BY registered_domain ORDER BY registered_domain"
        ),
        "blocked_hosts_filter": (
            # re-derive the URL from the construction, parse the host the
            # standard way (scheme -> strip userinfo -> strip port), and
            # apply the label-suffix blocklist rule independently; both
            # engine modes must match this one answer
            "WITH u AS (SELECT doc_id, 'https://' || "
            "  CASE WHEN doc_id % 5 = 0 THEN 'user:pw@' ELSE '' END || "
            "  lower(source) || "
            "  CASE WHEN doc_id % 3 = 0 THEN '.ads.tracker.net' "
            "       WHEN doc_id % 3 = 1 THEN '.example.org' "
            "       ELSE '.nottracker.net' END || "
            "  CASE WHEN doc_id % 2 = 0 THEN ':8443' ELSE '' END || "
            "  '/p/' || CAST(doc_id AS VARCHAR) AS url "
            "  FROM documents WHERE doc_id < 400), "
            "h AS (SELECT doc_id, "
            "  lower(string_split(string_split(regexp_extract(url, "
            "    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '@')[-1], "
            "    ':')[1]) AS host FROM u), "
            "kept AS (SELECT doc_id FROM h WHERE NOT "
            "  (host = 'tracker.net' OR host LIKE '%.tracker.net')) "
            "SELECT m.mode, k.doc_id FROM kept k CROSS JOIN "
            "(SELECT unnest(['dataframe', 'literal', 'set']) AS mode) m "
            "ORDER BY mode, doc_id"
        ),
        "cap_per_group_docs": (
            # the PLAIN one-window statement of the semantics — the
            # engine runs the salted two-phase plan, gated to produce
            # exactly this membership
            "SELECT lang, doc_id FROM ("
            "SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
            "ORDER BY substring(md5(concat_ws(chr(31), "
            "CAST(doc_id AS VARCHAR), '3')), 1, 8), doc_id) AS rn "
            "FROM documents) WHERE rn <= 12 ORDER BY lang, doc_id"
        ),
        "session_stats_events": (
            "WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id "
            "FROM events), "
            "f AS (SELECT user_id, us, event_id, CASE WHEN lag(us) OVER w "
            "IS NULL OR us - lag(us) OVER w > 14400000000 THEN 1 ELSE 0 END "
            "AS is_new FROM o "
            "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
            "s AS (SELECT user_id, us, sum(is_new) OVER (PARTITION BY "
            "user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) "
            "AS seq FROM f) "
            "SELECT user_id, CAST(seq AS BIGINT) AS session_seq, "
            "count(*) AS n_events, "
            "CAST(max(us) - min(us) AS BIGINT) AS duration_us "
            "FROM s GROUP BY user_id, seq ORDER BY user_id, session_seq"
        ),
        "hash_sample_docs": (
            "SELECT doc_id FROM documents WHERE "
            "substring(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), "
            "'7')), 1, 8) < '33333333' ORDER BY doc_id"
        ),
        "stratified_sample_docs": (
            "SELECT lang, doc_id FROM ("
            "SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
            "ORDER BY substring(md5(concat_ws(chr(31), "
            "CAST(doc_id AS VARCHAR), '3')), 1, 8), doc_id) AS rn, "
            "ceil(count(*) OVER (PARTITION BY lang) * 0.1) AS take "
            "FROM documents) WHERE rn <= take ORDER BY lang, doc_id"
        ),
        "winnow_guarantee_pairs": (
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws "
            "  FROM documents WHERE doc_id < 300), "
            "g AS (SELECT DISTINCT doc_id, "
            "  list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram "
            "  FROM base, unnest(generate_series(1, len(ws) - 7)) t(i) "
            "  WHERE len(ws) >= 8) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM g a "
            "JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2 ORDER BY id_a, id_b"
        ),
        "winnow_near_dups": (
            "WITH base AS (SELECT doc_id, lower(regexp_replace(text, "
            "  '\\s+', ' ', 'g')) AS norm FROM documents WHERE doc_id < 50), "
            "aug AS (SELECT doc_id, norm FROM base "
            "  UNION ALL SELECT doc_id + 1000, norm FROM base "
            "  WHERE doc_id < 5 "
            "  UNION ALL SELECT doc_id + 2000, norm FROM base "
            "  WHERE doc_id < 5) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM aug a, aug b "
            "WHERE a.doc_id < b.doc_id AND b.doc_id >= 1000 "
            "AND a.norm = b.norm ORDER BY id_a, id_b"
        ),
        "nb_quality_scores_docs": (
            "WITH tr AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 "
            "  END AS y, list_filter(regexp_split_to_array(text, '\\s+'), "
            "  x -> x <> '') AS ws FROM documents WHERE doc_id < 200), "
            "tok AS (SELECT y, ws[i] AS token FROM tr, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "pt AS (SELECT token, sum(y) AS c_pos, sum(1 - y) AS c_neg "
            "  FROM tok GROUP BY token), "
            "tt AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, "
            "  CAST(count(*) AS DOUBLE) AS v FROM pt), "
            "w AS (SELECT token, "
            "  ln((c_pos + 1.0) / (n_pos + v)) - "
            "  ln((c_neg + 1.0) / (n_neg + v)) AS weight "
            "  FROM pt CROSS JOIN tt), "
            "sd AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws "
            "  FROM documents WHERE doc_id >= 200 AND doc_id < 300), "
            "st AS (SELECT doc_id, ws[i] AS token FROM sd, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "ag AS (SELECT s.doc_id, sum(coalesce(w.weight, 0)) AS sm, "
            "  count(*) AS n FROM st s LEFT JOIN w USING (token) "
            "  GROUP BY s.doc_id) "
            "SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) "
            "  AS n_tokens, "
            "round(1.0 / (1.0 + exp(-(CASE WHEN coalesce(a.n, 0) > 0 "
            "  THEN a.sm / a.n ELSE 0.0 END))), 4) AS score "
            "FROM sd d LEFT JOIN ag a USING (doc_id) ORDER BY doc_id"
        ),
        "dsir_log_weights": (
            _DSIR_MODEL_SQL
            + " SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) "
            "  AS n_features, "
            "round(coalesce(a.s, 0.0), 4) AS log_weight "
            "FROM (SELECT doc_id FROM rw) d LEFT JOIN ag a "
            "USING (doc_id) ORDER BY doc_id"
        ),
        "dsir_resample_docs": (
            _DSIR_MODEL_SQL
            + ", sc AS (SELECT d.doc_id, coalesce(a.s, 0.0) AS lw "
            "  FROM (SELECT doc_id FROM rw) d LEFT JOIN ag a "
            "  USING (doc_id)), "
            "pri AS (SELECT doc_id, lw - ln(-ln("
            "  (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) "
            "  || chr(31) || '4'), 1, 13)) AS BIGINT) + 1) "
            "  / 4503599627370496.0)) AS gsc FROM sc), "
            "top AS (SELECT doc_id FROM pri "
            "  ORDER BY gsc DESC, doc_id LIMIT 50) "
            "SELECT d.doc_id, d.lang FROM documents d "
            "JOIN top USING (doc_id) ORDER BY doc_id"
        ),
        "exact_substr_removal": (
            "WITH src AS (SELECT doc_id, text FROM documents "
            "  WHERE doc_id < 300 "
            "  UNION ALL SELECT doc_id + 1000, text FROM documents "
            "  WHERE doc_id < 5), "
            "base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws "
            "  FROM src), "
            "g AS (SELECT doc_id, i AS pos, "
            "  list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram "
            "  FROM base, unnest(generate_series(1, len(ws) - 7)) t(i) "
            "  WHERE len(ws) >= 8), "
            "f AS (SELECT doc_id, pos, "
            "  count(*) OVER (PARTITION BY gram) AS c, "
            "  row_number() OVER (PARTITION BY gram "
            "    ORDER BY doc_id, pos) AS rn FROM g), "
            "st AS (SELECT doc_id, pos FROM f WHERE c >= 2 AND rn > 1), "
            "cov AS (SELECT DISTINCT doc_id, pos + o AS p FROM st, "
            "  unnest(generate_series(0, 7)) t(o)), "
            "tok AS (SELECT doc_id, i AS p, ws[i] AS w FROM base, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "kp AS (SELECT t.doc_id, count(*) AS n_kept, "
            "  string_agg(t.w, ' ' ORDER BY t.p) AS kept_text "
            "  FROM tok t LEFT JOIN cov c "
            "  ON t.doc_id = c.doc_id AND t.p = c.p "
            "  WHERE c.doc_id IS NULL GROUP BY t.doc_id) "
            "SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens, "
            "CAST(len(b.ws) - coalesce(k.n_kept, 0) AS BIGINT) "
            "  AS n_removed, "
            "coalesce(k.kept_text, '') AS kept_text "
            "FROM base b LEFT JOIN kp k USING (doc_id) "
            "WHERE len(b.ws) - coalesce(k.n_kept, 0) > 0 ORDER BY doc_id"
        ),
        "canonical_url_dedup": (
            "SELECT doc_id, CAST(1 AS BIGINT) AS n_canonical, "
            "'https://' || lower(source) || '.example.com/d/' || "
            "CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canonical "
            "FROM documents WHERE doc_id < 300 ORDER BY doc_id"
        ),
        "budget_select_docs": (
            "WITH t AS (SELECT doc_id, CAST(len(list_filter("
            "  regexp_split_to_array(text, '\\s+'), x -> x <> '')) "
            "  AS BIGINT) AS nt FROM documents), "
            "c AS (SELECT doc_id, nt, sum(nt) OVER (ORDER BY doc_id "
            "  ROWS UNBOUNDED PRECEDING) AS cum FROM t) "
            "SELECT doc_id, nt FROM c WHERE cum <= 5000 ORDER BY doc_id"
        ),
        "corpus_shuffle_order": (
            "SELECT doc_id, CAST(row_number() OVER (ORDER BY "
            "substring(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), "
            "'9')), 1, 8), doc_id) AS INT) AS rank "
            "FROM documents QUALIFY rank <= 100 ORDER BY rank"
        ),
        "lm_perplexity_capped_docs": (
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') "
            "  AS ws FROM documents WHERE doc_id < 300), "
            "tok AS (SELECT doc_id, ws[i] AS w FROM base, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "vocab AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok "
            "  GROUP BY w ORDER BY c DESC, w LIMIT 20)), "
            "vsz AS (SELECT count(*) + 1 AS v FROM vocab), "
            "tokm AS (SELECT doc_id, CASE WHEN w IN (SELECT w FROM vocab) "
            "  THEN w ELSE '<unk>' END AS w FROM tok), "
            "uni AS (SELECT w, count(*) AS c1 FROM tokm GROUP BY w), "
            "st AS (SELECT count(*) AS n FROM tok), "
            "praw AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM base, "
            "  unnest(generate_series(1, len(ws) - 1)) t(i) "
            "  WHERE len(ws) >= 2), "
            "pairs AS (SELECT doc_id, "
            "  CASE WHEN w1 IN (SELECT w FROM vocab) THEN w1 "
            "    ELSE '<unk>' END AS w1, "
            "  CASE WHEN w2 IN (SELECT w FROM vocab) THEN w2 "
            "    ELSE '<unk>' END AS w2 FROM praw), "
            "bi AS (SELECT w1, w2, count(*) AS c2 FROM pairs "
            "  GROUP BY w1, w2), "
            "bl AS (SELECT p.doc_id, "
            "  ln((b.c2 + 1.0) / (u.c1 + vsz.v)) AS lp "
            "  FROM pairs p JOIN bi b USING (w1, w2) "
            "  JOIN uni u ON u.w = p.w1 CROSS JOIN vsz), "
            "agg AS (SELECT doc_id, sum(lp) AS slp FROM bl GROUP BY doc_id), "
            "fs AS (SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens, "
            "  CASE WHEN len(b.ws) > 0 THEN "
            "    ln((coalesce(u.c1, 0) + 1.0) / (st.n + vsz.v)) ELSE 0 END "
            "    AS lp0 "
            "  FROM base b LEFT JOIN uni u ON u.w = "
            "    (CASE WHEN b.ws[1] IN (SELECT w FROM vocab) THEN b.ws[1] "
            "     ELSE '<unk>' END) "
            "  CROSS JOIN st CROSS JOIN vsz) "
            "SELECT f.doc_id, f.n_tokens, "
            "round(CASE WHEN f.n_tokens > 0 THEN "
            "  -(f.lp0 + coalesce(a.slp, 0)) / f.n_tokens ELSE 0.0 END, 4) "
            "  AS cross_entropy "
            "FROM fs f LEFT JOIN agg a USING (doc_id) ORDER BY f.doc_id"
        ),
        "lm_perplexity_docs": (
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') "
            "  AS ws FROM documents WHERE doc_id < 300), "
            "tok AS (SELECT doc_id, ws[i] AS w FROM base, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w), "
            "st AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM tok), "
            "pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM base, "
            "  unnest(generate_series(1, len(ws) - 1)) t(i) "
            "  WHERE len(ws) >= 2), "
            "bi AS (SELECT w1, w2, count(*) AS c2 FROM pairs "
            "  GROUP BY w1, w2), "
            "bl AS (SELECT p.doc_id, "
            "  ln((b.c2 + 1.0) / (u.c1 + st.v)) AS lp "
            "  FROM pairs p JOIN bi b USING (w1, w2) "
            "  JOIN uni u ON u.w = p.w1 CROSS JOIN st), "
            "agg AS (SELECT doc_id, sum(lp) AS slp FROM bl GROUP BY doc_id), "
            "fs AS (SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens, "
            "  CASE WHEN len(b.ws) > 0 THEN "
            "    ln((coalesce(u.c1, 0) + 1.0) / (st.n + st.v)) ELSE 0 END "
            "    AS lp0 "
            "  FROM base b LEFT JOIN uni u ON u.w = b.ws[1] CROSS JOIN st) "
            "SELECT f.doc_id, f.n_tokens, "
            "round(CASE WHEN f.n_tokens > 0 THEN "
            "  -(f.lp0 + coalesce(a.slp, 0)) / f.n_tokens ELSE 0.0 END, 4) "
            "  AS cross_entropy "
            "FROM fs f LEFT JOIN agg a USING (doc_id) ORDER BY f.doc_id"
        ),
        "nb_lang_id_docs": (
            "WITH tr AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' "
            "  AS t FROM documents WHERE doc_id < 300), "
            "tg AS (SELECT lang, substring(t, CAST(i AS INT), 2) AS gram "
            "  FROM tr, unnest(generate_series(1, length(t) - 1)) s(i)), "
            "counts AS (SELECT gram, lang, count(*) AS c FROM tg "
            "  GROUP BY 1, 2), "
            "vocab AS (SELECT DISTINCT gram FROM counts), "
            "langs AS (SELECT lang, count(*) AS n_docs FROM tr "
            "  GROUP BY lang), "
            "fm AS (SELECT v.gram, l.lang, coalesce(c.c, 0) AS c "
            "  FROM vocab v CROSS JOIN (SELECT lang FROM langs) l "
            "  LEFT JOIN counts c ON c.gram = v.gram AND c.lang = l.lang), "
            "tot AS (SELECT lang, sum(c) AS n_lang FROM fm GROUP BY lang), "
            "vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab), "
            "wt AS (SELECT gram, f.lang, "
            "  ln((f.c + 1.0) / (t.n_lang + vv.v)) AS w "
            "  FROM fm f JOIN tot t USING (lang) CROSS JOIN vv), "
            "ls AS (SELECT l.lang, "
            "  ln(CAST(l.n_docs AS DOUBLE) / "
            "    (SELECT sum(n_docs) FROM langs)) AS prior, "
            "  ln(1.0 / (t.n_lang + vv.v)) AS oov "
            "  FROM langs l JOIN tot t USING (lang) CROSS JOIN vv), "
            "te AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t "
            "  FROM documents WHERE doc_id >= 300 AND doc_id < 500), "
            "teg AS (SELECT doc_id, substring(t, CAST(i AS INT), 2) AS gram "
            "  FROM te, unnest(generate_series(1, length(t) - 1)) s(i)), "
            "gt AS (SELECT doc_id, count(*) AS g FROM teg GROUP BY doc_id), "
            "pl AS (SELECT doc_id, w.lang, sum(w.w) AS s, count(*) AS ci "
            "  FROM teg JOIN wt w USING (gram) GROUP BY 1, 2), "
            "sc AS (SELECT b.doc_id, l.lang, "
            "  l.prior + coalesce(p.s, 0) "
            "  + (coalesce(g.g, 0) - coalesce(p.ci, 0)) * l.oov AS score "
            "  FROM (SELECT DISTINCT doc_id FROM te) b CROSS JOIN ls l "
            "  LEFT JOIN pl p ON p.doc_id = b.doc_id AND p.lang = l.lang "
            "  LEFT JOIN gt g ON g.doc_id = b.doc_id), "
            "rk AS (SELECT doc_id, lang, score, row_number() OVER ("
            "  PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn "
            "  FROM sc) "
            "SELECT doc_id, lang, round(score, 4) AS score FROM rk "
            "WHERE rn = 1 ORDER BY doc_id"
        ),
        "robots_filter_urls": (
            "SELECT doc_id, 'https://' || source || '.example.com/d/' || "
            "CAST(doc_id AS VARCHAR) AS url FROM documents "
            "WHERE NOT (starts_with(CAST(doc_id AS VARCHAR), '1') "
            "AND NOT starts_with(CAST(doc_id AS VARCHAR), '12')) "
            "ORDER BY doc_id"
        ),
        "crawl_seen_filter": (
            "WITH u AS (SELECT doc_id, 'https://' || source || "
            "  '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url "
            "  FROM documents) "
            "SELECT b2.doc_id, b2.url FROM u b2 "
            "WHERE b2.doc_id >= 100 AND b2.doc_id < 250 "
            "AND NOT EXISTS (SELECT 1 FROM u b1 "
            "  WHERE b1.doc_id < 150 AND b1.url = b2.url) "
            "ORDER BY b2.doc_id"
        ),
        "bpe_pair_counts": (
            "WITH base AS (SELECT list_filter(regexp_split_to_array("
            "  lower(text), '\\s+'), x -> x <> '') AS ws "
            "  FROM documents WHERE doc_id < 200), "
            "w AS (SELECT ws[i] AS word FROM base, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "wc AS (SELECT word, count(*) AS c, length(word) AS L "
            "  FROM w GROUP BY word), "
            "p AS (SELECT substring(word, CAST(i AS INT), 1) AS s1, "
            "  CASE WHEN i < L THEN substring(word, CAST(i + 1 AS INT), 1) "
            "  ELSE '</w>' END AS s2, c "
            "  FROM wc, unnest(generate_series(1, L)) t(i)) "
            "SELECT s1, s2, CAST(sum(c) AS BIGINT) AS count FROM p "
            "GROUP BY s1, s2 ORDER BY count DESC, s1, s2 LIMIT 30"
        ),
        "ccnet_bucket_docs": (
            "WITH base AS (SELECT doc_id, lang, list_filter("
            "  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') "
            "  AS ws FROM documents WHERE doc_id < 300), "
            "tok AS (SELECT doc_id, ws[i] AS w FROM base, "
            "  unnest(generate_series(1, len(ws))) t(i)), "
            "uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w), "
            "st AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM tok), "
            "pairs AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM base, "
            "  unnest(generate_series(1, len(ws) - 1)) t(i) "
            "  WHERE len(ws) >= 2), "
            "bi AS (SELECT w1, w2, count(*) AS c2 FROM pairs "
            "  GROUP BY w1, w2), "
            "bl AS (SELECT p.doc_id, "
            "  ln((b.c2 + 1.0) / (u.c1 + st.v)) AS lp "
            "  FROM pairs p JOIN bi b USING (w1, w2) "
            "  JOIN uni u ON u.w = p.w1 CROSS JOIN st), "
            "agg AS (SELECT doc_id, sum(lp) AS slp FROM bl GROUP BY doc_id), "
            "fs AS (SELECT b.doc_id, b.lang, "
            "  CAST(len(b.ws) AS BIGINT) AS n_tokens, "
            "  CASE WHEN len(b.ws) > 0 THEN "
            "    ln((coalesce(u.c1, 0) + 1.0) / (st.n + st.v)) ELSE 0 END "
            "    AS lp0 "
            "  FROM base b LEFT JOIN uni u ON u.w = b.ws[1] CROSS JOIN st), "
            "scored AS (SELECT f.doc_id, f.lang, f.n_tokens, "
            "  CASE WHEN f.n_tokens > 0 THEN "
            "    -(f.lp0 + coalesce(a.slp, 0)) / f.n_tokens ELSE 0.0 END "
            "    AS ce "
            "  FROM fs f LEFT JOIN agg a USING (doc_id)), "
            "bk AS (SELECT doc_id, lang, n_tokens, "
            "  round(ce, 4) AS cross_entropy, "
            "  CAST(ntile(3) OVER (PARTITION BY lang "
            "    ORDER BY round(ce, 4), doc_id) AS INT) AS bucket "
            "  FROM scored) "
            "SELECT doc_id, lang, n_tokens, cross_entropy, bucket, "
            "CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail' "
            "ELSE 'middle' END AS bucket_label "
            "FROM bk ORDER BY doc_id"
        ),
        "mixture_sample_docs": (
            "WITH p(lang, prop) AS (VALUES ('de', 0.3), ('en', 0.5), "
            "  ('fr', 0.2)), "
            "c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), "
            "s AS (SELECT min(coalesce(n, 0) / prop) AS s "
            "  FROM p LEFT JOIN c USING (lang)), "
            "lim AS (SELECT lang, CAST(floor(prop * s) AS BIGINT) AS take "
            "  FROM p, s), "
            "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
            "  ORDER BY substring(md5(concat_ws(chr(31), "
            "  CAST(doc_id AS VARCHAR), '5')), 1, 8), doc_id) AS rn "
            "  FROM documents) "
            "SELECT r.lang, r.doc_id FROM r JOIN lim USING (lang) "
            "WHERE rn <= take ORDER BY lang, doc_id"
        ),
        "temperature_sample_docs": (
            "WITH c AS (SELECT lang, count(*) AS n FROM documents "
            "  GROUP BY lang), "
            "w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c), "
            "t AS (SELECT sum(w) AS tw FROM w), "
            "caps AS (SELECT lang, w / tw AS p, "
            "  CAST(n AS DOUBLE) / (w / tw) AS cap FROM w, t), "
            "s AS (SELECT min(cap) AS s FROM caps), "
            "lim AS (SELECT lang, CAST(floor(p * s) AS BIGINT) AS take "
            "  FROM caps, s), "
            "r AS (SELECT lang, doc_id, row_number() OVER ("
            "  PARTITION BY lang ORDER BY substring(md5(concat_ws(chr(31), "
            "  CAST(doc_id AS VARCHAR), '7')), 1, 8), doc_id) AS rn "
            "  FROM documents) "
            "SELECT r.lang, r.doc_id FROM r JOIN lim USING (lang) "
            "WHERE rn <= take ORDER BY lang, doc_id"
        ),
        "weighted_sample_docs": (
            "SELECT doc_id FROM ("
            "SELECT doc_id, -ln((CAST(concat('0x', substring(md5("
            "concat_ws(chr(31), CAST(doc_id AS VARCHAR), '11')), 1, 13)) "
            "AS BIGINT) + 1) / 4503599627370496.0) "
            "/ CAST(n_chars AS DOUBLE) AS pri "
            "FROM documents WHERE n_chars > 0 ORDER BY pri LIMIT 100) "
            "ORDER BY doc_id"
        ),
        "priority_sample_members": (
            "SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars FROM ("
            "SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) / "
            "((CAST(concat('0x', substring(md5(concat_ws(chr(31), "
            "CAST(doc_id AS VARCHAR), '5')), 1, 13)) AS BIGINT) + 1) "
            "/ 4503599627370496.0) AS pri "
            "FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL "
            "ORDER BY pri DESC, CAST(doc_id AS VARCHAR) LIMIT 100) "
            "ORDER BY doc_id"
        ),
        "priority_sample_lang_totals": (
            "WITH pri AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w, "
            "CAST(n_chars AS DOUBLE) / "
            "((CAST(concat('0x', substring(md5(concat_ws(chr(31), "
            "CAST(doc_id AS VARCHAR), '7')), 1, 13)) AS BIGINT) + 1) "
            "/ 4503599627370496.0) AS q "
            "FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL), "
            "ranked AS (SELECT *, row_number() OVER "
            "(ORDER BY q DESC, CAST(doc_id AS VARCHAR)) AS rn FROM pri), "
            "tau AS (SELECT coalesce(max(q) FILTER (WHERE rn = 201), 0.0) "
            "AS t FROM ranked) "
            "SELECT lang, round(sum(greatest(w, t)), 4) AS est_chars "
            "FROM ranked, tau WHERE rn <= 200 GROUP BY lang ORDER BY lang"
        ),
        "cm_join_size_within_bound": (
            "SELECT CAST(sum(c * c) AS BIGINT) AS exact_join_size, "
            "1 AS within_bound FROM "
            "(SELECT count(*) AS c FROM events GROUP BY user_id)"
        ),
        "asof_click_error": (
            "WITH c AS (SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click'), "
            "e AS (SELECT user_id, ts AS err_ts, event_id AS err_event_id, "
            "value AS err_value FROM events WHERE event_type = 'error') "
            "SELECT c.event_id, c.user_id, e.err_event_id, e.err_value "
            "FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id "
            "AND c.ts >= e.err_ts ORDER BY c.event_id"
        ),
        "range_join_events": (
            "WITH iv AS (SELECT DISTINCT event_type, "
            "floor(value / 10) * 10 AS lo, floor(value / 10) * 10 + 7 AS hi "
            "FROM events WHERE event_id % 37 = 0) "
            "SELECT e.event_id, e.event_type, iv.lo FROM events e "
            "JOIN iv ON e.event_type = iv.event_type "
            "AND e.value >= iv.lo AND e.value < iv.hi "
            "ORDER BY e.event_id, iv.lo"
        ),
        "salted_join_exact": (
            "SELECT count(*) AS n_joined FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey"
        ),
        "json_props_stats": (
            "SELECT event_type, count(k) AS n_with_k, "
            "CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k FROM "
            "(SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) "
            "AS k FROM events) GROUP BY event_type ORDER BY event_type"
        ),
        "bm25_docs": (
            "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array("
            "trim(lower(text)), '\\s+')) AS token FROM documents), "
            "tok2 AS (SELECT * FROM tok WHERE token != ''), "
            "dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id), "
            "stats AS (SELECT (SELECT count(*) FROM documents) AS n, "
            "(SELECT avg(dl) FROM dl) AS avgdl), "
            "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 "
            "WHERE token IN ('spark', 'window', 'hash') "
            "GROUP BY doc_id, token), "
            "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
            "per AS (SELECT tf.doc_id, "
            "ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) / "
            "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s "
            "FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) "
            "CROSS JOIN stats) "
            "SELECT d.doc_id, round(coalesce(sum(s), 0.0), 4) AS score "
            "FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id "
            "GROUP BY d.doc_id ORDER BY d.doc_id"
        ),
        "top_k_docs_by_len": (
            "SELECT lang, doc_id, n_chars FROM documents "
            "QUALIFY row_number() OVER (PARTITION BY lang "
            "ORDER BY n_chars DESC, doc_id) <= 5 ORDER BY lang, doc_id"
        ),
        "decontam_overlap": (
            "WITH tr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
            "'\\s+'), x -> x <> '') AS w FROM documents WHERE doc_id < 200), "
            "trg AS (SELECT doc_id, unnest(list_distinct("
            "[array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]"
            ")) AS g FROM tr WHERE len(w) >= 3), "
            "teg AS (SELECT DISTINCT unnest(list_distinct("
            "[array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]"
            ")) AS g FROM (SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') "
            "AS w FROM documents WHERE doc_id >= 100 AND doc_id < 150) "
            "WHERE len(w) >= 3), "
            "tot AS (SELECT doc_id, count(*) AS n_grams FROM trg "
            "GROUP BY doc_id), "
            "m AS (SELECT doc_id, count(*) AS n_matched FROM trg "
            "WHERE g IN (SELECT g FROM teg) GROUP BY doc_id) "
            "SELECT b.doc_id, coalesce(t.n_grams, 0) AS n_grams, "
            "coalesce(m.n_matched, 0) AS n_matched, "
            "round(CASE WHEN coalesce(t.n_grams, 0) > 0 THEN "
            "coalesce(m.n_matched, 0) * 1.0 / t.n_grams ELSE 0.0 END, 4) "
            "AS overlap_ratio, "
            "CASE WHEN coalesce(t.n_grams, 0) > 0 AND "
            "coalesce(m.n_matched, 0) * 1.0 / t.n_grams >= 0.8 "
            "THEN 1 ELSE 0 END AS contaminated "
            "FROM (SELECT doc_id FROM documents WHERE doc_id < 200) b "
            "LEFT JOIN tot t USING (doc_id) LEFT JOIN m USING (doc_id) "
            "ORDER BY doc_id"
        ),
        "streaming_users_within_bound": (
            "SELECT event_type, 1 AS within_bound FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "tdigest_median_within_tol": (
            "SELECT event_type, 1 AS median_ok FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "kll_rank_error": (
            "SELECT * FROM (VALUES (0.1, 1), (0.25, 1), (0.5, 1), (0.75, 1), "
            "(0.9, 1)) t(q, rank_ok) ORDER BY q"
        ),
        "countmin_bounds": (
            "SELECT user_id, 1 AS count_ok FROM (SELECT DISTINCT user_id "
            "FROM events ORDER BY user_id LIMIT 25) ORDER BY user_id"
        ),
        "countsketch_bounds": (
            "SELECT user_id, 1 AS point_ok FROM (SELECT DISTINCT user_id "
            "FROM events ORDER BY user_id LIMIT 25) ORDER BY user_id"
        ),
        "ams_f2_by_type": (
            "SELECT event_type, CAST(sum(c * c) AS BIGINT) AS exact_f2, "
            "1 AS within_bound FROM (SELECT event_type, user_id, count(*) "
            "AS c FROM events GROUP BY event_type, user_id) "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "ams_join_size_unbiased": (
            "SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) "
            "AS exact_join_size, 1 AS within_bound FROM "
            "(SELECT user_id, count(*) AS c FROM events "
            "WHERE event_type = 'click' GROUP BY user_id) a JOIN "
            "(SELECT user_id, count(*) AS c FROM events "
            "WHERE event_type = 'view' GROUP BY user_id) b USING (user_id)"
        ),
        "bloom_no_false_negatives": "SELECT 1 AS no_false_negatives",
        "cpc_within_bound": (
            "SELECT event_type, 1 AS within_bound FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "quality_stats_by_lang": (
            "WITH f AS (SELECT lang, length(text) AS n_chars, "
            "len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens, "
            "length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) "
            "AS n_punct, len(list_filter(regexp_split_to_array(text, "
            "'\\s+'), w -> lower(w) IN ('the','a','an','and','or','of','to',"
            "'in','is','it','for','on','with','as','at','by','this','that',"
            "'be','are'))) AS stop_hits FROM documents), "
            "g AS (SELECT lang, n_tokens, "
            "CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0 END "
            "AS punct_ratio, "
            "CASE WHEN n_tokens > 0 THEN stop_hits * 1.0 / n_tokens ELSE 0 "
            "END AS stop_ratio, "
            "CASE WHEN n_tokens > 0 THEN (n_chars - n_tokens + 1) * 1.0 / "
            "n_tokens ELSE 0 END AS mwl FROM f) "
            "SELECT lang, round(avg(n_tokens), 4) AS avg_tokens, "
            "round(avg(stop_ratio), 4) AS avg_stopword_ratio, "
            "round(avg(mwl), 4) AS avg_word_len, "
            "round(avg(least(n_tokens / 100.0, 1.0) * 0.4 + "
            "(1 - least(punct_ratio * 5, 1.0)) * 0.3 + "
            "least(stop_ratio * 3, 1.0) * 0.3), 4) AS avg_quality "
            "FROM g GROUP BY lang ORDER BY lang"
        ),
        "bpe_token_counts": (
            "SELECT doc_id, len(regexp_extract_all(text, '\\w+')) + "
            "len(regexp_extract_all(text, '[^\\w\\s]')) AS n_bpe_tokens "
            "FROM documents WHERE doc_id < 200 ORDER BY doc_id"
        ),
        "fingerprint_collision_free": "SELECT 1 AS collision_free",
        "dedup_keep_one_count": (
            "SELECT count(DISTINCT lower(regexp_replace(text, '\\s+', ' ', "
            "'g'))) AS n_after_dedup FROM documents"
        ),
        "multimodal_feature_dims": (
            "SELECT r.range AS media_id, 16 AS feat_dim FROM range(60) r "
            "ORDER BY media_id"
        ),
        "frame_sample_counts": (
            "SELECT r.range AS media_id, 1 AS frames_ok FROM range(60) r "
            "WHERE r.range % 3 = 2 ORDER BY media_id"
        ),
        "ann_lsh_recall": "SELECT 1 AS lsh_recall_ok",
        "ann_ivf_indexed_top3": (
            "SELECT a.vec_id AS query_id, b.vec_id, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS cosine, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank "
            "FROM embeddings a, embeddings b WHERE a.vec_id < 3 "
            "QUALIFY rank <= 3 ORDER BY query_id, rank"
        ),
        "ann_ivf_top3": (
            "SELECT a.vec_id AS query_id, b.vec_id, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS cosine, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank "
            "FROM embeddings a, embeddings b WHERE a.vec_id < 3 "
            "QUALIFY rank <= 3 ORDER BY query_id, rank"
        ),
        "sketch_rollup_within_bound": (
            "SELECT 0 AS grouping_set_id, event_type, 1 AS within_bound "
            "FROM events GROUP BY event_type "
            "UNION ALL SELECT 1, CAST(NULL AS VARCHAR), 1 "
            "ORDER BY grouping_set_id, event_type"
        ),
        "rollup_fused_within_bound": (
            "SELECT 0 AS grouping_set_id, event_type, 1 AS within_bound "
            "FROM events GROUP BY event_type "
            "UNION ALL SELECT 1, CAST(NULL AS VARCHAR), 1 "
            "ORDER BY grouping_set_id, event_type"
        ),
        "cube_fused_within_bound": (
            "SELECT 0 AS grouping_set_id, event_type, "
            "CAST(CAST(ts AS DATE) AS VARCHAR) AS day, 1 AS within_bound "
            "FROM events GROUP BY 2, 3 "
            "UNION ALL SELECT 1, event_type, CAST(NULL AS VARCHAR), 1 "
            "FROM events GROUP BY 2 "
            "UNION ALL SELECT 2, CAST(NULL AS VARCHAR), "
            "CAST(CAST(ts AS DATE) AS VARCHAR), 1 FROM events GROUP BY 3 "
            "UNION ALL SELECT 3, CAST(NULL AS VARCHAR), "
            "CAST(NULL AS VARCHAR), 1 "
            "ORDER BY grouping_set_id, event_type, day"
        ),
        "rolling_distinct_within_bound": (
            "SELECT CAST(d AS VARCHAR) AS window_end, 1 AS within_bound "
            "FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) "
            "ORDER BY window_end"
        ),
        "bloom_semi_join_exact": (
            "SELECT COUNT(*) AS n_matched FROM events "
            "WHERE event_id IN (SELECT event_id FROM events "
            "WHERE event_id % 7 = 0)"
        ),
        "hllzstd_within_bound": (
            "SELECT event_type, 1 AS within_bound FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "jr_build_estimate": (
            "SELECT 1 AS jr_equals_direct, 1 AS within_bound"
        ),
        "sketch_overlap_within_bound": (
            "SELECT 1 AS union_within_bound, 1 AS intersection_within_bound"
        ),
        "misra_gries_exact_when_k_covers": (
            "SELECT event_type AS item, count(*) AS cnt FROM events "
            "WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY 1"
        ),
        "mg_grouped_exact": (
            "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, "
            "event_type AS item, count(*) AS cnt FROM events "
            "WHERE event_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"
        ),
        "multi_distinct_within_bound": (
            "SELECT event_type, 1 AS users_ok, 1 AS props_ok FROM events "
            "WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY 1"
        ),
        "kmv_overlap_within_bound": (
            "SELECT 1 AS estimate_ok, 1 AS jaccard_ok, 1 AS intersection_ok"
        ),
        "approx_quantiles_by_type": (
            "SELECT event_type, p AS prob, 1 AS rank_ok FROM events, "
            "(VALUES (0.25), (0.5), (0.75)) probs(p) "
            "WHERE event_type IS NOT NULL "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        ),
        "embedding_near_dup_pairs": (
            "WITH aug AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL"
            "  SELECT vec_id + 10000,"
            "    list_transform(embedding,"
            "      x -> CAST(CAST(x AS DOUBLE) * 1.0001 AS FLOAT))"
            "  FROM embeddings WHERE vec_id < 5) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS cosine "
            "FROM aug a, aug b WHERE a.vec_id < b.vec_id "
            "AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) >= 0.95 ORDER BY id_a, id_b"
        ),
        # SemDeDup end-to-end: seed selection (4 smallest md5(id||'|7')),
        # argmax-cosine assignment (tie: lowest cell), keep-min-id
        # within-cluster drop rule — full SQL replica of semantic_dedup
        "semantic_dedup_survivors": (
            "WITH aug AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL"
            "  SELECT vec_id + 10000,"
            "    list_transform(embedding,"
            "      x -> CAST(CAST(x AS DOUBLE) * 1.0001 AS FLOAT))"
            "  FROM embeddings WHERE vec_id < 5), "
            "seeds AS ("
            "  SELECT vec_id, embedding, row_number() OVER ("
            "    ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' || '7'),"
            "    vec_id) - 1 AS cell"
            "  FROM aug WHERE embedding IS NOT NULL), "
            "cents AS (SELECT cell, embedding AS cvec FROM seeds "
            "  WHERE cell < 4), "
            "assigned AS ("
            "  SELECT vec_id, cell FROM ("
            "    SELECT a.vec_id, c.cell, row_number() OVER ("
            "      PARTITION BY a.vec_id ORDER BY"
            "      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
            "        CAST(c.cvec AS DOUBLE[])) DESC, c.cell ASC) AS rn"
            "    FROM aug a CROSS JOIN cents c) WHERE rn = 1), "
            "drops AS ("
            "  SELECT DISTINCT r.vec_id"
            "  FROM assigned l JOIN assigned r"
            "    ON l.cell = r.cell AND l.vec_id < r.vec_id"
            "  JOIN aug la ON la.vec_id = l.vec_id"
            "  JOIN aug ra ON ra.vec_id = r.vec_id"
            "  WHERE list_cosine_similarity(CAST(la.embedding AS DOUBLE[]),"
            "    CAST(ra.embedding AS DOUBLE[])) >= 0.95) "
            "SELECT a.vec_id, CAST(a.cell AS INT) AS cell, "
            "CAST(d.vec_id IS NULL AS INT) AS kept "
            "FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id "
            "ORDER BY a.vec_id"
        ),
        # one distributed spherical-Lloyd update: assignment to the md5
        # seed centroids, per-(cell,pos) mean of L2-normalized members,
        # per-cell renormalization — replica of kmeans_fit_distributed
        "kmeans_centroid_update": (
            "WITH seeds AS ("
            "  SELECT vec_id, embedding, row_number() OVER ("
            "    ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' || '7'),"
            "    vec_id) - 1 AS cell"
            "  FROM embeddings WHERE embedding IS NOT NULL), "
            "cents AS (SELECT cell, embedding AS cvec FROM seeds "
            "  WHERE cell < 4), "
            "assigned AS ("
            "  SELECT vec_id, cell FROM ("
            "    SELECT e.vec_id, c.cell, row_number() OVER ("
            "      PARTITION BY e.vec_id ORDER BY"
            "      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),"
            "        CAST(c.cvec AS DOUBLE[])) DESC, c.cell ASC) AS rn"
            "    FROM embeddings e CROSS JOIN cents c"
            "    WHERE e.embedding IS NOT NULL) WHERE rn = 1), "
            "unit AS ("
            "  SELECT a.cell,"
            "    generate_subscripts(e.embedding, 1) - 1 AS pos,"
            "    CAST(unnest(e.embedding) AS DOUBLE) /"
            "    sqrt(list_aggregate(list_transform("
            "      CAST(e.embedding AS DOUBLE[]), x -> x * x), 'sum')) AS u"
            "  FROM embeddings e JOIN assigned a USING (vec_id)), "
            "means AS (SELECT cell, pos, avg(u) AS m FROM unit "
            "  GROUP BY cell, pos) "
            "SELECT CAST(cell AS INT) AS cell, CAST(pos AS INT) AS pos, "
            "round(m / sqrt(sum(m * m) OVER (PARTITION BY cell)), 6) AS comp "
            "FROM means ORDER BY cell, pos"
        ),
        "media_header_stats": (
            "SELECT CASE CAST(id % 3 AS INT) WHEN 0 THEN 'png' "
            "WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format, "
            "count(*) AS n, "
            # CAST: DuckDB SUM(BIGINT) yields HUGEINT (float64 via Arrow),
            # which hash-mismatches Spark's bigint despite equal values
            "CAST(SUM(CASE CAST(id % 3 AS INT) WHEN 0 THEN id % 100 + 1 "
            "WHEN 1 THEN id % 64 + 1 ELSE 8000 + (id % 4) * 8000 END) "
            "AS BIGINT) AS sum_w "
            "FROM range(300) t(id) GROUP BY 1 ORDER BY 1"
        ),
        "winnow_fingerprint_props": (
            "SELECT doc_id, 1 AS winnow_ok FROM documents WHERE doc_id < 100 "
            "ORDER BY doc_id"
        ),
        "png_decode_stats": (
            "WITH imgs AS (SELECT r.range AS id, "
            "  CAST(r.range % 100 + 1 AS BIGINT) AS w, "
            "  CAST(r.range % 50 + 1 AS BIGINT) AS h "
            "  FROM range(60) r WHERE r.range % 3 = 0), "
            "px AS (SELECT id, w, h, "
            "  (id + 7 * y.range + 13 * x.range + 31 * c.range) % 256 AS v "
            "  FROM imgs, range(50) y, range(100) x, range(3) c "
            "  WHERE y.range < h AND x.range < w) "
            "SELECT id AS media_id, CAST(w AS INT) AS width, "
            "CAST(h AS INT) AS height, CAST(sum(v) AS BIGINT) AS pixel_sum, "
            "avg(v) AS pixel_mean "
            "FROM px GROUP BY 1, 2, 3 ORDER BY media_id"
        ),
        "jpeg_decode_stats": (
            "WITH imgs AS (SELECT r.range AS id, "
            "  CAST(r.range % 64 + 1 AS BIGINT) AS w, "
            "  CAST(r.range % 32 + 1 AS BIGINT) AS h "
            "  FROM range(60) r WHERE r.range % 3 = 1), "
            "px AS (SELECT id, w, h, "
            "  (id + 11 * (y.range // 8) + 17 * (x.range // 8)) % 256 AS v "
            "  FROM imgs, range(32) y, range(64) x "
            "  WHERE y.range < h AND x.range < w) "
            "SELECT id AS media_id, CAST(w AS INT) AS width, "
            "CAST(h AS INT) AS height, CAST(sum(v) AS BIGINT) AS pixel_sum, "
            "avg(v) AS pixel_mean "
            "FROM px GROUP BY 1, 2, 3 ORDER BY media_id"
        ),
        "zonemap_pruned_users": (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(user_id) AS BIGINT) AS sum_uid, "
            "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
            "FROM events WHERE user_id IN (3, 7, 11, 140, 9999) "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "zonemap_range_read": (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(user_id) AS BIGINT) AS sum_uid "
            "FROM events WHERE user_id BETWEEN 4 AND 9 "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "snapshot_delta_pages": (
            "SELECT 'u' || CAST(doc_id AS VARCHAR) AS k, "
            "CASE WHEN doc_id < 100 THEN 'removed' "
            "     WHEN doc_id >= 300 THEN 'added' "
            "     ELSE 'changed' END AS status "
            "FROM documents "
            "WHERE doc_id < 400 AND "
            "  (doc_id < 100 OR doc_id >= 300 OR doc_id % 7 = 0) "
            "ORDER BY k"
        ),
        "y4m_frame_sample_stats": (
            "WITH vids AS (SELECT r.range AS id, "
            "  CAST(r.range % 24 + 4 AS BIGINT) AS w, "
            "  CAST(r.range % 12 + 2 AS BIGINT) AS h, "
            "  CAST(r.range % 16 + 3 AS BIGINT) AS nf "
            "  FROM range(40) r), "
            "frames AS (SELECT id, w, h, f.range AS fi FROM vids, range(18) f "
            "  WHERE f.range < nf AND f.range % 5 = 0), "
            "px AS (SELECT id, fi, w, h, "
            "  (id + 7 * fi + 11 * y.range + 13 * x.range) % 256 AS v "
            "  FROM frames, range(13) y, range(27) x "
            "  WHERE y.range < h AND x.range < w) "
            "SELECT id AS media_id, CAST(fi AS INT) AS frame_idx, "
            "CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
            "CAST(sum(v) AS BIGINT) AS luma_sum, avg(v) AS luma_mean "
            "FROM px GROUP BY 1, 2, 3, 4 ORDER BY media_id, frame_idx"
        ),
        "warc_read_stats": (
            "SELECT 'https://w' || CAST(r.range % 7 AS VARCHAR) || "
            "'.example.com/p' || CAST(r.range AS VARCHAR) AS target_uri, "
            "CAST(r.range AS INT) AS minute_of_day, "
            "CAST(10 + (r.range * 7) % 50 AS BIGINT) AS body_len, "
            "CAST((97 + r.range % 26) * (10 + (r.range * 7) % 50) AS BIGINT) "
            "AS body_byte_sum, "
            "CAST((r.range // 16) % 2 AS INT) AS from_gzip "
            "FROM range(48) r ORDER BY target_uri"
        ),
        # Expected output stated from the page-template CONSTRUCTION (not
        # by re-running regexes): head/comment/script boilerplate vanish,
        # h1/p/li block boundaries become single newlines, the entity tail
        # decodes to " &tail" / "A's <x>".  Valid because documents.text is
        # verified clean (no '<'/'&', single-spaced, trimmed).
        "html_extract_roundtrip": (
            "SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || "
            "text || ' &tail' || chr(10) || 'A''s <x>' AS extracted "
            "FROM documents ORDER BY doc_id"
        ),
        "text_token_counts": (
            "SELECT doc_id, len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) "
            "AS n_tokens FROM documents ORDER BY doc_id"
        ),
        "text_stats_by_lang": (
            "SELECT lang, count(*) AS n_docs, "
            "round(avg(length(text)), 4) AS avg_chars, "
            "round(avg(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))), 4) "
            "AS avg_tokens FROM documents GROUP BY lang ORDER BY lang"
        ),
        "exact_dedup_group_count": (
            "SELECT count(*) AS dup_groups FROM ("
            "SELECT lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm "
            "FROM documents GROUP BY 1 HAVING count(*) > 1)"
        ),
        "word_jaccard_pairs": (
            "WITH w AS (SELECT doc_id, list_distinct(list_filter("
            "regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS ws "
            "FROM documents WHERE doc_id < 12) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(len(list_intersect(a.ws, b.ws)) * 1.0 / "
            "len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard "
            "FROM w a, w b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b"
        ),
        "shingle3_distinct_by_lang": (
            "WITH g AS (SELECT lang, unnest([array_to_string(w[i:i+2], ' ') "
            "for i in range(1, len(w) - 1)]) AS shingle FROM (SELECT lang, "
            "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents)) "
            "SELECT lang, count(DISTINCT shingle) AS distinct_shingles "
            "FROM g GROUP BY lang ORDER BY lang"
        ),
        "hll_shingles_within_bound": (
            "SELECT lang, 1 AS within_bound FROM documents "
            "GROUP BY lang ORDER BY lang"
        ),
        "cosine_top3": (
            "SELECT a.vec_id AS query_id, b.vec_id, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS cosine, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank "
            "FROM embeddings a, embeddings b WHERE a.vec_id < 3 "
            "QUALIFY rank <= 3 ORDER BY query_id, rank"
        ),
        "cosine_top1_is_self": (
            "SELECT vec_id AS query_id, 1 AS is_self FROM embeddings "
            "WHERE vec_id < 5 ORDER BY query_id"
        ),
        "lang_id_markers": (
            "SELECT * FROM (VALUES (0, 'en'), (1, 'de'), (2, 'fr'), "
            "(3, 'und')) t(sample_id, lang_pred) ORDER BY sample_id"
        ),
        "pq_recall_within_bound": (
            "SELECT vec_id AS query_id, 1 AS self_top1, 1 AS recall_ok "
            "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"
        ),
        "fd_covariance_bound": (
            "SELECT ROUND(SUM(u * u), 2) AS frob_sq, 1 AS within_bound "
            "FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS u "
            "FROM embeddings WHERE embedding IS NOT NULL)"
        ),
        "fd_pca_project": (
            "SELECT ROUND(SUM(u * u), 2) AS frob_sq, 8 AS r, 1 AS proj_ok "
            "FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS u "
            "FROM embeddings WHERE embedding IS NOT NULL)"
        ),
        "pagerank_hosts": (
            "WITH e AS (SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) AS s, "
            "  'h' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) AS d "
            "  FROM documents WHERE doc_id < 280), "
            "nodes AS (SELECT DISTINCT s AS node FROM e "
            "  UNION SELECT DISTINCT d FROM e), "
            "deg AS (SELECT s AS node, count(*) AS dg FROM e GROUP BY s), "
            "nn AS (SELECT count(*) AS n FROM nodes), "
            "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn), "
            "d1 AS (SELECT coalesce(sum(r.rank), 0) AS dang FROM r0 r "
            "  LEFT JOIN deg USING (node) WHERE deg.dg IS NULL), "
            "c1 AS (SELECT e.d AS node, sum(r.rank / deg.dg) AS inc FROM e "
            "  JOIN r0 r ON r.node = e.s JOIN deg ON deg.node = e.s "
            "  GROUP BY e.d), "
            "r1 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * "
            "  (coalesce(c1.inc, 0) + d1.dang / nn.n) AS rank "
            "  FROM nodes CROSS JOIN nn CROSS JOIN d1 "
            "  LEFT JOIN c1 ON c1.node = nodes.node), "
            "d2 AS (SELECT coalesce(sum(r.rank), 0) AS dang FROM r1 r "
            "  LEFT JOIN deg USING (node) WHERE deg.dg IS NULL), "
            "c2 AS (SELECT e.d AS node, sum(r.rank / deg.dg) AS inc FROM e "
            "  JOIN r1 r ON r.node = e.s JOIN deg ON deg.node = e.s "
            "  GROUP BY e.d), "
            "r2 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * "
            "  (coalesce(c2.inc, 0) + d2.dang / nn.n) AS rank "
            "  FROM nodes CROSS JOIN nn CROSS JOIN d2 "
            "  LEFT JOIN c2 ON c2.node = nodes.node), "
            "d3 AS (SELECT coalesce(sum(r.rank), 0) AS dang FROM r2 r "
            "  LEFT JOIN deg USING (node) WHERE deg.dg IS NULL), "
            "c3 AS (SELECT e.d AS node, sum(r.rank / deg.dg) AS inc FROM e "
            "  JOIN r2 r ON r.node = e.s JOIN deg ON deg.node = e.s "
            "  GROUP BY e.d), "
            "r3 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * "
            "  (coalesce(c3.inc, 0) + d3.dang / nn.n) AS rank "
            "  FROM nodes CROSS JOIN nn CROSS JOIN d3 "
            "  LEFT JOIN c3 ON c3.node = nodes.node) "
            "SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node"
        ),
        "politeness_waves_urls": (
            "WITH u AS (SELECT doc_id, "
            "  'https://h' || CAST(doc_id % 4 AS VARCHAR) "
            "  || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url, "
            "  'h' || CAST(doc_id % 4 AS VARCHAR) || '.example.com' AS host "
            "  FROM documents WHERE doc_id < 300), "
            "r AS (SELECT doc_id, host, row_number() OVER ("
            "  PARTITION BY host ORDER BY "
            "  substring(md5(url || chr(31) || '0'), 1, 8), url) AS rn "
            "  FROM u) "
            "SELECT doc_id, host, CAST((rn - 1) // 3 AS BIGINT) AS wave "
            "FROM r ORDER BY doc_id"
        ),
        "tfidf_vector_stats": (
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws "
            "  FROM documents WHERE doc_id < 200), "
            "tok AS (SELECT doc_id, ws[i] AS t FROM base, "
            "  unnest(generate_series(1, len(ws))) ti(i)), "
            "tf AS (SELECT doc_id, "
            "  CAST(concat('0x', substring(md5(t || chr(31) || '0'), 1, 8)) "
            "  AS BIGINT) % 32 AS b, count(*) AS c FROM tok GROUP BY 1, 2), "
            "nd AS (SELECT count(*) AS n FROM documents WHERE doc_id < 200), "
            "idf AS (SELECT b, ln((1.0 + nd.n) / (1.0 + count(*))) + 1.0 "
            "  AS idf FROM tf CROSS JOIN nd GROUP BY b, nd.n), "
            "w AS (SELECT tf.doc_id, tf.c * idf.idf AS w "
            "  FROM tf JOIN idf USING (b)), "
            "ag AS (SELECT doc_id, count(*) AS nnz, "
            "  round(sqrt(sum(w * w)), 4) AS l2 FROM w GROUP BY doc_id) "
            "SELECT d.doc_id, CAST(coalesce(a.nnz, 0) AS BIGINT) AS nnz, "
            "coalesce(a.l2, 0.0) AS l2 FROM base d LEFT JOIN ag a "
            "USING (doc_id) ORDER BY d.doc_id"
        ),
        "simhash_self_hamming": (
            "SELECT doc_id, 0 AS self_hamming FROM documents "
            "WHERE doc_id < 50 ORDER BY doc_id"
        ),
        "dedup_clusters": "WITH RECURSIVE aug AS (\n  SELECT doc_id, text FROM documents WHERE doc_id < 300\n  UNION ALL\n  SELECT doc_id + 20000, text || ' zqx zqx zqx' FROM documents WHERE doc_id < 5),\ng AS (\n  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')\n  for i in range(1, len(w) - 1)]) AS gs\n  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w\n  FROM aug) WHERE len(w) >= 3),\np AS (\n  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM g a, g b\n  WHERE a.doc_id < b.doc_id\n    AND len(list_intersect(a.gs, b.gs)) * 1.0 /\n        len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8),\ne AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),\nreach(id, lbl) AS (\n  SELECT s, s FROM e\n  UNION\n  SELECT e.s, r.lbl FROM e JOIN reach r ON r.id = e.d)\nSELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id",
        "near_dedup_count": "WITH RECURSIVE aug AS (\n  SELECT doc_id, text FROM documents WHERE doc_id < 300\n  UNION ALL\n  SELECT doc_id + 20000, text || ' zqx zqx zqx' FROM documents WHERE doc_id < 5),\ng AS (\n  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')\n  for i in range(1, len(w) - 1)]) AS gs\n  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w\n  FROM aug) WHERE len(w) >= 3),\np AS (\n  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM g a, g b\n  WHERE a.doc_id < b.doc_id\n    AND len(list_intersect(a.gs, b.gs)) * 1.0 /\n        len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8),\ne AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),\nreach(id, lbl) AS (\n  SELECT s, s FROM e\n  UNION\n  SELECT e.s, r.lbl FROM e JOIN reach r ON r.id = e.d),\ncomp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)\nSELECT (SELECT count(*) FROM aug)\n     - (SELECT count(*) FROM comp WHERE id != lbl) AS n_after_near_dedup",
        "minhash_lsh_near_dups": (
            "WITH aug AS ("
            "  SELECT doc_id, text FROM documents WHERE doc_id < 300"
            "  UNION ALL"
            "  SELECT doc_id + 20000, text || ' zqx zqx zqx'"
            "  FROM documents WHERE doc_id < 5), "
            "g AS ("
            "  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') "
            "  for i in range(1, len(w) - 1)]) AS gs "
            "  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, "
            "  '\\s+'), x -> x <> '') AS w FROM aug) WHERE len(w) >= 3) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(len(list_intersect(a.gs, b.gs)) * 1.0 / "
            "len(list_distinct(list_concat(a.gs, b.gs))), 4) AS jaccard "
            "FROM g a, g b WHERE a.doc_id < b.doc_id "
            "AND len(list_intersect(a.gs, b.gs)) * 1.0 / "
            "len(list_distinct(list_concat(a.gs, b.gs))) >= 0.8 "
            "ORDER BY id_a, id_b"
        ),
        "farmhash_golden": (
            f"SELECT * FROM (VALUES {golden_rows}) t(i, h) ORDER BY i"
        ),
        "exact_distinct_users_by_type": (
            "SELECT event_type, count(DISTINCT user_id) AS distinct_users "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "exact_distinct_docs_by_lang": (
            "SELECT lang, count(DISTINCT text) AS distinct_texts "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        # hll_users_by_type_estimate: rows-only (approximate values)
        "hll_users_within_bound": (
            "SELECT event_type, 1 AS within_bound FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ),
        "sql_api_users_by_type": (
            "SELECT event_type, 1 AS within_bound, 1 AS bytes_equal "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "hll_docs_within_bound": (
            "SELECT lang, 1 AS within_bound FROM documents "
            "GROUP BY lang ORDER BY lang"
        ),
        "hll_merge_reagg_consistent": "SELECT 1 AS merge_consistent",
        "hlll_smaller_than_hll": (
            "SELECT lang, 1 AS hlll_smaller FROM documents "
            "GROUP BY lang ORDER BY lang"
        ),
        "hll_linear_counting_exact_small": (
            "SELECT count(DISTINCT event_type) AS distinct_event_types FROM events"
        ),
    }
