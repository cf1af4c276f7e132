"""End-to-end web-text training-data pipeline on the Common-Crawl-style
pages table — the "switch from the reference" demo, exercising the whole
library surface in one runnable job:

  pages(url, warc_ts, html, text, lang)
    1. extract text from html           (byte-identical invariant asserted)
    2. language-ID + quality filter     (JVM expressions, no Python)
    3. exact dedup -> near-dup clusters (MinHash+LSH -> connected components
       -> one representative per cluster)
    4. sketch statistics:
         - distinct urls per lang           (HLL, SQL plan)
         - distinct 3-gram shingles per lang (HLLL, compressed bits reported)
         - per-day distinct urls + rollup to month/global (sketch GROUP BY)
         - p50/p90 text length per lang     (KLL)
         - heavy-hitter url hosts           (Misra-Gries)
    4b. curation: deterministic train/val/test split (hash-stable),
        n-gram decontamination of train vs test, BM25 spot-ranking
    4j. all-text semantic pipeline: hashed TF-IDF -> frequent-directions
        PCA -> SemDeDup on the projected vectors (no external model)
    5. snapshot-commit sketches with lineage; demonstrate resume

Run: python examples/webtext_pipeline.py [n_rows]   (default 200_000)
Prints one JSON summary line; exits non-zero on any invariant violation.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from hllspark import (
    agg, conf, curation, decontam, dedup, io as hio, sampling, sketch, text,
)
from hllspark.sketches import cpc, generic, misragries as mg


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    t0 = time.time()
    spark = conf.configured_builder("webtext-pipeline", cores=8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    pages = hio.generate_pages(spark, n_rows, num_partitions=16).cache()

    # 1. extraction invariant (input_hint: per-row byte-identical text)
    mismatches = pages.where(
        text.extract_text(F.col("html")) != F.col("text")
    ).count()
    assert mismatches == 0, f"{mismatches} extraction mismatches"

    # 1b. host blocklist: drop blocked domains (and their subdomains)
    # before anything touches the text — one codegen filter in the scan
    # stage; the synthetic corpus has no blocked hosts, asserted
    pages = curation.filter_blocked_hosts(pages, ["ads-tracker.invalid"])
    assert pages.count() == n_rows

    # 2. quality + language filter: score-based cut, then the Gopher
    # repetition rules via the Arrow-vectorized fast path, then PII
    # redaction (word-soup fixture: thresholds loosened to fit its short
    # tokens; zero PII expected and asserted)
    scored = text.quality_features(pages)
    kept = scored.where(
        (F.col("quality_score") > 0.3) & F.col("lang").isNotNull()
    )
    kept = curation.quality_filter(
        kept, min_words=5, min_mean_word_len=1.0,
        max_dup_line_frac=1.0, max_dup_line_char_frac=1.0,
        max_top2gram_char_frac=1.0, max_top3gram_char_frac=1.0,
        impl="arrow",
    )
    pii = curation.pii_features(kept)
    n_pii = pii.agg(F.sum("pii_total")).collect()[0][0]
    assert n_pii == 0, f"unexpected PII in synthetic corpus: {n_pii}"
    # kept, deduped, train and balanced each feed many of the actions
    # below; cached, each is computed once instead of once per action
    kept = pii.withColumn("text", F.col("redacted")).drop(
        "redacted", "n_emails", "n_phones", "n_ipv4", "pii_total"
    ).cache()

    # 3. dedup: exact first (collapses identical docs cheaply), then
    # near-dup clusters over a bounded slice — MinHash+LSH pairs (bucket-
    # capped self-join) -> connected components -> keep one representative
    deduped = dedup.deduplicate_exact(
        kept.withColumn("doc_id", F.xxhash64("url")), "text", "doc_id"
    ).cache()
    near_slice = deduped.where(F.abs(F.col("doc_id")) % 50 == 0)
    near_deduped_slice = dedup.deduplicate_near(near_slice, threshold=0.8)
    n_near_removed = near_slice.count() - near_deduped_slice.count()

    # 4. sketch statistics
    urls_by_lang = agg.approx_distinct(deduped, "url", ["lang"], p=13).collect()
    shingle_sk = agg.sketch_by(
        deduped.select("lang", F.explode(text.shingles(F.col("text"), 3)).alias("sh")),
        "sh", ["lang"], p=12, algo="hlll",
    )
    shingle_stats = [
        (r["lang"], sketch.bit_size(bytes(r["sketch"])))
        for r in shingle_sk.collect()
    ]
    daily = agg.sketch_by(
        deduped.withColumn("day", F.to_date("warc_ts")), "url", ["day"], p=12
    ).cache()
    rolled = agg.sketch_rollup(daily, ["day"]).collect()
    quant = generic.approx_quantiles(
        deduped, "n_chars", [0.5, 0.9], keys=["lang"]
    ).collect()
    hosts = generic.sketch_agg(
        deduped.select(F.regexp_extract("url", r"//([^/]+)/", 1).alias("host")),
        "host", mg.kind(32),
    ).collect()[0]["sketch"]
    top_hosts = mg.heavy_hitters(mg.decode(bytes(hosts)), deduped.count(), 0.05)
    # CPC comparison baseline next to the HLL estimate (same scan pattern)
    cpc_sk = generic.sketch_agg(deduped, "url", cpc.kind(2048)).collect()[0][
        "sketch"
    ]
    cpc_global = cpc.estimate(cpc.decode(bytes(cpc_sk)))

    # 4b. curation ops (round 3): deterministic train/val/test split,
    # eval-decontamination of the train shard, BM25 spot-ranking
    train, val, test_split = sampling.split(deduped, "url", [0.9, 0.05, 0.05])
    train = train.cache()
    n_train, n_val, n_test = train.count(), val.count(), test_split.count()
    assert n_train + n_val + n_test == deduped.count()
    contaminated = (
        decontam.ngram_overlap(
            train.withColumn("did", F.xxhash64("url")),
            test_split.withColumn("did", F.xxhash64("url")).limit(500),
            "did",
            "text",
            n=5,
            threshold=0.9,
        )
        .where(F.col("contaminated") == 1)
        .count()
    )
    top_ranked = (
        text.bm25_scores(deduped.withColumn("did", F.xxhash64("url")),
                         ["scan", "merge", "window"], id_col="did")
        .orderBy(F.desc("score"), "id")
        .limit(3)
        .collect()
    )

    # 4c. boilerplate line dedup (segments shared across >20 docs removed;
    # the single-line fixture segments on a frequent word) and GPT-style
    # sequence packing of the train shard into 2048-token chunks
    boiler_dropped = (
        curation.dedup_lines(
            near_slice, "doc_id", "text",
            line_sep=" the ", join_sep=" the ", max_docs=20,
        )
        .agg(F.sum("n_lines_dropped"))
        .collect()[0][0]
    )
    packed = curation.pack_sequences(
        train.withColumn("n_tokens", text.token_count(F.col("text"))),
        "url", "n_tokens", 2048, num_partitions=8,
    )
    pack_stats = packed.agg(
        (F.max("chunk_id") + 1).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    ).collect()[0]
    assert pack_stats["n_chunks"] >= pack_stats["total_tokens"] // 2048

    # 4d. round-4 curation: cap per-host page counts (RefinedWeb-style
    # domain rebalancing, salted against mega-host skew), then rebalance
    # the train shard to a target language mixture, then LM-perplexity-
    # score the result (CCNet-style proxy)
    capped = sampling.cap_per_group(
        train.withColumn("host", curation.url_host(F.col("url"))),
        "host", "url", 50, salt_buckets=8,
    ).drop("host")
    balanced = sampling.mixture_sample(
        capped, "lang", "url", {"en": 0.5, "de": 0.3, "fr": 0.2}, seed=11
    ).cache()
    lm = curation.lm_perplexity_scores(
        balanced.withColumn("did", F.xxhash64("url")), id_col="did"
    )
    lm_mean = lm.agg(F.avg("cross_entropy")).collect()[0][0]
    assert lm_mean is None or lm_mean >= 0.0

    # 4e. late round-4 ops: canonical-URL dedup of the crawl, winnowing
    # substring-reuse pairs on the near slice, and a token-budget cut of
    # the balanced shard
    n_canon = (
        deduped.select(curation.canonical_url(F.col("url")).alias("c"))
        .agg(F.countDistinct("c"))
        .collect()[0][0]
    )
    assert n_canon > 0
    winnow_pairs = dedup.winnow_near_duplicates(
        near_slice, min_shared=2, min_overlap=0.8
    ).count()
    budgeted = curation.select_within_budget(
        balanced.withColumn("nt", text.token_count(F.col("text"))),
        "url", "nt", budget=100_000,
    )
    assert budgeted.count() <= balanced.count()

    # 4f. round-5 ops: vocab-capped LM scoring (the open-vocab 100 TB
    # path — Misra-Gries candidates, broadcast model tables) and PQ
    # compression of a synthetic embedding column (32x under float32)
    lm_capped = curation.lm_perplexity_scores(
        balanced.withColumn("did", F.xxhash64("url")),
        id_col="did",
        max_vocab=24,
    )
    assert lm_capped.where(F.col("cross_entropy") < 0).count() == 0
    from hllspark import similarity

    emb = balanced.limit(200).select(
        F.xxhash64("url").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (
                F.pmod(F.xxhash64("url", i), F.lit(1000)).cast("float")
                / F.lit(500.0)
                - F.lit(1.0)
            ),
        ).alias("embedding"),
    ).cache()
    books = similarity.fit_pq_codebooks(emb, dim=16, m=4, nbits=6)
    pq_q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pq_top = similarity.pq_top_k(
        similarity.pq_encode(emb, books), pq_q, books, k=5
    )
    pq_self_top1 = (
        pq_top.where(
            (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
        ).count()
    )
    assert pq_self_top1 == 3, "PQ self-recall violated"

    # 4g. ExactSubstr duplicate-run removal (round 5): cut duplicated
    # >=12-token runs from the near slice, keeping the first occurrence.
    # quality_features left an n_tokens column on this frame; the operator
    # re-derives it for the scrubbed text, so drop the stale one explicitly
    # (remove_duplicate_runs refuses to shadow it silently).
    scrubbed = dedup.remove_duplicate_runs(
        near_slice.drop("n_tokens"), text_col="text", id_col="url",
        min_run=12, keep_first=True,
    )
    n_runs_cut = scrubbed.agg(F.sum("n_removed")).collect()[0][0] or 0
    assert scrubbed.count() == near_slice.count()  # docs survive, runs cut

    # 4h. NB log-odds quality classifier (round 5): train on the kept
    # set labeled by lang, score the balanced shard (broadcast weights)
    nb_w = curation.nb_quality_weights(
        kept.select((F.col("lang") == "en").cast("int").alias("label"), "text"),
        max_features=5000,
    )
    nb_scored = curation.nb_quality_scores(
        balanced.withColumn("did", F.xxhash64("url")), nb_w, id_col="did"
    )
    nb_mean = nb_scored.agg(F.avg("score")).collect()[0][0]
    assert nb_mean is not None and 0.0 < nb_mean < 1.0

    # 4i. late round-5 ops: WARC ingest (the raw-crawl source for this
    # very pages shape), CCNet per-language perplexity tiers on the
    # balanced shard (keep head+middle = the CCNet recipe), and a BPE
    # tokenizer trained on the kept corpus then applied to a sample
    from hllspark import bpe as hbpe, warc as hwarc

    from hllspark import crawl

    with tempfile.TemporaryDirectory() as wdir:
        hwarc.synthesize_warc_files(wdir, 64, records_per_file=16)
        # real boilerplate stripper at ingest (pure codegen; on the
        # tag-free fixture bodies it equals the fixture-parity default)
        warc_pages = hwarc.warc_to_pages(
            hwarc.read_warc(spark, wdir),
            extractor=text.extract_text_html,
        )
        n_warc = warc_pages.count()
        assert n_warc == 64
        assert [f.name for f in warc_pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]
        # robots compliance: w1.example.com forbids /p1* — of its ids
        # (i % 7 == 1) the paths /p1 and /p15 match, so 2 of 64 drop
        robots = spark.createDataFrame(
            [("w1.example.com", "User-agent: *\nDisallow: /p1\n")],
            "host string, robots_txt string",
        )
        allowed = crawl.robots_filter(
            warc_pages, crawl.parse_robots(robots)
        )
        n_robots_kept = allowed.count()
        assert n_robots_kept < n_warc
        # frontier seen-set: first ingest admits every allowed url,
        # a refetch admits none
        seen = crawl.BloomSeenSet.create(
            os.path.join(wdir, "seen"), n_expected=10_000, fpp=1e-6
        )
        n_first = seen.ingest(allowed, "url").count()
        assert n_first == n_robots_kept
        assert seen.ingest(allowed, "url").count() == 0
        # polite fetch plan for the admitted frontier: <=2 URLs per
        # (host, wave); and PageRank over the host graph as the
        # fetch-priority signal (rank mass conserved at 1.0)
        waves = crawl.politeness_waves(allowed, per_wave=2)
        over = (
            waves.groupBy("host", "wave")
            .count()
            .where(F.col("count") > 2)
            .count()
        )
        assert over == 0
        hosts = waves.select("host").distinct()
        edges = hosts.alias("a").crossJoin(hosts.alias("b")).select(
            F.col("a.host").alias("src"), F.col("b.host").alias("dst")
        ).where(F.col("src") != F.col("dst"))
        pr = crawl.pagerank(edges, iters=2)
        total_rank = pr.agg(F.sum("rank")).collect()[0][0]
        assert abs(total_rank - 1.0) < 1e-9
    tiers = curation.ccnet_buckets(
        balanced.withColumn("did", F.xxhash64("url")),
        id_col="did", n_buckets=3, num_partitions=8,
    )
    ccnet_kept = tiers.where(F.col("bucket_label") != "tail")
    n_ccnet_kept, n_tiered = ccnet_kept.count(), tiers.count()
    assert 0 < n_ccnet_kept < n_tiered or n_tiered <= 2
    merges = hbpe.train_bpe(kept.limit(2000), num_merges=64)
    enc = hbpe.bpe_encode(
        balanced.limit(200).select("url", "text"), merges
    )
    bpe_tokens = enc.agg(F.sum(F.size("bpe_tokens"))).collect()[0][0] or 0
    assert bpe_tokens > 0

    # 4j. all-text semantic pipeline (round 5): hashed TF-IDF vectors ->
    # frequent-directions one-pass PCA basis -> SemDeDup on the projected
    # vectors — embedding-space dedup with no external model anywhere
    from hllspark import similarity
    from hllspark.sketches import freqdir

    tv = text.hashed_tfidf(
        kept.withColumn("did", F.xxhash64("url"))
        .select("did", "text")
        .limit(2000),
        text_col="text",
        id_col="did",
        dim=64,
        attach=False,
    )
    fd = freqdir.decode(
        bytes(
            similarity.fd_sketch(tv, 64, ell=16, vec_col="tfidf").first()[
                "sketch"
            ]
        )
    )
    comps, _ = freqdir.top_directions(fd, 16)
    proj = similarity.pca_project(tv, comps, vec_col="tfidf").select(
        "did", F.col("projected").alias("embedding")
    )
    sem = similarity.semantic_dedup(
        proj, dim=16, eps=0.999, n_clusters=8, id_col="did"
    )
    n_sem_in, n_sem_kept = proj.count(), sem.where("kept").count()
    assert 0 < n_sem_kept <= n_sem_in

    # 5. snapshot + resume
    with tempfile.TemporaryDirectory() as tmp:
        writer = hio.SnapshotWriter(tmp)
        writer.write_unit(daily, "daily_sketches", lineage={"rows": n_rows})
        remaining = hio.resume_remaining(writer, ["daily_sketches", "hourly"])
        assert remaining == ["hourly"], remaining
        committed = writer.read_committed(spark)
        assert committed.count() == daily.count()

    # 6. zone-mapped serving copy: the curated corpus written with
    # per-file min/max + Bloom sidecars, so "this url's docs" needle
    # queries read only the files the zone maps cannot rule out
    from hllspark import zonemap as hzm

    with tempfile.TemporaryDirectory() as tmp:
        serving = os.path.join(tmp, "serving")
        hzm.write_with_zonemaps(
            kept.repartitionByRange(8, "url"),
            serving,
            ["url"],
            expected_keys_per_file=5000,
        )
        needle = kept.first()["url"]
        zm_files, zm_total = hzm.pruned_files(spark, serving, "url", [needle])
        got = hzm.read_pruned(spark, serving, "url", [needle]).count()
        want = (
            spark.read.parquet(serving).where(F.col("url") == needle).count()
        )
        assert got == want and 0 < len(zm_files) < zm_total

    summary = {
        "rows": n_rows,
        "kept_after_quality": kept.count(),
        "after_exact_dedup": deduped.count(),
        "langs": len(urls_by_lang),
        "near_dup_removed_in_slice": n_near_removed,
        "exact_substr_tokens_cut": int(n_runs_cut),
        "nb_quality_mean_score": round(float(nb_mean), 4),
        "global_url_estimate": round(
            next(r["distinct_estimate"] for r in rolled if r["day"] is None), 1
        ),
        "global_url_estimate_cpc": round(cpc_global, 1),
        "hlll_shingle_bits": dict(shingle_stats),
        "p50_p90_by_lang": {
            f"{r['lang']}@{r['prob']}": r["quantile"] for r in quant[:6]
        },
        "top_hosts": top_hosts[:3],
        "split_sizes": [n_train, n_val, n_test],
        "train_docs_contaminated_by_test": contaminated,
        "bm25_top_score": round(top_ranked[0]["score"], 4) if top_ranked else None,
        "boilerplate_lines_dropped": boiler_dropped,
        "train_chunks_2048": pack_stats["n_chunks"],
        "pq_self_top1": pq_self_top1,
        "warc_pages_ingested": n_warc,
        "robots_allowed": n_robots_kept,
        "ccnet_head_middle_kept": n_ccnet_kept,
        "bpe_merges": len(merges),
        "bpe_tokens_sample": int(bpe_tokens),
        "tfidf_semantic_kept": int(n_sem_kept),
        "tfidf_semantic_in": int(n_sem_in),
        "zonemap_files_read": f"{len(zm_files)}/{zm_total}",
        "wall_sec": round(time.time() - t0, 1),
    }
    print(json.dumps(summary, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
