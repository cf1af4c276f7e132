"""Tests for dedup, similarity, and multimodal operator families, oracle-
checked against exact computations on the driver test tables."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from hllspark import dedup, multimodal, similarity
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    # add exact duplicates + near duplicates with known ids
    dup = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    return base.unionByName(dup).unionByName(near).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TEST}/embeddings.parquet").cache()


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    pairs = {(ids[0], ids[1]) for r in groups for ids in [r["doc_ids"]] if len(ids) == 2}
    for i in range(5):
        assert (i, i + 100000) in pairs
    assert all(r["n_copies"] == 2 for r in groups)


def test_deduplicate_exact_keeps_one(spark, docs):
    n_before = docs.count()
    dd = dedup.deduplicate_exact(docs)
    assert dd.count() == n_before - 5
    # representative is the min id
    kept = {r["doc_id"] for r in dd.select("doc_id").collect()}
    assert all(i in kept and i + 100000 not in kept for i in range(5))


def test_minhash_near_duplicates(spark, docs):
    nd = dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in nd}
    # exact copies similarity 1.0 and near copies must both be found
    for i in range(5):
        assert (i, i + 100000) in found, f"exact dup {i} missed"
        assert (i, i + 200000) in found, f"near dup {i} missed"
    # jaccard of exact copies is 1.0
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in nd}
    for i in range(5):
        assert j[(i, i + 100000)] == 1.0


def test_minhash_jaccard_against_exact(spark, docs):
    """LSH+jaccard's jaccard values equal exact set jaccard computed
    independently in python."""
    sample = {r["doc_id"]: r["text"] for r in docs.limit(10).collect()}
    nd = dedup.ngram_jaccard(
        spark.createDataFrame(
            [(a, b) for a in sample for b in sample if a < b], "id_a long, id_b long"
        ),
        docs,
        k=3,
    ).collect()

    def jac(a, b):
        ga = {" ".join(a.split()[i : i + 3]) for i in range(len(a.split()) - 2)}
        gb = {" ".join(b.split()[i : i + 3]) for i in range(len(b.split()) - 2)}
        return len(ga & gb) / len(ga | gb) if ga | gb else 0.0

    for r in nd:
        if r["id_a"] in sample and r["id_b"] in sample:
            expect = jac(sample[r["id_a"]], sample[r["id_b"]])
            assert abs(r["jaccard"] - expect) < 1e-9


def test_simhash_near_duplicates(spark, docs):
    nd = dedup.simhash_near_duplicates(docs, max_hamming=3).collect()
    found = {(r["id_a"], r["id_b"]) for r in nd}
    for i in range(5):
        assert (i, i + 100000) in found  # identical text -> hamming 0
    hams = {(r["id_a"], r["id_b"]): r["hamming"] for r in nd}
    assert all(hams[(i, i + 100000)] == 0 for i in range(5))


def test_brute_force_top_k_matches_numpy(spark, emb):
    corpus = emb.limit(200).cache()
    queries = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.brute_force_top_k(corpus, queries, k=5).collect()
    # numpy oracle
    rows = corpus.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    qrows = [r for r in rows if r["vec_id"] in {q["query_id"] for q in queries.collect()}]
    for q in qrows:
        qv = np.array(q["embedding"], dtype=np.float64)
        cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:5]
        expect = list(ids[order])
        mine = [
            r["vec_id"]
            for r in sorted(
                (r for r in got if r["query_id"] == q["vec_id"]),
                key=lambda r: r["rank"],
            )
        ]
        assert mine == expect
        # top-1 is the query itself (cosine 1.0)
        assert mine[0] == q["vec_id"]


def test_lsh_top_k_recall(spark, emb):
    corpus = emb.limit(500).cache()
    queries = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(corpus.first()["embedding"])
    exact = similarity.brute_force_top_k(corpus, queries, k=5).collect()
    approx = similarity.lsh_top_k(corpus, queries, dim=dim, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    # the query vector itself must always be recalled (identical signature)
    for qid, s in exact_sets.items():
        assert qid in approx_sets.get(qid, set())
    # overall recall is reasonable for sign-LSH at these settings
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.4, f"recall {hits}/{total}"


def test_ivf_probe_all_equals_brute_force(spark, emb):
    """nprobe == n_centroids covers every cell -> IVF must equal exact
    brute-force top-k, row for row (same deterministic tie-break)."""
    corpus = emb.limit(300).cache()
    queries = corpus.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(corpus.first()["embedding"])
    exact = similarity.brute_force_top_k(corpus, queries, k=5)
    ivf = similarity.ivf_top_k(
        corpus, queries, dim=dim, k=5, n_centroids=8, nprobe=8
    )
    e = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in exact.collect())
    a = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in ivf.collect())
    assert e == a


def test_ivf_partial_probe_recall(spark, emb):
    """nprobe < n_centroids: self always recalled (its own cell is the
    nearest probe), and recall@5 stays high on the clustered fixture."""
    corpus = emb.limit(500).cache()
    queries = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(corpus.first()["embedding"])
    exact = similarity.brute_force_top_k(corpus, queries, k=5).collect()
    approx = similarity.ivf_top_k(
        corpus, queries, dim=dim, k=5, n_centroids=8, nprobe=3
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in exact_sets:
        assert qid in approx_sets.get(qid, set())
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.6


def test_pq_encode_and_topk_recall(spark, emb):
    """Product quantization (round 5): codes are m bytes (32x smaller
    than the 64-dim float32 input), encoding is deterministic and
    partition-invariant, ADC top-k recalls the exact cosine top-k on the
    fixture, and self is always its own top hit."""
    corpus = emb.cache()
    dim = len(corpus.first()["embedding"])
    books = similarity.fit_pq_codebooks(corpus, dim, m=8, nbits=8, seed=7)
    assert books.shape == (8, 256, dim // 8)
    b2 = similarity.fit_pq_codebooks(corpus, dim, m=8, nbits=8, seed=7)
    np.testing.assert_array_equal(books, b2)

    codes = similarity.pq_encode(corpus, books)
    rows = codes.collect()
    assert all(len(r["pq_code"]) == 8 for r in rows)  # 8 bytes vs 256
    again = dict(
        (r["vec_id"], bytes(r["pq_code"]))
        for r in similarity.pq_encode(corpus.repartition(13), books).collect()
    )
    assert all(again[r["vec_id"]] == bytes(r["pq_code"]) for r in rows)

    queries = corpus.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_top_k(corpus, queries, k=10).collect()
    approx = similarity.pq_top_k(codes, queries, books, k=10).collect()
    exact_sets, approx_sets, approx_top1 = {}, {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            approx_top1[r["query_id"]] = r["vec_id"]
    # ADC score of the query's own code is the max possible -> self top-1
    for qid in exact_sets:
        assert approx_top1[qid] == qid
    hits = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.7, f"recall {hits}/{total}"
    # partition invariance of the full ranked result
    a = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in approx)
    b = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in similarity.pq_top_k(
            codes.repartition(13), queries, books, k=10
        ).collect()
    )
    assert a == b


def test_ivf_pq_indexed_pruned_probe(spark, emb, tmp_path):
    """IVF-PQ composition (round 5): the written index is cell-
    partitioned 8-byte codes; a probe is partition-pruned AND scores in
    the compressed domain; self is still always rank 1."""
    import os

    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "ivfpq")
    n_cells = 8
    similarity.write_pq_index(emb, path, dim, m=8, nbits=8,
                              n_centroids=n_cells)
    assert len([d for d in os.listdir(path) if d.startswith("__cell=")]) == n_cells

    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.pq_top_k_indexed(spark, path, queries, k=5, nprobe=3)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}
    # partition-pruned compressed scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__cell" in plan.split("PartitionFilters", 1)[1][:200]
    # recall vs the unpruned full-corpus ADC scoring: probed result is a
    # subset ranking of the full one restricted to scanned cells; self
    # plus at least half the full ADC top-5 per query survive 3/8 cells
    books = similarity.fit_pq_codebooks(emb, dim, m=8, nbits=8, seed=7)
    full = similarity.pq_top_k(
        similarity.pq_encode(emb, books), queries, books, k=5
    ).collect()
    full_sets, probe_sets = {}, {}
    for r in full:
        full_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in rows:
        probe_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in full_sets:
        assert len(full_sets[q] & probe_sets[q]) >= 2


def test_fit_centroids_deterministic(spark, emb):
    corpus = emb.limit(200)
    dim = len(corpus.first()["embedding"])
    c1 = similarity.fit_centroids(corpus, dim, n_centroids=8, seed=7)
    c2 = similarity.fit_centroids(corpus, dim, n_centroids=8, seed=7)
    np.testing.assert_array_equal(c1, c2)
    assert c1.shape == (8, dim)
    np.testing.assert_allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-9)


def test_embedding_near_duplicates(spark, emb):
    # inject a known near-pair: vec + tiny perturbation
    base = emb.limit(50)
    twin = base.limit(1).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.0001).alias("embedding"),
        F.col("label"),
    )
    df = base.unionByName(twin)
    dim = len(base.first()["embedding"])
    nd = similarity.near_duplicates_by_cosine(df, dim=dim, threshold=0.99).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in nd}
    first_id = base.first()["vec_id"]
    assert (first_id, first_id + 10000) in pairs


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, 60)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 60
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    # deterministic decode
    again = {r["media_id"]: r["features"] for r in multimodal.extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in feats)
    # frame sampling plan
    plan = multimodal.frame_sample_plan(media, every_n=50)
    rows = plan.collect()
    assert all(r["frame_idx"] % 50 == 0 for r in rows)
    # decoder='real' decodes png/wav for real (round 4); synthesize_media
    # payloads are raw byte patterns with no container header, so the
    # codec seam now raises per-row inside the executor (wrapped by Spark)
    with pytest.raises(Exception, match="real decode|NotImplemented"):
        multimodal.extract_features(media, decoder="real").collect()


def _mini_png(w, h):
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR" + ihdr
            + b"\x00" * 8)


def _mini_jpeg(w, h):
    # SOI + APP0 segment + SOF0 with dims + EOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
           + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9)
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _mini_wav(rate):
    fmt = (b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + rate.to_bytes(4, "little")
           + b"\x00" * 8)
    return b"RIFF" + (36).to_bytes(4, "little") + b"WAVE" + fmt


def test_media_header_parsing(spark):
    """Real (no-codec) multimodal metadata: magic sniffing + header dims
    from hand-built minimal-but-valid container headers."""
    from hllspark import multimodal as mm

    assert mm.sniff_format(_mini_png(640, 480)) == "png"
    assert mm.png_dims(_mini_png(640, 480)) == (640, 480)
    assert mm.sniff_format(_mini_jpeg(32, 16)) == "jpeg"
    assert mm.jpeg_dims(_mini_jpeg(32, 16)) == (32, 16)
    assert mm.sniff_format(_mini_wav(44100)) == "wav"
    assert mm.wav_sample_rate(_mini_wav(44100)) == 44100
    assert mm.sniff_format(b"garbage_bytes_here") == "unknown"

    rows = [
        (1, bytearray(_mini_png(100, 50))),
        (2, bytearray(_mini_jpeg(8, 9))),
        (3, bytearray(_mini_wav(16000))),
        (4, bytearray(b"not media at all")),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r["media_meta"] for r in
           mm.with_media_metadata(df).collect()}
    assert got[1]["format"] == "png" and got[1]["width"] == 100
    assert got[2]["format"] == "jpeg" and got[2]["height"] == 9
    assert got[3]["format"] == "wav" and got[3]["sample_rate"] == 16000
    assert got[4]["format"] == "unknown" and got[4]["width"] is None


def test_degenerate_bucket_capped(spark, docs):
    """A planted degenerate bucket (2k copies of one document) must not
    blow up the LSH self-join: with the cap, the pipeline finishes with the
    copies' buckets dropped (logged) and pairs among the REST of the corpus
    identical to a run without the copies."""
    base = docs.where(F.col("doc_id") < 150).select("doc_id", "text")
    one_text = base.where(F.col("doc_id") == 0).first()["text"]
    copies = spark.range(2000).select(
        (F.col("id") + 1_000_000).alias("doc_id"), F.lit(one_text).alias("text")
    )
    poisoned = base.unionByName(copies)

    def pairset(df, **kw):
        return {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_near_duplicates(df, threshold=0.7, **kw).collect()
        }

    clean = pairset(base)
    capped = pairset(poisoned, max_bucket_size=256)
    # the planted mass floods exactly the buckets of doc 0's near-dup
    # cluster, so dropping them removes pairs touching that cluster (its
    # members share the over-cap buckets) and NOTHING else
    cluster = {0}
    for _ in range(len(clean)):  # transitive closure of pairs touching doc 0
        cluster |= {i for p in clean if set(p) & cluster for i in p}
    assert capped == {p for p in clean if not set(p) & cluster}
    assert all(a < 1_000_000 and b < 1_000_000 for a, b in capped)


def test_simhash_bucket_cap(spark, docs):
    """SimHash near-dup with a planted degenerate chunk bucket finishes and
    reports no pair touching the planted mass."""
    base = docs.where(F.col("doc_id") < 100).select("doc_id", "text")
    one_text = base.where(F.col("doc_id") == 1).first()["text"]
    copies = spark.range(1500).select(
        (F.col("id") + 1_000_000).alias("doc_id"), F.lit(one_text).alias("text")
    )
    out = dedup.simhash_near_duplicates(
        base.unionByName(copies), max_bucket_size=128
    ).collect()
    assert all(r["id_a"] < 1_000_000 and r["id_b"] < 1_000_000 for r in out)


def test_near_dup_cosine_exchange_carries_ids_only(spark, emb):
    """The candidate-pair distinct must not shuffle embeddings: no exchange
    below the pair dedup aggregate may carry the vector column."""
    dim = len(emb.select("embedding").first()[0])
    plan = (
        similarity.near_duplicates_by_cosine(emb, dim, threshold=0.9)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the Aggregate (pair distinct) and the joins feeding it mention only
    # ids/band/val; embeddings appear solely in the two final re-rank joins
    agg_section = plan.split("Deduplicate")[0] if "Deduplicate" in plan else plan
    first_agg = plan.find("Aggregate")
    assert first_agg != -1
    below = plan[first_agg:]
    # the subtree under the dedup aggregate (candidate generation) must not
    # reference the embedding column except via the base relation scans of
    # the re-rank joins, which sit ABOVE the aggregate in this plan
    assert "embedding" not in below.split("Join", 1)[0]


def test_ivf_indexed_partition_pruned_probe(spark, emb, tmp_path):
    """Write-side IVF bucketing: the materialized index is partitioned by
    cell, and a probe query's scan is partition-pruned to exactly the
    probed cells — the 10^12-scale claim of PLANS.md §6 made physical."""
    import os

    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "ivf_index")
    n_cells = 8
    similarity.write_ivf_index(emb, path, dim, n_centroids=n_cells)
    cell_dirs = [d for d in os.listdir(path) if d.startswith("__cell=")]
    assert len(cell_dirs) == n_cells

    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nprobe = 2
    out = similarity.ivf_top_k_indexed(
        spark, path, queries, k=3, nprobe=nprobe
    )
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    # top-1 is always the query itself (it lives in its own nearest cell)
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1}

    # the scan is partition-pruned: the executed plan carries a __cell
    # partition filter, and the pruned scan reads only the probed cells'
    # rows (strictly fewer than the full corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__cell" in plan.split("PartitionFilters", 1)[1][:200]

    import json

    centroids = np.asarray(
        json.load(open(os.path.join(path, "_ivf_centroids.json"))), dtype=np.float64
    )
    probe = similarity._assign_cells_udf(centroids, nprobe)
    cells = [
        r["__cell"]
        for r in queries.select(
            F.explode(probe(F.col("query_vec"))).alias("__cell")
        ).distinct().collect()
    ]
    probed = (
        spark.read.parquet(path).where(F.col("__cell").isin(cells)).count()
    )
    total = spark.read.parquet(path).count()
    assert 0 < probed < total


def test_connected_components_hand_graph(spark):
    """Chain, triangle, and isolated edge resolve to min-id components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain: component 1
         (10, 11), (11, 12), (10, 12),    # triangle: component 10
         (20, 21)],                       # edge: component 20
        "id_a long, id_b long",
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}


def test_deduplicate_near_keeps_representatives(spark, docs):
    """The docs fixture plants exact copies (+100000) and near copies
    (+200000) of docs 0-4: near-dedup must drop all ten planted rows and
    keep the originals plus everything unpaired."""
    out = dedup.deduplicate_near(docs, threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    for i in range(5):
        assert i in kept
        assert i + 100000 not in kept
        assert i + 200000 not in kept
    assert out.columns == docs.columns


def test_connected_components_string_ids(spark):
    """Pair ids keep their native type: string-keyed corpora (url ids)
    cluster exactly like numeric ones (min-label = lexicographic min)."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_long_path_graph(spark):
    """The round-2 min-label propagation needed diameter rounds (raised on
    long chains); large-star/small-star must converge a 10k-node path in
    O(log n) alternating rounds and label every node with the path min."""
    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(16)
    comp = dedup.connected_components(pairs, max_iterations=30)
    assert comp.count() == n
    assert (
        comp.where(F.col("component") != F.lit(0)).count() == 0
    )  # every node labels to the path minimum


def test_connected_components_self_pairs_and_random_graph(spark):
    """Self-pairs label themselves; a seeded random graph matches a python
    union-find oracle exactly."""
    import random

    rng = random.Random(13)
    n, m = 300, 220
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += [(5, 5), (299, 299)]  # self-pairs
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    seen = {x for e in edges for x in e}
    want = {x: find(x) for x in seen}
    # canonicalize: representative = min of component
    comp_min = {}
    for x, r in want.items():
        comp_min.setdefault(r, x)
        comp_min[r] = min(comp_min[r], x)
    want = {x: comp_min[find(x)] for x in seen}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


def test_deduplicate_near_poisoned_corpus_no_silent_under_dedup(spark):
    """Round-2 seam (VERDICT 'What's wrong' #2): 2k byte-identical copies
    flooded LSH buckets past the cap, and pairs inside dropped buckets —
    including a planted near-twin of the copied doc — were silently lost,
    so deduplicate_near under-dedup'd exactly the corpora that need it
    most.  The exact-duplicate collapse now runs first: copies reach LSH
    as ONE representative, the near-twin pairs with it, and the survivor
    set matches the exhaustive jaccard oracle computed in python."""
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, base_text)]
    rows += [(1000 + i, base_text) for i in range(2000)]  # exact copies
    rows += [(5000, base_text + " extraword")]            # near twin
    rows += [(6000, "completely different content nothing shared here at all")]
    rows += [(7000, "one two")]                           # too short to shingle
    rows += [(7001, "one two")]                           # identical short doc
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = dedup.deduplicate_near(df, threshold=0.5, max_bucket_size=64)
    kept = sorted(r["doc_id"] for r in out.collect())
    # survivors: doc 0 (min of the identical+near cluster: the 2000 copies
    # AND the near twin all cluster to 0), the unrelated doc, and BOTH
    # short docs (outside k-gram jaccard semantics, always kept)
    assert kept == [0, 6000, 7000, 7001]


def test_deduplicate_near_matches_uncapped_on_clean_corpus(spark, docs):
    """On a corpus with no over-cap buckets the exact-collapse composition
    must not change the result: capped+collapsed == uncapped survivor set."""
    capped = {
        r["doc_id"]
        for r in dedup.deduplicate_near(
            docs, threshold=0.5, max_bucket_size=512
        ).collect()
    }
    uncapped = {
        r["doc_id"]
        for r in dedup.deduplicate_near(
            docs, threshold=0.5, max_bucket_size=None
        ).collect()
    }
    assert capped == uncapped


# --------------------------------------------------- incremental LSH index


def test_minhash_index_dedup_roundtrip(spark, tmp_path):
    from hllspark import dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "red green blue cyan magenta yellow"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh_index")
    dedup.write_minhash_index(corpus, path)
    new = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # exact copy of 1
            (101, "totally fresh words nothing shared here at all"),
            (102, "one two three four five six seven"),  # exact copy of 2
        ],
        "doc_id long, text string",
    )
    matches = {
        (r["new_id"], r["index_id"]): r["est_jaccard"]
        for r in dedup.index_near_matches(new, path).collect()
    }
    assert matches == {(100, 1): 1.0, (102, 2): 1.0}
    survivors = sorted(
        r["doc_id"] for r in dedup.dedup_against_index(new, path).collect()
    )
    assert survivors == [101]


def test_minhash_index_append_three_batch_ingest(spark, tmp_path):
    """Sequential ingest (dedup_against_index + append_to_index per batch)
    keeps exactly the one-shot deduplicate_near survivor set when no
    near-dup chain straddles batches (the documented equivalence)."""
    from hllspark import dedup

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b1 = mk([
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
    ])
    b2 = mk([
        (10, "alpha beta gamma delta epsilon zeta"),      # dup of 1 -> dropped
        (11, "red green blue cyan magenta yellow"),       # fresh
    ])
    b3 = mk([
        (20, "one two three four five six seven"),        # dup of 2 -> dropped
        (21, "red green blue cyan magenta yellow"),       # dup of 11 -> dropped
        (22, "lorem ipsum dolor sit amet consectetur"),   # fresh
    ])
    path = str(tmp_path / "idx")
    dedup.write_minhash_index(b1, path)
    survivors = {1, 2}
    for batch in (b2, b3):
        keep = dedup.dedup_against_index(batch, path)
        survivors |= {r["doc_id"] for r in keep.select("doc_id").collect()}
        dedup.append_to_index(keep, path)
    one_shot = {
        r["doc_id"]
        for r in dedup.deduplicate_near(b1.union(b2).union(b3))
        .select("doc_id").collect()
    }
    assert survivors == one_shot == {1, 2, 11, 22}
    import json

    with open(f"{path}/{dedup._LSH_META}") as fh:
        assert json.load(fh)["appends"] == 2
    # appended rows are live: a copy of a batch-3 survivor is now caught
    probe = mk([(30, "lorem ipsum dolor sit amet consectetur")])
    assert dedup.dedup_against_index(probe, path).count() == 0


def test_minhash_index_append_crash_safety(spark, tmp_path):
    """A crashed append (parquet written, sidecar never committed) is
    invisible to readers, never collides with the retry's batch id, and
    the retry fully recovers — the round-5 atomic-commit contract."""
    import json

    from hllspark import dedup

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    base = mk([(1, "alpha beta gamma delta epsilon zeta")])
    path = str(tmp_path / "idx")
    dedup.write_minhash_index(base, path)
    # simulate the crash: batch data lands, sidecar commit never runs
    orphan = mk([(50, "lorem ipsum dolor sit amet consectetur")])
    meta = dedup._read_meta(path)
    n = dedup._next_batch_id(path, meta)
    sig = dedup._minhash_signatures_df(orphan, "text", "doc_id", meta["k"],
                                       meta["num_hashes"], meta["seed"])
    sig = sig.select(F.col("doc_id").alias("id"), F.col("__sig").alias("sig"))
    sig.write.parquet(f"{path}/signatures/batch={n}")
    sig.write.parquet(f"{path}/banded/batch={n}")  # content irrelevant
    # readers ignore the orphan: a copy of the orphan doc is NOT flagged
    probe = mk([(60, "lorem ipsum dolor sit amet consectetur")])
    assert dedup.dedup_against_index(probe, path).count() == 1
    # the retry allocates a FRESH id (never writes into the orphan dir)
    assert dedup._next_batch_id(path, dedup._read_meta(path)) == n + 1
    dedup.append_to_index(orphan, path)
    committed = dedup._read_meta(path)["batches"]
    assert committed == [0, n + 1]
    # after the committed retry the doc IS live
    assert dedup.dedup_against_index(probe, path).count() == 0
    # sidecar replacement left no torn temp file
    import os

    assert not os.path.exists(f"{path}/{dedup._LSH_META}.tmp")
    json.load(open(f"{path}/{dedup._LSH_META}"))


def test_minhash_index_matches_self_join_decisions(spark, tmp_path):
    # decisions through the index must agree with the in-memory
    # minhash_near_duplicates pairs on the same split (same seeds)
    from hllspark import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idx")
    dedup.write_minhash_index(corpus, path)
    via_index = {
        (r["new_id"], r["index_id"])
        for r in dedup.index_near_matches(new, path, threshold=0.9).collect()
    }
    # reference: self-join over the union, keep cross pairs, verify by
    # the same signature estimate >= 0.9 (exact copies dominate)
    pairs = dedup.minhash_lsh_candidates(docs, max_bucket_size=None)
    sig = dedup._minhash_signatures_df(docs, "text", "doc_id", 3, 64, 7)
    est = (
        pairs.join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("__sig").alias("sa")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"), F.col("__sig").alias("sb")),
            "id_b",
        )
        .withColumn(
            "est",
            F.size(
                F.filter(
                    F.zip_with(
                        "sa", "sb", lambda a, b: F.when(a == b, 1).otherwise(0)
                    ),
                    lambda v: v == 1,
                )
            )
            / F.lit(64.0),
        )
        .where(F.col("est") >= 0.9)
    )
    cross = set()
    for r in est.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 2 != b % 2:
            nid, iid = (a, b) if a % 2 == 1 else (b, a)
            cross.add((nid, iid))
    assert via_index == cross


def test_png_wav_real_decode(spark):
    """decoder='real' actually decodes: PNG via zlib+numpy defiltering
    (filters 0/1/2 covered; 3/4 via the per-pixel fallback), WAV PCM16
    via slicing, and (round 5) baseline JPEG via the numpy codec;
    pixels/samples match the closed-form fixture functions."""
    import numpy as np
    import zlib

    from hllspark import multimodal as mm

    for (w, h, seed) in ((1, 1, 0), (7, 3, 5), (100, 50, 42)):
        px = mm.decode_png(mm.make_png(w, h, seed=seed))
        assert px.shape == (h, w, 3)
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        assert np.array_equal(px, mm.png_pixel(seed, y, x, c).astype(np.uint8))

    # Sub (1) and Up (2) filters on a hand-built 2x2
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    idat = zlib.compress(
        bytes([1, 10, 20, 30, 5, 6, 7]) + bytes([2, 1, 1, 1, 2, 2, 2])
    )
    png = (b"\x89PNG\r\n\x1a\n" + mm._png_chunk(b"IHDR", ihdr)
           + mm._png_chunk(b"IDAT", idat) + mm._png_chunk(b"IEND", b""))
    assert mm.decode_png(png).tolist() == [
        [[10, 20, 30], [15, 26, 37]], [[11, 21, 31], [17, 28, 39]]
    ]

    rate, s = mm.decode_wav(mm.make_wav(16000, seed=9, n_samples=333))
    assert rate == 16000
    assert np.array_equal(s, mm.wav_sample(9, np.arange(333)).astype(np.int16))

    # Spark end-to-end: real features for EVERY container row — png, wav
    # and (round 5) jpeg all decode for real
    media = mm.synthesize_media_containers(spark, 30)
    feats = mm.extract_features(media, decoder="real").collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in feats)
    by_id = dict((r["media_id"], r["features"]) for r in feats)
    # one known value: media 0 is a 1x1 png, pixels (0, 31, 62); shorter
    # than FEATURE_DIM, so the decode is zero-padded before bucketing
    f0 = by_id[0]
    assert f0[:3] == [0.0, 31.0, 62.0] and all(v == 0.0 for v in f0[3:])
    # media 1 is a 2x2 jpeg, one constant block value jpeg_block_value(1,
    # 0, 0) = 1 -> four pixels of 1, zero-padded before bucketing
    f1 = by_id[1]
    assert f1[:4] == [1.0] * 4 and all(v == 0.0 for v in f1[4:])


def test_jpeg_real_codec(spark):
    """Round-5 baseline JPEG codec: constant-block fixture images decode
    bit-exactly (DC-only blocks survive all-ones quantization), general
    gray/RGB content round-trips within the DCT/color rounding bound, and
    the out-of-scope shapes fail loudly."""
    import numpy as np

    from hllspark import multimodal as mm

    for seed, w, h in ((0, 16, 8), (7, 23, 17), (5, 1, 1), (40, 100, 3)):
        img = mm.decode_jpeg(mm.make_jpeg(w, h, seed=seed))
        by, bx = np.ogrid[0 : (h + 7) // 8, 0 : (w + 7) // 8]
        want = np.repeat(
            np.repeat(mm.jpeg_block_value(seed, by, bx).astype(np.uint8), 8, 0),
            8, 1,
        )[:h, :w]
        assert img.shape == (h, w)
        assert np.array_equal(img, want), (seed, w, h)
    # general content: gradient + uniform noise within 1 level (gray),
    # 2 levels (RGB adds the YCbCr round trip)
    rng = np.random.default_rng(42)
    gray = (np.add.outer(np.arange(40) * 3, np.arange(50) * 5) % 256).astype(
        np.uint8
    )
    assert np.abs(
        mm.decode_jpeg(mm.encode_jpeg_gray(gray)).astype(int) - gray.astype(int)
    ).max() <= 1
    noise = rng.integers(0, 256, (33, 41), dtype=np.uint8)
    assert np.abs(
        mm.decode_jpeg(mm.encode_jpeg_gray(noise)).astype(int)
        - noise.astype(int)
    ).max() <= 1
    rgb = rng.integers(0, 256, (24, 31, 3), dtype=np.uint8)
    dec = mm.decode_jpeg(mm.encode_jpeg_rgb(rgb))
    assert dec.shape == (24, 31, 3)
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 2
    # header parsing still works on real scans, and the legacy
    # header-only stub still parses
    assert mm.jpeg_dims(mm.make_jpeg(10, 20, seed=3)) == (10, 20)
    assert mm.jpeg_dims(mm.make_jpeg(10, 20)) == (10, 20)
    # loud failures for out-of-scope shapes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_jpeg(b"\x89PNG not a jpeg")
    with _pytest.raises(ValueError):  # header-only stub has no scan
        mm.decode_jpeg(mm.make_jpeg(4, 4))


def test_winnow_near_duplicates(spark, docs):
    """Winnowing pairs: exact copies share ALL fingerprints (overlap 1.0),
    near copies (one appended word) stay above the overlap bar, unrelated
    word-soup docs stay below it."""
    out = dedup.winnow_near_duplicates(docs, min_shared=2, min_overlap=0.5)
    found = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    for i in range(5):
        assert (i, i + 100000) in found, f"exact copy {i} missed"
        assert found[(i, i + 100000)]["overlap"] == 1.0
        assert (i, i + 200000) in found, f"near copy {i} missed"
        assert found[(i, i + 200000)]["overlap"] >= 0.5


# ---------------------------------------------------------------------------
# exact-substring (duplicate token-run) removal
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def run_docs(spark):
    rows = [
        (0, "a b c d e f g h i j unique tail zero"),
        (1, "x y a b c d e f g h i j other words here"),
        (2, "no duplicated material in this one at all"),
        (3, "r r r r r r r r r r r r"),
        (4, None),
        (5, ""),
        (6, "a b c d e f g h i j unique tail zero"),
        (7, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kept(df, **kw):
    out = dedup.remove_duplicate_runs(df, min_run=10, **kw).orderBy("doc_id")
    return {r.doc_id: (r.n_tokens, r.n_removed, r.kept_text) for r in out.collect()}


def test_remove_duplicate_runs_all_occurrences(spark, run_docs):
    got = _kept(run_docs)
    # exact copies (0, 6) are both fully duplicated -> everything cut
    assert got[0] == (13, 13, "")
    assert got[6] == (13, 13, "")
    # doc 1 shares exactly the 10-token run a..j; the rest survives
    assert got[1] == (15, 10, "x y other words here")
    # no duplicated run -> untouched (modulo whitespace normalization)
    assert got[2] == (8, 0, "no duplicated material in this one at all")
    # intra-document repetition counts (ExactSubstr semantics)
    assert got[3] == (12, 12, "")
    # null / empty / shorter-than-min_run docs pass through
    assert got[4] == (0, 0, "")
    assert got[5] == (0, 0, "")
    assert got[7] == (2, 0, "short doc")


def test_remove_duplicate_runs_keep_first(spark, run_docs):
    got = _kept(run_docs, keep_first=True)
    # the (min id, min pos) occurrence of every gram is exempt: doc 0
    # keeps its copy, doc 6 (the later twin) loses it
    assert got[0] == (13, 0, "a b c d e f g h i j unique tail zero")
    assert got[6] == (13, 13, "")
    assert got[1] == (15, 10, "x y other words here")
    # intra-doc: the first of the three identical grams survives
    assert got[3] == (12, 11, "r")


def test_remove_duplicate_runs_partition_invariant(spark, run_docs):
    a = _kept(run_docs)
    b = _kept(run_docs.repartition(7))
    assert a == b


def test_remove_duplicate_runs_brute_force_oracle(spark, docs):
    """Organic fixture text + planted copies vs a literal per-token
    membership oracle computed in Python."""
    L = 8
    sample = docs.where(
        (F.col("doc_id") < 80) | (F.col("doc_id") >= 200000)
    )  # organic text + the near-dup copies of docs 0-4 (shared prefixes)
    rows = {r.doc_id: (r.text or "") for r in sample.collect()}
    toks = {i: t.split() for i, t in rows.items()}
    from collections import Counter

    counts = Counter(
        tuple(ws[s : s + L])
        for ws in toks.values()
        for s in range(len(ws) - L + 1)
    )
    expect = {}
    for i, ws in toks.items():
        covered = set()
        for s in range(len(ws) - L + 1):
            if counts[tuple(ws[s : s + L])] >= 2:
                covered.update(range(s, s + L))
        kept = [w for p, w in enumerate(ws) if p not in covered]
        expect[i] = (len(ws), len(ws) - len(kept), " ".join(kept))
    out = dedup.remove_duplicate_runs(sample, min_run=L)
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.kept_text)
        for r in out.collect()
    }
    assert got == expect


def test_remove_duplicate_runs_plan_shape(spark, run_docs):
    """Scale guards for the §33 plan: gram counting must be a
    map-side-combinable aggregate, NOT a window over the gram hash (a
    boilerplate gram with 10^9 occurrences would pin one task — windows
    are AQE-skew-unsplittable), and the gram-stream aggregate must not
    carry text columns (only id/pos/hash shuffle)."""
    out = dedup.remove_duplicate_runs(run_docs, min_run=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # partial-aggregate pass over the gram stream exists (map-side combine)
    assert "partial_count(1)" in plan
    # the gram-side aggregate keys on the hash, never the token text
    assert "h#" in plan


def test_remove_duplicate_runs_rejects_output_column_clash(spark, run_docs):
    with pytest.raises(ValueError, match="n_tokens"):
        dedup.remove_duplicate_runs(
            run_docs.withColumn("n_tokens", F.lit(1)), min_run=10
        )


# ---------------------------------------------------------------------------
# distributed k-means + SemDeDup semantic dedup (round 5)
# ---------------------------------------------------------------------------


def _numpy_lloyd(X, C0, iters):
    """Literal spherical-Lloyd replica of kmeans_fit_distributed."""
    U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = C0 / np.maximum(np.linalg.norm(C0, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        assign = np.argmax(U @ C.T, axis=1)
        nxt = C.copy()
        for c in range(len(C)):
            members = U[assign == c]
            if len(members):
                nxt[c] = members.mean(axis=0)
        nxt /= np.maximum(np.linalg.norm(nxt, axis=1, keepdims=True), 1e-12)
        for c in range(len(C)):
            if not (assign == c).any():
                nxt[c] = C[c]
        C = nxt
    return C


def test_kmeans_distributed_matches_numpy_lloyd(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    seeds = similarity._seed_rows(emb, 4, "vec_id", "embedding", seed=7)
    C0 = np.asarray([r.v for r in seeds], dtype=np.float64)
    got = similarity.kmeans_fit_distributed(emb, dim, k=4, iters=3, seed=7)
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    want = _numpy_lloyd(X, C0, iters=3)
    assert np.abs(got - want).max() < 1e-9


def test_kmeans_distributed_partition_invariant(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    a = similarity.kmeans_fit_distributed(emb, dim, k=4, iters=2, seed=7)
    b = similarity.kmeans_fit_distributed(
        emb.repartition(13), dim, k=4, iters=2, seed=7
    )
    # partial-sum merge order may differ: equal to float-merge tolerance
    assert np.abs(a - b).max() < 1e-12


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    # 4 rows, only 3 distinct directions: the two identical vectors both
    # assign to the LOWER of their two identical seed cells, leaving the
    # other cell empty -> it must keep its (normalized) seed centroid
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    C = similarity.kmeans_fit_distributed(df, 3, k=4, iters=2, seed=7)
    assert not np.isnan(C).any()
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    seeds = similarity._seed_rows(df, 4, "vec_id", "embedding", seed=7)
    C0 = np.asarray([r.v for r in seeds], dtype=np.float64)
    C0 /= np.linalg.norm(C0, axis=1, keepdims=True)
    dup_cells = [
        c for c, r in enumerate(seeds)
        if [round(x) for x in r.v] == [1, 0, 0]
    ]
    assert len(dup_cells) == 2
    empty = max(dup_cells)  # argmax tie-break -> lower cell wins members
    assert np.allclose(C[empty], C0[empty])


def test_assign_cells_arrow_equals_expr(spark, emb):
    seeds = similarity._seed_rows(emb, 4, "vec_id", "embedding", seed=7)
    C = np.asarray([r.v for r in seeds], dtype=np.float64)  # raw, unnormalized
    a = {
        r.vec_id: r.cell
        for r in similarity.assign_cells(emb, C, impl="arrow").collect()
    }
    b = {
        r.vec_id: r.cell
        for r in similarity.assign_cells(emb, C, impl="expr").collect()
    }
    assert a == b


def test_semantic_dedup_drops_planted_twins(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    twins = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") * 1.0001).cast("float"),
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(twins)
    out = similarity.semantic_dedup(
        aug, dim, eps=0.95, n_clusters=4, iters=2, seed=7
    )
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == aug.count()
    dropped = {i for i, r in rows.items() if not r.kept}
    # a twin and its original share a cluster (cosine 1.0 dominates any
    # centroid geometry), so exactly the 5 higher-id twins are dropped:
    # the organic corpus has no pairs above 0.95 (max cross cosine ~0.51)
    assert dropped == {10000, 10001, 10002, 10003, 10004}
    for i in range(5):
        assert rows[i].cell == rows[i + 10000].cell


def test_semantic_dedup_keep_min_id_within_cluster(spark):
    # identical triple + one far-away doc: keep-min-id drops 2 and 3
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [1.0, 0.0]),
        (9, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    C = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    out = similarity.semantic_dedup(df, 2, eps=0.95, centroids=C)
    kept = {r.vec_id for r in out.collect() if r.kept}
    assert kept == {1, 9}


def test_semantic_dedup_oversize_cluster_keeps_all(spark):
    rows = [(i, [1.0, 0.0]) for i in range(5)] + [(9, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    C = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    out = similarity.semantic_dedup(
        df, 2, eps=0.95, centroids=C, max_cluster_size=3
    )
    # the 5-member cluster exceeds the cap: its pairs are skipped, all kept
    assert all(r.kept for r in out.collect())


def test_semantic_dedup_partition_invariant(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    seeds = similarity._seed_rows(emb, 4, "vec_id", "embedding", seed=7)
    C = np.asarray([r.v for r in seeds], dtype=np.float64)
    a = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in similarity.semantic_dedup(emb, dim, centroids=C).collect()
    )
    b = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in similarity.semantic_dedup(
            emb.repartition(11), dim, centroids=C
        ).collect()
    )
    assert a == b


def test_semantic_dedup_arrow_equals_expr(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    twins = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") * 1.0001).cast("float"),
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(twins)
    seeds = similarity._seed_rows(aug, 4, "vec_id", "embedding", seed=7)
    C = np.asarray([r.v for r in seeds], dtype=np.float64)
    a = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in similarity.semantic_dedup(
            aug, dim, centroids=C, impl="arrow"
        ).collect()
    )
    b = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in similarity.semantic_dedup(
            aug, dim, centroids=C, impl="expr"
        ).collect()
    )
    assert a == b


def test_y4m_video_codec(spark):
    """Round-5 Y4M video path: container round-trip is bit-exact, the
    sampled decode touches only sampled planes, chroma'd colorspaces
    stride correctly, header metadata flows through with_media_metadata,
    and frame_sample_stats equals a full-decode recomputation."""
    import numpy as np

    from hllspark import multimodal as mm

    # bit-exact round trip across sizes, including 1x1 and single-frame
    for seed, w, h, nf in ((0, 8, 4, 3), (9, 27, 13, 18), (5, 1, 1, 1)):
        b = mm.make_y4m(w, h, nf, seed=seed)
        assert mm.sniff_format(b) == "y4m"
        p = mm.y4m_params(b)
        assert (p["width"], p["height"], p["n_frames"]) == (w, h, nf)
        assert (p["fps_num"], p["fps_den"], p["colorspace"]) == (25, 1, "mono")
        p2, luma = mm.decode_y4m(b)
        yy, xx = np.mgrid[0:h, 0:w]
        for f in range(nf):
            assert np.array_equal(luma[f], mm.y4m_frame_value(seed, f, yy, xx))
        # sampled decode == full decode strided
        _, s3 = mm.decode_y4m(b, every_n=3)
        assert np.array_equal(s3, luma[::3])
    # 420 colorspace: luma plane first, chroma skipped by stride
    hdr = b"YUV4MPEG2 W8 H4 F30000:1001 Ip A1:1 C420jpeg\n"
    frames = []
    for f in range(3):
        y = ((np.arange(32) + f) % 256).astype(np.uint8)
        frames.append(b"FRAME\n" + y.tobytes() + bytes(16))
    b420 = hdr + b"".join(frames)
    p, luma = mm.decode_y4m(b420)
    assert (p["n_frames"], p["fps_num"], p["colorspace"]) == (3, 30000, "420jpeg")
    assert np.array_equal(luma[2].ravel(), (np.arange(32) + 2) % 256)
    # metadata path picks up video dims
    vids = mm.synthesize_video_containers(spark, 12)
    meta = mm.with_media_metadata(vids).select("media_id", "media_meta.*").collect()
    for r in meta:
        assert r["format"] == "y4m"
        assert r["width"] == r["media_id"] % 24 + 4
        assert r["height"] == r["media_id"] % 12 + 2
    # frame sampling == full-decode recomputation; zero-copy arrow impl
    # and the pandas impl are value-identical
    arrow_rows = sorted(mm.frame_sample_stats(vids, every_n=4).collect())
    pandas_rows = sorted(
        mm.frame_sample_stats(vids, every_n=4, impl="pandas").collect()
    )
    assert arrow_rows == pandas_rows
    got = {
        (r["media_id"], r["frame_idx"]): (r["luma_sum"], r["width"], r["height"])
        for r in arrow_rows
    }
    want = {}
    for i in range(12):
        b = mm.make_y4m(i % 24 + 4, i % 12 + 2, i % 16 + 3, seed=i)
        _, luma = mm.decode_y4m(b)
        for f in range(0, luma.shape[0], 4):
            want[(i, f)] = (
                int(luma[f].sum(dtype=np.int64)),
                luma.shape[2],
                luma.shape[1],
            )
    assert got == want
    # real-decoder feature extraction now covers video
    feats = mm.extract_features(vids, decoder="real").collect()
    assert len(feats) == 12
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in feats)
    # loud failure for non-y4m bytes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_y4m(b"RIFF not a y4m stream")
    # odd dimensions: subsampled chroma planes round UP (3x3 420 carries
    # 2x2 chroma planes -> 17-byte frames; 3x3 422 carries 2x3 -> 21)
    for cs, chroma in (("C420jpeg", 8), ("C422", 12)):
        odd = b"YUV4MPEG2 W3 H3 F25:1 %s\n" % cs.encode() + b"".join(
            b"FRAME\n" + bytes([f] * 9) + bytes(chroma) for f in (1, 2)
        )
        p, luma = mm.decode_y4m(odd)
        assert mm.y4m_params(odd)["n_frames"] == p["n_frames"] == 2
        assert np.array_equal(luma[:, 0, 0], [1, 2])
    # header lines of any length: a 5000-byte X token in the stream header
    # and a 300-byte one in a frame header decode the same under both impls
    def long_headers(i):
        b = mm.make_y4m(5, 3, 4, seed=i)
        b = b.replace(b" Cmono\n", b" Cmono X" + b"x" * 5000 + b"\n", 1)
        return b.replace(b"FRAME\n", b"FRAME X" + b"y" * 300 + b"\n")

    long_df = spark.createDataFrame(
        [(i, long_headers(i)) for i in range(3)], "media_id bigint, payload binary"
    )
    arrow_rows = sorted(mm.frame_sample_stats(long_df, every_n=1).collect())
    pandas_rows = sorted(
        mm.frame_sample_stats(long_df, every_n=1, impl="pandas").collect()
    )
    assert len(arrow_rows) == 12
    assert arrow_rows == pandas_rows
