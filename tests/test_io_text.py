"""Tests for the pages fixture generator, extraction invariant, text
operators, and snapshot/resume checkpointing."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from hllspark import agg, io as hio, text as htext


@pytest.fixture(scope="module")
def pages(spark):
    return hio.generate_pages(spark, 20_000, n_distinct=15_000, num_partitions=8).cache()


def test_pages_deterministic(spark):
    a = hio.generate_pages(spark, 500, n_distinct=400, num_partitions=2).collect()
    b = hio.generate_pages(spark, 500, n_distinct=400, num_partitions=7).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_pages_schema_and_distincts(spark, pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    assert dict(pages.dtypes)["html"] == "binary"
    assert dict(pages.dtypes)["warc_ts"] == "timestamp"
    # exact true distinct url count is pinned by construction
    assert pages.select(F.countDistinct("url")).first()[0] == 15_000
    langs = {r["lang"] for r in pages.select("lang").distinct().collect()}
    assert "en" in langs and len(langs) >= 4


def test_extraction_invariant_byte_identical(spark, pages):
    """input_hint: per-row extracted text byte-identical."""
    bad = pages.where(htext.extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_lang_skew_present(spark, pages):
    counts = {r["lang"]: r["count"] for r in pages.groupBy("lang").count().collect()}
    assert counts["en"] > sum(v for k, v in counts.items() if k != "en")  # hot key


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",), ("",)], "text string")
    rows = df.select(htext.shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == []
    assert rows[2]["s"] == []


def test_shingles_zipwith_matches_reference_form(spark):
    """The round-5 zip_with shingle formulation must be byte-identical to
    the straightforward transform/slice/array_join definition on every
    edge: short docs, exact-k docs, duplicate grams, whitespace runs,
    null text, and k in {1, 2, 5}."""
    rows = [(i, t) for i, t in enumerate(
        ["a b c d e", "a b", "a b c", "", None, "  x   y  z ", "one",
         "a a a a", "w1 w2 w3 w4 w5 w6 w7 w8"])]
    df = spark.createDataFrame(rows, "i long, text string")

    def reference(text, k):
        words = htext.words_col(text)
        n = F.size(words) - F.lit(k - 1)
        return F.when(n < 1, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            )
        )

    for k in (1, 2, 5):
        got = df.select("i", htext.shingles(F.col("text"), k).alias("g"),
                        reference(F.col("text"), k).alias("r")).collect()
        for r in got:
            assert r["g"] == r["r"], (k, r["i"], r["g"], r["r"])


def test_winnow_fingerprints_zipwith_matches_reference_form(spark):
    """The round-5 zip_with/least sliding-min must select exactly the same
    fingerprints as the straightforward transform(sequence, i ->
    array_min(slice(hashes, i, w))) definition on every edge: short docs,
    exact-window docs, duplicate grams, null text, and (k, window) combos
    including window=1."""
    rows = [(i, t) for i, t in enumerate(
        ["a b c d e f g h", "a b", "a b c d e", "", None, "  x   y  z ",
         "one", "a a a a a a", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"])]
    df = spark.createDataFrame(rows, "i long, text string")

    def reference(text, k, window):
        grams = htext.shingles(text, k)
        hashes = F.transform(grams, lambda g: F.xxhash64(g))
        n_win = F.size(hashes) - F.lit(window - 1)
        mins = F.when(n_win < 1, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.array_min(F.slice(hashes, i, window)),
            )
        )
        return F.array_distinct(mins)

    for k, window in ((1, 2), (2, 4), (5, 4), (3, 1), (2, 7)):
        got = df.select(
            "i",
            htext.winnow_fingerprints(F.col("text"), k, window).alias("g"),
            reference(F.col("text"), k, window).alias("r"),
        ).collect()
        for r in got:
            assert r["g"] == r["r"], (k, window, r["i"], r["g"], r["r"])


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("a, b! c?",), ("",)], "text string"
    )
    rows = df.select(
        htext.token_count(F.col("text")).alias("t"),
        htext.bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()
    assert rows[0]["t"] == 2 and rows[0]["b"] == 2
    assert rows[1]["t"] == 3 and rows[1]["b"] == 6  # a , b ! c ?
    assert rows[2]["t"] == 0


def test_quality_features(spark):
    df = spark.createDataFrame(
        [("the quick brown fox and the lazy dog run to the field",),
         ("!!! ??? ... ###",)],
        "text string",
    )
    rows = htext.quality_features(df).collect()
    good, junk = rows[0], rows[1]
    assert good["stopword_ratio"] > 0.2
    assert junk["punct_ratio"] > 0.5
    assert good["quality_score"] > junk["quality_score"]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in the house",),
            ("der Hund und die Katze ist das Tier",),
            ("le chat et la maison les arbres des fleurs",),
            ("zzzz qqqq",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(htext.lang_id(F.col("text"))).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_lang_id_newline_blocks(spark):
    """Markers adjacent to block-separator newlines (the shape
    extract_text_html emits) must still count — whitespace normalizes
    before space-delimited marker matching."""
    df = spark.createDataFrame(
        [
            ("Home\nAbout the team\nContact the editor\nthe news\n",),
            ("der\nHund und\ndie Katze\nist das\tTier",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(htext.lang_id(F.col("text"))).collect()]
    assert got == ["en", "de"]


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different text",)],
        "text string",
    )
    fps = [r[0] for r in df.select(htext.content_fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]  # normalization: case + whitespace
    assert fps[0] != fps[2]
    w = df.select(htext.winnow_fingerprints(F.col("text"), k=1, window=2).alias("w")).collect()
    assert len(w[0]["w"]) >= 1


def test_distinct_shingles_per_lang(spark, pages):
    """The north_star flagship query shape: distinct text shingles per lang
    via sketches, within bound of exact."""
    ex = htext.explode_shingles(pages, "text", k=3)
    est = {
        r["lang"]: r["distinct_estimate"]
        for r in agg.approx_distinct(ex, "shingle", ["lang"], p=12).collect()
    }
    exact = {
        r["lang"]: r["cnt"]
        for r in ex.groupBy("lang")
        .agg(F.countDistinct("shingle").alias("cnt"))
        .collect()
    }
    for lang, e in exact.items():
        assert abs(est[lang] - e) / e < 3 * 1.04 / 64, lang


def test_snapshot_resume(spark, tmp_path, pages):
    """Kill-and-resume: only uncommitted units re-run; merged result equals
    a direct full build (north_rule checkpoint/lineage)."""
    root = str(tmp_path / "ckpt")
    w = hio.SnapshotWriter(root)
    with_day = pages.withColumn("day", F.dayofmonth("warc_ts"))
    units = [str(d) for d in range(1, 31)]

    def run_unit(u):
        sk = agg.sketch_by(with_day.where(F.col("day") == int(u)), "url", p=10)
        w.write_unit(sk, u, lineage={"day": u, "source": "pages-fixture"})

    # simulate first run dying after 10 units
    for u in units[:10]:
        run_unit(u)
    assert len(w.committed_units()) == 10
    # resume: exactly the remaining 20 units
    remaining = hio.resume_remaining(w, units)
    assert len(remaining) == 20 and set(remaining).isdisjoint(w.committed_units())
    for u in remaining:
        run_unit(u)
    # merged checkpointed sketches == direct global sketch
    merged = agg.merge_sketches(w.read_committed(spark)).first()["sketch"]
    direct = agg.sketch_by(pages, "url", p=10).first()["sketch"]
    assert bytes(merged) == bytes(direct)
    # lineage recorded
    meta = w.latest_manifest()["units"]["5"]
    assert meta["lineage"]["day"] == "5" and "committed_at" in meta


def test_session_builders():
    from hllspark import conf as hconf

    b = hconf.configured_builder("t", cores=4)
    opts = b._options
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.shuffle.partitions"] == "4"
    b2 = hconf.apply_cluster_defaults(b)
    opts2 = b2._options
    assert opts2["spark.io.compression.codec"] == "zstd"
    assert "auto" not in opts2.values()


def test_wire_formats_round_trip(spark):
    """Reference wire-format codecs (measure.hpp:16-67): big-endian u64 /
    fixed-len str / big-endian u32 (j, r) pairs round-trip, and a jr blob
    replays through sketch_from_jr to the exact numpy-oracle registers."""
    import numpy as np
    from hllspark import agg, io as hio, sketch

    rng = np.random.default_rng(3)
    xs = rng.integers(0, 1 << 63, 100, dtype=np.uint64)
    blob = hio.wire_encode_uint64(xs)
    assert len(blob) == 800
    assert blob[:8] == int(xs[0]).to_bytes(8, "big")  # big-endian on wire
    np.testing.assert_array_equal(hio.wire_decode_uint64(blob), xs)

    ss = ["abcd8901", "ZYXW4321"]
    np.testing.assert_array_equal(
        hio.wire_decode_str(hio.wire_encode_str(ss, 8), 8), ss
    )

    p = 8
    j = rng.integers(0, 1 << p, 500, dtype=np.uint32)
    r = rng.integers(1, 40, 500, dtype=np.uint32)
    jr_blob = hio.wire_encode_jr(j, r)
    j2, r2 = hio.wire_decode_jr(jr_blob)
    np.testing.assert_array_equal(j2, j)
    np.testing.assert_array_equal(r2, r)

    df = hio.wire_jr_df(spark, jr_blob, num_partitions=4)
    sk = agg.sketch_from_jr(df, p=p).collect()[0]["sketch"]
    expect = np.zeros(1 << p, dtype=np.uint8)
    np.maximum.at(expect, j.astype(np.int64), r.astype(np.uint8))
    np.testing.assert_array_equal(sketch.decode(sk), expect)


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Co-bucketed tables join with ZERO Exchange on either side (the
    write-time shuffle replaces every query-time shuffle), and the result
    equals the plain shuffled join row-for-row."""
    from tests.conftest import SF_TEST

    ev = spark.read.parquet(f"{SF_TEST}/events.parquet")
    left = ev.select("event_id", "user_id", "value")
    right = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    )
    try:
        hio.write_bucketed(left, "t_bleft", "user_id", 8,
                           path=str(tmp_path / "bleft"))
        hio.write_bucketed(right, "t_bright", "user_id", 8,
                           path=str(tmp_path / "bright"),
                           sort_cols="user_id")
        # force the sort-merge path (the tiny fixture would otherwise be
        # broadcast, which sidesteps bucketing entirely); at real fact
        # sizes SMJ is what the planner picks on its own
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            joined = hio.bucketed_join(spark, "t_bleft", "t_bright", "user_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange hashpartitioning" not in plan, plan
            got = sorted(map(tuple, joined.collect()))
            want = sorted(map(tuple, left.join(right, "user_id").collect()))
            assert got == want
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_token_count_equals_words_col_size(spark):
    """The regex-edge-corrected token_count must equal size(words_col)
    on every whitespace shape (it exists purely as the fast path)."""
    rows = [
        (0, "a b c"), (1, ""), (2, "   "), (3, None), (4, "\tfoo foo"),
        (5, "foo foo\n"), (6, " \t x \n y  "), (7, "one"), (8, "\t\n"),
        (9, "a  b\t\tc\nd"), (10, " lead"), (11, "trail "),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = df.select(
        "i",
        htext.token_count(F.col("t")).alias("fast"),
        F.size(htext.words_col(F.col("t"))).alias("ref"),
    ).collect()
    for r in got:
        assert r["fast"] == r["ref"], (r["i"], r["fast"], r["ref"])


def test_hashed_tfidf_matches_replica_and_composes(spark):
    """hashed_tfidf (feature-hashed TF-IDF, round 5): exact parity with a
    hand-rolled replica, identical texts -> identical vectors (the
    all-text semantic-dedup bridge), zero-token docs -> zero vector."""
    import hashlib
    import math
    import re

    import numpy as np

    from hllspark import similarity, text as htext

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # twin of 0
        (2, "pack my box with five dozen liquor jugs"),
        (3, "sphinx of black quartz judge my vow"),
        (4, "   \t  "),  # whitespace-only -> zero vector
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dim, seed = 16, 3
    out = htext.hashed_tfidf(df, dim=dim, seed=seed, normalize=False)
    got = {r["doc_id"]: np.array(r["tfidf"]) for r in out.collect()}
    assert all(len(v) == dim for v in got.values())

    def bucket(tok):
        h = int(
            hashlib.md5((tok + "\x1f" + str(seed)).encode()).hexdigest()[:8],
            16,
        )
        return h % dim

    tfs = {}
    for did, text in rows:
        v = {}
        for w in (w for w in re.split(r"\s+", text) if w):
            b = bucket(w)
            v[b] = v.get(b, 0) + 1
        tfs[did] = v
    dfreq = {}
    for v in tfs.values():
        for b in v:
            dfreq[b] = dfreq.get(b, 0) + 1
    n = len(rows)
    for did, v in tfs.items():
        exp = np.zeros(dim)
        for b, c in v.items():
            exp[b] = c * (math.log((1 + n) / (1 + dfreq[b])) + 1)
        assert np.abs(got[did] - exp).max() < 1e-9
    assert got[4].sum() == 0.0  # zero-token doc

    # impl='arrow' (numpy scatter assembly) and impl='expr' (pure
    # codegen map fill) are value-IDENTICAL, normalization included
    # (normalization itself is JVM-side in both)
    ga = htext.hashed_tfidf(df, dim=dim, seed=seed, impl="arrow").orderBy(
        "doc_id"
    ).collect()
    ge = htext.hashed_tfidf(df, dim=dim, seed=seed, impl="expr").orderBy(
        "doc_id"
    ).collect()
    for ra, re_ in zip(ga, ge):
        assert ra["tfidf"] == re_["tfidf"]

    # normalized vectors: twins are cosine-1, and the embedding-space
    # near-dup operator finds exactly that pair on the tfidf column
    outn = htext.hashed_tfidf(df, dim=dim, seed=seed, normalize=True)
    pairs = similarity.near_duplicates_by_cosine(
        outn.select("doc_id", F.col("tfidf").alias("embedding")),
        dim=dim,
        threshold=0.999,
        id_col="doc_id",
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
