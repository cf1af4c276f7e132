"""Persisted Bloom seen-set (hllspark/crawl.py): sequential ingest ==
one-shot cross-batch distinct, re-ingest idempotence, atomic state,
and the warc_stream composition."""

import os

import pyspark.sql.functions as F

from hllspark.crawl import BloomSeenSet


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example.com/p"), F.col("id").cast("string")).alias("url"),
        F.col("id"),
    )


def test_sequential_ingest_equals_one_shot(spark, tmp_path):
    state = str(tmp_path / "seen")
    s = BloomSeenSet.create(state, n_expected=10_000, fpp=1e-6)
    # batches overlap: [0,150) [100,250) [200,400) + within-batch dups
    b1 = _urls(spark, 0, 150)
    b2 = _urls(spark, 100, 250).unionByName(_urls(spark, 120, 130))
    b3 = _urls(spark, 200, 400)
    got = []
    for b in (b1, b2, b3):
        got.extend(r["id"] for r in s.ingest(b).collect())
    assert sorted(got) == list(range(400))  # every id exactly once
    # 400 keys x ~20 hashes (fpp=1e-6) over ~287k bits -> ~2.8% fill
    assert 0.0 < s.fill_ratio() < 0.05


def test_reingest_returns_nothing(spark, tmp_path):
    state = str(tmp_path / "seen")
    s = BloomSeenSet.create(state, n_expected=1_000, fpp=1e-6)
    assert s.ingest(_urls(spark, 0, 50)).count() == 50
    assert s.ingest(_urls(spark, 0, 50)).count() == 0


def test_create_refuses_overwrite_and_empty_add_keeps_state(spark, tmp_path):
    import pytest

    state = str(tmp_path / "seen")
    s = BloomSeenSet.create(state, n_expected=100, fpp=1e-3)
    with pytest.raises(FileExistsError):
        BloomSeenSet.create(state, n_expected=100)
    before = open(s.path, "rb").read()
    s.add(_urls(spark, 0, 0))  # empty batch
    assert open(s.path, "rb").read() == before
    assert not os.path.exists(s.path + ".tmp")


def test_crawler_loop_with_warc_stream(spark, tmp_path):
    """The full crawler-ingest composition: WARC files -> streaming
    records -> pages shape -> seen-set ingest per micro-batch; refetched
    URLs in later files are dropped exactly once."""
    from hllspark import warc as W

    src = str(tmp_path / "warc_src")
    # 32 records over 2 files; file 2 re-fetches file 1's last 16 urls
    W.synthesize_warc_files(src, 16, records_per_file=16,
                            gzip_every_other_file=False)
    # second file duplicates the first (same formulas => same urls)
    import shutil

    shutil.copy(os.path.join(src, "part-0000.warc"),
                os.path.join(src, "part-0001.warc"))

    s = BloomSeenSet.create(str(tmp_path / "seen"), n_expected=1_000,
                            fpp=1e-6)
    kept = []

    def sink(batch_df, batch_id):
        pages = W.warc_to_pages(batch_df)
        kept.extend(r["url"] for r in s.ingest(pages, "url").collect())

    q = (
        W.warc_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(kept) == sorted(
        f"https://w{i % 7}.example.com/p{i}" for i in range(16)
    )


# ------------------------------------------------------------- robots.txt


def _robots_fixture(spark):
    texts = {
        "h1.example.com": (
            "# crawl policy\n"
            "User-agent: *\n"
            "Disallow: /private\n"
            "Allow: /private/pub\n"
            "Disallow:\n"          # empty value -> no restriction
            "\n"
            "User-agent: otherbot\n"
            "Disallow: /\n"        # other agent's group: ignored for *
        ),
        "h2.example.com": (
            "User-agent: googly\n"
            "User-agent: *\n"      # consecutive agents share the group
            "Disallow: /\n"
            "Allow: /ok\n"
        ),
        "h4.example.com": (
            "User-agent: *\n"
            "Allow: /a\n"
            "Disallow: /a\n"       # equal length -> allow wins
        ),
    }
    return spark.createDataFrame(
        list(texts.items()), "host string, robots_txt string"
    )


def test_parse_robots_groups_and_empty_values(spark):
    from hllspark.crawl import parse_robots

    rules = {
        (r.host, r.rule, r.prefix)
        for r in parse_robots(_robots_fixture(spark)).collect()
    }
    assert ("h1.example.com", "disallow", "/private") in rules
    assert ("h1.example.com", "allow", "/private/pub") in rules
    # otherbot's group must not leak into the * rules
    assert ("h1.example.com", "disallow", "/") not in rules
    assert ("h2.example.com", "disallow", "/") in rules
    assert ("h2.example.com", "allow", "/ok") in rules
    # agent-specific parse picks up the dedicated group
    other = parse_robots(_robots_fixture(spark), agent="otherbot").collect()
    assert ("h1.example.com", "disallow", "/") in {
        (r.host, r.rule, r.prefix) for r in other
    }


def test_robots_filter_longest_match_semantics(spark):
    from hllspark.crawl import parse_robots, robots_filter

    rules = parse_robots(_robots_fixture(spark))
    urls = [
        ("https://h1.example.com/private/x", False),   # /private
        ("https://h1.example.com/private/pub/y", True),  # deeper allow
        ("https://h1.example.com/other", True),        # no match
        ("https://h2.example.com/anything", False),    # root disallow
        ("https://h2.example.com/ok/page", True),      # allow overrides
        ("https://h3.example.com/z", True),            # host without rules
        ("https://h4.example.com/a/z", True),          # tie -> allow
    ]
    pages = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    kept = {r.url for r in robots_filter(pages, rules).collect()}
    for u, expect in urls:
        assert (u in kept) == expect, u


def test_robots_filter_bare_host_url(spark):
    """A URL with no path matches rules as path '/' (RFC 9309)."""
    from hllspark.crawl import parse_robots, robots_filter

    rules = parse_robots(_robots_fixture(spark))
    pages = spark.createDataFrame(
        [("https://h2.example.com",), ("https://h1.example.com",)],
        "url string",
    )
    kept = {r.url for r in robots_filter(pages, rules).collect()}
    assert kept == {"https://h1.example.com"}  # h2 disallows /


def test_robots_filter_wildcard_and_anchor(spark):
    """RFC 9309 §2.2.3 special characters: '*' matches any sequence,
    trailing '$' anchors end-of-path; mid-rule '$' is literal; regex
    metacharacters in rule paths are matched literally; specificity =
    rule octet length (wildcards count)."""
    from hllspark.crawl import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [
            (
                "w.example.com",
                "User-agent: *\n"
                "Disallow: /private*\n"
                "Disallow: /*.pdf$\n"
                "Allow: /private-ok\n"
                "Disallow: /a$\n"
                "Disallow: /lit$x\n"
                "Disallow: /re(gex)+.case\n",
            )
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    urls = [
        ("https://w.example.com/private/data", False),   # wildcard prefix
        ("https://w.example.com/privateX", False),       # '*' covers any tail
        ("https://w.example.com/private-ok/z", True),    # longer allow wins
        ("https://w.example.com/doc.pdf", False),        # /*.pdf$ anchored
        ("https://w.example.com/doc.pdf.html", True),    # '$' means END
        ("https://w.example.com/a", False),              # trailing $ exact
        ("https://w.example.com/ab", True),              # anchored: no match
        ("https://w.example.com/lit$x/y", False),        # mid-rule $ literal
        ("https://w.example.com/re(gex)+.case", False),  # metachars literal
        ("https://w.example.com/reXgexY.case", True),    # NOT a regex
        ("https://w.example.com/other", True),
    ]
    pages = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    kept = {r.url for r in robots_filter(pages, rules).collect()}
    for u, expect in urls:
        assert (u in kept) == expect, u


def test_politeness_waves_bounds_and_determinism(spark):
    """Every (host, wave) holds <= per_wave URLs, every wave of a host
    except its last is exactly full, assignment is deterministic across
    partitionings, and the result covers every input row exactly once."""
    from hllspark.crawl import politeness_waves

    rows = [
        (f"https://h{i % 3}.example.com/p/{i}",) for i in range(90)
    ] + [("https://lonely.example.net/only",)]
    df = spark.createDataFrame(rows, "url string")
    out = politeness_waves(df, per_wave=4).collect()
    assert len(out) == 91
    by_hw = {}
    by_host = {}
    for r in out:
        by_hw.setdefault((r["host"], r["wave"]), []).append(r["url"])
        by_host.setdefault(r["host"], []).append(r["wave"])
    assert all(len(v) <= 4 for v in by_hw.values())
    for host, waves in by_host.items():
        n = len(waves)
        full = n // 4
        # waves 0..full-1 are exactly full; the remainder wave has n % 4
        from collections import Counter

        c = Counter(waves)
        for k in range(full):
            assert c[k] == 4
        if n % 4:
            assert c[full] == n % 4
    # deterministic under repartitioning
    out2 = politeness_waves(df.repartition(7), per_wave=4).collect()
    assert {(r["url"], r["wave"]) for r in out2} == {
        (r["url"], r["wave"]) for r in out
    }


def test_politeness_waves_partition_invariant(spark):
    """The range-partitioned rank equals the single-window assignment
    (row_number over the host) at 1, 4 and 16 partitions, with a host
    that fills at least three whole partitions and a NULL url (a NULL
    host, one group); empty input gives no rows."""
    from pyspark.sql import Window

    from hllspark.crawl import politeness_waves
    from hllspark.curation import url_host
    from hllspark.sampling import _md5_hex8

    rows = [(f"https://big.example.com/p/{i}",) for i in range(300)]
    rows += [(f"https://h{i % 7}.example.org/q/{i}",) for i in range(60)]
    rows += [(None,), ("not a url",)]
    df = spark.createDataFrame(rows, "url string")
    w = Window.partitionBy("host").orderBy("__o", "url")
    want = {
        (r["url"], r["host"], r["wave"])
        for r in df.withColumn("host", url_host(F.col("url")))
        .withColumn("__o", _md5_hex8([F.col("url")], 0))
        .withColumn("wave", F.floor((F.row_number().over(w) - 1) / 3))
        .collect()
    }
    for parts in (1, 4, 16):
        got = politeness_waves(df.repartition(5), per_wave=3, num_partitions=parts)
        assert got.columns == ["url", "host", "wave"]
        assert {(r["url"], r["host"], r["wave"]) for r in got.collect()} == want, parts
    empty = politeness_waves(spark.createDataFrame([], "url string"), num_partitions=4)
    assert empty.columns == ["url", "host", "wave"] and empty.count() == 0


def test_pagerank_matches_reference_and_conserves_mass(spark):
    """pagerank == a literal python transcription of the uniform-teleport
    + dangling-redistribution recurrence, iteration for iteration (exact
    to float); total rank is conserved at 1.0; the pre-partitioned path
    (num_partitions) is value-identical."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("c", "f"),  # f is dangling (no out-links)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    from hllspark.crawl import pagerank

    got = {r["node"]: r["rank"] for r in pagerank(df, iters=10).collect()}

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n, d = len(nodes), 0.85
    r = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        dang = sum(r[v] for v in nodes if v not in out)
        inc = {v: 0.0 for v in nodes}
        for s, t in edges:
            inc[t] += r[s] / out[s]
        r = {v: (1 - d) / n + d * (inc[v] + dang / n) for v in nodes}

    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert max(abs(got[v] - r[v]) for v in nodes) < 1e-12
    got2 = {
        x["node"]: x["rank"]
        for x in pagerank(df.repartition(3), iters=10, num_partitions=4).collect()
    }
    assert got2 == got


def test_politeness_waves_host_col_passthrough(spark):
    """An existing host column must be used via host_col, never silently
    clobbered by the URL-derived host."""
    import pytest as _pytest

    from hllspark.crawl import politeness_waves

    df = spark.createDataFrame(
        [("https://a.example.com/1", "groupX"), ("https://b.example.com/2", "groupX")],
        "url string, host string",
    )
    with _pytest.raises(ValueError, match="host_col"):
        politeness_waves(df)
    out = politeness_waves(df, per_wave=1, host_col="host").collect()
    assert {r["host"] for r in out} == {"groupX"}
    assert sorted(r["wave"] for r in out) == [0, 1]  # same group -> 2 waves


def test_snapshot_delta(spark):
    """crawl.snapshot_delta: added/removed/changed/unchanged taxonomy,
    default fingerprint inference over shared non-key columns, and the
    include_unchanged switch."""
    import pyspark.sql.functions as F

    from hllspark import crawl

    old = spark.createDataFrame(
        [("a", "t1", 1), ("b", "t2", 2), ("c", "t3", 3)],
        "k string, text string, extra int",
    )
    new = spark.createDataFrame(
        [("b", "t2", 2), ("c", "t3-edited", 3), ("d", "t4", 4)],
        "k string, text string, extra int",
    )
    got = {
        r["k"]: r["status"]
        for r in crawl.snapshot_delta(old, new, key_col="k").collect()
    }
    assert got == {"a": "removed", "c": "changed", "d": "added"}
    # unchanged included on demand, with matching fingerprints
    rows = {
        r["k"]: r
        for r in crawl.snapshot_delta(
            old, new, key_col="k", include_unchanged=True
        ).collect()
    }
    assert rows["b"]["status"] == "unchanged"
    assert rows["b"]["fp_old"] == rows["b"]["fp_new"]
    assert rows["c"]["fp_old"] != rows["c"]["fp_new"]
    # restricting the fingerprint to a column that did NOT change makes
    # 'c' unchanged (drops out of the default output)
    got2 = {
        r["k"]: r["status"]
        for r in crawl.snapshot_delta(
            old, new, key_col="k", fingerprint_cols=["extra"]
        ).collect()
    }
    assert got2 == {"a": "removed", "d": "added"}
    # null position is part of the fingerprint: xxhash64 skips null
    # fields, so (NULL,'x') -> ('x',NULL) must still come out 'changed'
    # while an all-null row that stays all-null stays unchanged
    swap_old = spark.createDataFrame(
        [("e", None, "x"), ("f", None, None)], "k string, a string, b string"
    )
    swap_new = spark.createDataFrame(
        [("e", "x", None), ("f", None, None)], "k string, a string, b string"
    )
    got3 = {
        r["k"]: r["status"]
        for r in crawl.snapshot_delta(
            swap_old, swap_new, key_col="k", include_unchanged=True
        ).collect()
    }
    assert got3 == {"e": "changed", "f": "unchanged"}
    # no shared non-key columns -> loud failure
    import pytest as _pytest

    with _pytest.raises(ValueError):
        crawl.snapshot_delta(
            old.select("k"), new.select("k"), key_col="k"
        )
