"""Tests for the extended sketch family: count-min, Bloom, KLL, t-digest.
Each: correctness vs exact oracle, published error bound, merge == union,
encode/decode round trip, determinism, and Spark-level aggregation."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from hllspark.sketches import bloom, countmin, generic, kll, tdigest
from tests.conftest import SF_TEST


# --------------------------------------------------------------------------
# count-min
# --------------------------------------------------------------------------

class TestCountMin:
    def test_overcount_only_and_bound(self):
        rng = np.random.default_rng(0)
        # zipf-ish frequencies
        items = rng.zipf(1.5, size=50_000) % 1000
        width, depth = 2053, 5
        cm = countmin.update(countmin.zero(width, depth), items.astype(np.int64))
        qs = np.arange(1000, dtype=np.int64)
        est = countmin.point_estimate(cm, qs)
        true = np.bincount(items, minlength=1000)[:1000]
        assert np.all(est >= true)  # never undercounts
        eps = np.e / width
        # eps*N bound holds for (almost) all, expected failure prob e^-depth
        viol = np.mean(est - true > eps * items.size)
        assert viol < 0.01

    def test_merge_equals_union(self):
        rng = np.random.default_rng(1)
        a = rng.integers(0, 500, 10_000)
        b = rng.integers(0, 500, 10_000)
        k = countmin.kind(1031, 4)
        ca = k.update(k.zero(), pd.Series(a))
        cb = k.update(k.zero(), pd.Series(b))
        cu = k.update(k.zero(), pd.Series(np.concatenate([a, b])))
        np.testing.assert_array_equal(k.merge(ca, cb), cu)

    def test_round_trip_and_determinism(self):
        cm = countmin.update(countmin.zero(521, 3), np.arange(1000))
        buf = countmin.encode(cm)
        np.testing.assert_array_equal(countmin.decode(buf), cm)
        assert buf == countmin.encode(countmin.decode(buf))

    def test_params_for(self):
        w, d = countmin.params_for(eps=0.001, delta=0.01)
        assert w >= 2718 and d >= 5

    def test_string_items(self):
        vals = pd.Series([f"item{i % 50}" for i in range(5000)])
        cm = countmin.update(countmin.zero(1031, 4), vals)
        est = countmin.point_estimate(cm, pd.Series(["item0", "item49"]).to_numpy())
        assert est[0] >= 100 and est[1] >= 100


# --------------------------------------------------------------------------
# bloom
# --------------------------------------------------------------------------

class TestBloom:
    def test_no_false_negatives(self):
        rng = np.random.default_rng(2)
        members = rng.integers(0, 2**62, 20_000)
        m, k = bloom.params_for(20_000, 0.01)
        bits = bloom.update(bloom.zero(m), members, k)
        assert bloom.might_contain(bits, members, k).all()

    def test_fpp_near_target(self):
        rng = np.random.default_rng(3)
        members = rng.integers(0, 2**61, 20_000)
        others = rng.integers(2**61, 2**62, 20_000)
        m, k = bloom.params_for(20_000, 0.01)
        bits = bloom.update(bloom.zero(m), members, k)
        fpp = bloom.might_contain(bits, others, k).mean()
        assert fpp < 0.02, fpp  # target 1%, allow 2x

    def test_merge_is_union(self):
        a = np.arange(0, 1000)
        b = np.arange(1000, 2000)
        m, k = bloom.params_for(2000, 0.01)
        ba = bloom.update(bloom.zero(m), a, k)
        bb = bloom.update(bloom.zero(m), b, k)
        merged = bloom.merge(ba, bb)
        assert bloom.might_contain(merged, np.concatenate([a, b]), k).all()
        np.testing.assert_array_equal(
            merged, bloom.update(bloom.update(bloom.zero(m), a, k), b, k)
        )

    def test_round_trip(self):
        m, k = 4096, 5
        bits = bloom.update(bloom.zero(m), np.arange(100), k)
        got, k2 = bloom.decode(bloom.encode(bits, k))
        assert k2 == k
        np.testing.assert_array_equal(got, bits)


# --------------------------------------------------------------------------
# KLL
# --------------------------------------------------------------------------

class TestKLL:
    def test_rank_error_bound(self):
        rng = np.random.default_rng(4)
        data = rng.random(200_000)
        s = kll.KLL(200).update(data)
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = s.quantile(q)
            true_rank = np.mean(data <= est)
            assert abs(true_rank - q) < 0.03, (q, true_rank)

    def test_merge_accuracy(self):
        rng = np.random.default_rng(5)
        parts = [rng.normal(0, 1, 50_000) for _ in range(4)]
        merged = kll.KLL(200)
        for part in parts:
            merged = merged.merge(kll.KLL(200).update(part))
        data = np.concatenate(parts)
        for q in (0.1, 0.5, 0.9):
            est = merged.quantile(q)
            true_rank = np.mean(data <= est)
            assert abs(true_rank - q) < 0.04, (q, true_rank)
        assert merged.n == data.size

    def test_round_trip_and_determinism(self):
        rng = np.random.default_rng(6)
        s = kll.KLL(100).update(rng.random(10_000))
        buf = kll.encode(s)
        s2 = kll.decode(buf)
        assert kll.encode(s2) == buf
        np.testing.assert_array_equal(
            s.quantile([0.1, 0.5, 0.9]), s2.quantile([0.1, 0.5, 0.9])
        )

    def test_deterministic_same_stream(self):
        rng = np.random.default_rng(7)
        data = rng.random(30_000)
        a = kll.encode(kll.KLL(150).update(data))
        b = kll.encode(kll.KLL(150).update(data))
        assert a == b

    def test_rank_query(self):
        data = np.arange(10_000, dtype=float)
        s = kll.KLL(200).update(data)
        assert abs(s.rank(5000.0) - 0.5) < 0.03

    def test_memory_bounded(self):
        rng = np.random.default_rng(8)
        s = kll.KLL(200)
        for _ in range(20):
            s.update(rng.random(100_000))
        assert s._size() < 3000  # sublinear in n=2M


# --------------------------------------------------------------------------
# t-digest
# --------------------------------------------------------------------------

class TestTDigest:
    def test_quantile_accuracy(self):
        rng = np.random.default_rng(9)
        data = rng.random(200_000)
        t = tdigest.TDigest(100).update(data)
        for q in (0.001, 0.01, 0.5, 0.99, 0.999):
            est = t.quantile(q)
            true_rank = np.mean(data <= est)
            tol = 0.005 if q in (0.5,) else 0.002  # tails tighter (t-digest property)
            assert abs(true_rank - q) < max(tol, 0.01), (q, true_rank)

    def test_tail_accuracy_better_than_mid(self):
        rng = np.random.default_rng(10)
        data = rng.normal(0, 1, 300_000)
        t = tdigest.TDigest(100).update(data)
        err_tail = abs(np.mean(data <= t.quantile(0.999)) - 0.999)
        err_mid = abs(np.mean(data <= t.quantile(0.5)) - 0.5)
        assert err_tail < 0.002
        assert err_mid < 0.02

    def test_merge_accuracy(self):
        rng = np.random.default_rng(11)
        parts = [rng.exponential(2.0, 80_000) for _ in range(3)]
        digests = [tdigest.TDigest(100).update(p) for p in parts]
        merged = digests[0].merge(digests[1]).merge(digests[2])
        data = np.concatenate(parts)
        for q in (0.1, 0.5, 0.9, 0.99):
            est = merged.quantile(q)
            true_rank = np.mean(data <= est)
            assert abs(true_rank - q) < 0.02, (q, true_rank)
        assert merged.n == data.size

    def test_centroid_count_bounded(self):
        rng = np.random.default_rng(12)
        t = tdigest.TDigest(100)
        for _ in range(10):
            t.update(rng.random(100_000))
        assert t.means.size <= 200  # ~delta centroids

    def test_round_trip(self):
        rng = np.random.default_rng(13)
        t = tdigest.TDigest(100).update(rng.random(50_000))
        buf = tdigest.encode(t)
        t2 = tdigest.decode(buf)
        assert tdigest.encode(t2) == buf
        assert t2.quantile(0.5) == t.quantile(0.5)


# --------------------------------------------------------------------------
# Spark integration via the generic adapter
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_TEST}/events.parquet").cache()


def test_spark_countmin_heavy_hitters(spark, events):
    k = countmin.kind(2053, 5)
    sk = generic.sketch_agg(events, "user_id", k).first()["sketch"]
    cm = countmin.decode(bytes(sk))
    true = {
        r["user_id"]: r["cnt"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("cnt")).limit(50).collect()
    }
    ids = np.array(list(true), dtype=np.int64)
    est = countmin.point_estimate(cm, ids)
    n = events.count()
    for i, uid in enumerate(ids):
        assert est[i] >= true[uid]
        assert est[i] <= true[uid] + np.e / 2053 * n * 3


def test_spark_tdigest_quantiles_grouped(spark, events):
    k = tdigest.kind(100)
    rows = generic.sketch_agg(events, "value", k, keys=["event_type"]).collect()
    exact = {
        r["event_type"]: r["q"]
        for r in events.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("q"))
        .collect()
    }
    spread = {
        r["event_type"]: r["s"]
        for r in events.groupBy("event_type")
        .agg(
            (F.expr("percentile(value, 0.99)") - F.expr("percentile(value, 0.01)")).alias("s")
        )
        .collect()
    }
    for r in rows:
        t = tdigest.decode(bytes(r["sketch"]))
        assert abs(t.quantile(0.5) - exact[r["event_type"]]) < 0.05 * max(
            spread[r["event_type"]], 1.0
        )


def test_spark_kll_vs_approx_percentile(spark, events):
    k = kll.kind(200)
    sk = generic.sketch_agg(events, "value", k).first()["sketch"]
    s = kll.decode(bytes(sk))
    exact = events.select(F.expr("percentile(value, array(0.1, 0.5, 0.9))")).first()[0]
    got = s.quantile([0.1, 0.5, 0.9])
    values = [r["value"] for r in events.select("value").collect()]
    arr = np.array(values)
    for g, q in zip(got, (0.1, 0.5, 0.9)):
        assert abs(np.mean(arr <= g) - q) < 0.03


def test_spark_bloom_membership(spark, events):
    m, kh = bloom.params_for(5000, 0.01)
    k = bloom.kind(m, kh)
    sk = generic.sketch_agg(events, "user_id", k).first()["sketch"]
    bits, k2 = bloom.decode(bytes(sk))
    users = np.array([r[0] for r in events.select("user_id").distinct().collect()])
    assert bloom.might_contain(bits, users, k2).all()


class TestMisraGries:
    def test_no_false_negatives_among_heavy_hitters(self):
        """Every item with frequency > n/(k+1) must survive (MG guarantee),
        and counters never overcount."""
        from hllspark.sketches import misragries as mg

        rng = np.random.default_rng(5)
        # zipf-ish: item i with weight ~ 1/(i+1)
        items = np.repeat(
            np.arange(50), (2000 / (np.arange(50) + 1)).astype(int)
        ).astype(str)
        rng.shuffle(items)
        st = mg.update(mg.zero(16), items)
        n = len(items)
        from collections import Counter

        true = Counter(items)
        for item, c in st["counts"].items():
            assert c <= true[item]                      # undercount only
            assert true[item] - c <= n / (16 + 1)       # bounded error
        for item, cnt in true.items():
            if cnt > n / 17:
                assert item in st["counts"], f"heavy hitter {item} lost"

    def test_merge_guarantee_holds(self):
        from collections import Counter

        from hllspark.sketches import misragries as mg

        rng = np.random.default_rng(9)
        a = rng.integers(0, 30, 5000).astype(str)
        b = rng.integers(0, 30, 5000).astype(str)
        merged = mg.merge(mg.update(mg.zero(12), a), mg.update(mg.zero(12), b))
        true = Counter(np.concatenate([a, b]))
        n = 10000
        for item, c in merged["counts"].items():
            assert c <= true[item]
            assert true[item] - c <= n / 13
        hh = mg.heavy_hitters(merged, n, 1.0 / 13 + 0.02)
        for item, cnt in true.items():
            if cnt > (1.0 / 13 + 0.02) * n:
                assert item in dict(hh)

    def test_spark_grouped(self, spark):
        from hllspark.sketches import generic, misragries as mg

        df = spark.range(6000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.when(F.col("id") % 10 < 6, F.lit("hot"))
            .otherwise((F.col("id") % 97).cast("string"))
            .alias("v"),
        ).repartition(8)
        out = generic.sketch_agg(df, "v", mg.kind(16), keys=["g"]).collect()
        assert len(out) == 3
        for r in out:
            st = mg.decode(bytes(r["sketch"]))
            hh = mg.heavy_hitters(st, 2000, 0.3)
            assert hh and hh[0][0] == "hot"   # 60% item always found first
    def test_round_trip(self):
        from hllspark.sketches import misragries as mg

        st = mg.update(mg.zero(8), ["a", "a", "b", "c"])
        assert mg.decode(mg.encode(st)) == st


def test_approx_quantiles_grouped_vs_duckdb(spark):
    """approx_quantiles vs DuckDB exact quantile_cont rank positions."""
    import duckdb

    from hllspark.sketches import generic
    from tests.conftest import SF_TEST

    ev = spark.read.parquet(f"{SF_TEST}/events.parquet")
    got = generic.approx_quantiles(ev, "value", [0.5], keys=["event_type"]).collect()
    exact = dict(
        duckdb.sql(
            f"SELECT event_type, quantile_cont(value, 0.5) FROM "
            f"'{SF_TEST}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    counts = dict(
        duckdb.sql(
            f"SELECT event_type, count(*) FROM '{SF_TEST}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    pdfv = spark.read.parquet(f"{SF_TEST}/events.parquet").toPandas()
    for r in got:
        et = r["event_type"]
        true_rank = (pdfv[pdfv.event_type == et]["value"] <= r["quantile"]).mean()
        assert abs(true_rank - 0.5) < 0.03, (et, r["quantile"], exact[et])


def test_approx_quantiles_nan_key_is_its_own_group(spark):
    """NaN, NULL and 2.0 keys are three groups in approx_quantiles' output,
    as under groupBy: no key crosses pandas on the way out."""
    from hllspark.sketches import generic

    ks = [float("nan"), None, 2.0]
    ev = spark.createDataFrame([(ks[i % 3], float(i)) for i in range(300)], "k double, v double")
    got = generic.approx_quantiles(ev, "v", [0.0, 1.0], keys=["k"]).collect()
    by_key = {("nan" if r["k"] != r["k"] else r["k"], r["prob"]): r["quantile"] for r in got}
    assert len(got) == len(by_key) == 6
    assert by_key[("nan", 0.0)] == 0.0 and by_key[(None, 1.0)] == 298.0
    assert by_key[(2.0, 0.0)] == 2.0



@pytest.mark.parametrize("ktype, values", [("int", (0, 1, 2)), ("boolean", (True, False))])
def test_partials_null_key_one_row_per_partition(spark, ktype, values):
    """A NULL in an int or boolean key reaches pandas as NaN; it keeps one
    slot across the Arrow batches of a partition, so one partition of 1000
    rows in batches of 100 gives one partial row per key."""
    keys = [*values, None]
    df = spark.createDataFrame(
        [(keys[i % len(keys)], i) for i in range(1000)], f"k {ktype}, v long"
    ).coalesce(1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "100")
    try:
        rows = generic.partials(df, "v", kll.kind(64), ["k"]).collect()
        medians = generic.approx_quantiles(df, "v", [0.5], keys=["k"]).collect()
    finally:
        spark.conf.set(conf, old)
    assert sorted(r["k"] is None for r in rows) == [False] * len(values) + [True]
    # KLL is order-sensitive, so the NULL group's bytes changed with its one
    # state per partition; its median stays within KLL's rank error
    for r in medians:
        group = [i for i in range(1000) if keys[i % len(keys)] == r["k"]]
        rank = sum(v <= r["quantile"] for v in group) / len(group)
        assert abs(rank - 0.5) < 0.05, (r["k"], r["quantile"])


class TestKMV:
    def test_estimate_within_bound(self):
        from hllspark.sketches import kmv

        rng = np.random.default_rng(3)
        vals = rng.integers(0, 1 << 62, 60000, dtype=np.uint64)
        n_true = len(np.unique(vals))
        st = kmv.update(kmv.zero(1024), vals)
        est = kmv.estimate(st)
        assert abs(est - n_true) / n_true < 4 / np.sqrt(1024)

    def test_exact_below_k(self):
        from hllspark.sketches import kmv

        st = kmv.update(kmv.zero(1024), np.arange(500, dtype=np.uint64))
        assert kmv.estimate(st) == 500.0

    def test_merge_equals_union_feed(self):
        from hllspark.sketches import kmv

        rng = np.random.default_rng(4)
        a = rng.integers(0, 1 << 62, 20000, dtype=np.uint64)
        b = rng.integers(0, 1 << 62, 20000, dtype=np.uint64)
        m = kmv.merge(kmv.update(kmv.zero(512), a), kmv.update(kmv.zero(512), b))
        u = kmv.update(kmv.zero(512), np.concatenate([a, b]))
        np.testing.assert_array_equal(m[1], u[1])

    def test_jaccard_and_intersection(self):
        from hllspark.sketches import kmv

        rng = np.random.default_rng(5)
        common = rng.integers(0, 1 << 61, 30000, dtype=np.uint64)
        only_a = rng.integers(1 << 61, 1 << 62, 30000, dtype=np.uint64)
        only_b = rng.integers(1 << 62, 1 << 63, 30000, dtype=np.uint64)
        A = kmv.update(kmv.zero(2048), np.concatenate([common, only_a]))
        B = kmv.update(kmv.zero(2048), np.concatenate([common, only_b]))
        j = kmv.jaccard(A, B)          # true ~ 1/3
        assert abs(j - 1 / 3) < 0.05
        inter = kmv.intersection_estimate(A, B)
        assert abs(inter - 30000) / 30000 < 0.1
        diff = kmv.difference_estimate(A, B)   # true |A \ B| ~ 30000
        assert abs(diff - 30000) / 30000 < 0.1
        # difference is asymmetric and the three parts partition the union
        dba = kmv.difference_estimate(B, A)
        total = diff + dba + inter
        union = kmv.estimate(kmv.merge(A, B))
        assert total == pytest.approx(union, rel=1e-9)

    def test_difference_disjoint_and_subset(self):
        from hllspark.sketches import kmv

        a = np.arange(5000, dtype=np.uint64)
        b = np.arange(5000, 10000, dtype=np.uint64)
        A = kmv.update(kmv.zero(4096), a)
        B = kmv.update(kmv.zero(4096), b)
        # subset: A \ A = 0 exactly
        assert kmv.difference_estimate(A, A) == 0.0
        # disjoint: |A \ B| ~ |A|
        d = kmv.difference_estimate(A, B)
        assert abs(d - 5000) / 5000 < 0.1

    def test_round_trip(self):
        from hllspark.sketches import kmv

        st = kmv.update(kmv.zero(64), np.arange(1000, dtype=np.uint64))
        k2, m2 = kmv.decode(kmv.encode(st))
        assert k2 == 64
        np.testing.assert_array_equal(m2, st[1])

    def test_spark_grouped(self, spark):
        from hllspark.sketches import generic, kmv

        df = spark.range(30000).select(
            (F.col("id") % 2).cast("string").alias("g"),
            (F.col("id") % 5000).alias("v"),
        ).repartition(8)
        rows = generic.sketch_agg(df, "v", kmv.kind(512), keys=["g"]).collect()
        assert len(rows) == 2
        for r in rows:
            st = kmv.decode(bytes(r["sketch"]))
            assert abs(kmv.estimate(st) - 2500) / 2500 < 4 / np.sqrt(512)


class TestCPC:
    def test_estimate_across_regimes(self):
        from hllspark.sketches import cpc

        k = 2048
        for n in (50, 1500, 60000, 400000):
            rng = np.random.default_rng(n)
            vals = rng.integers(0, 1 << 62, n, dtype=np.uint64)
            nd = len(np.unique(vals))
            est = cpc.estimate(cpc.update(cpc.zero(k), vals))
            assert abs(est - nd) / nd < 4 * cpc.rse(k), (n, est, nd)

    def test_merge_equals_union_feed(self):
        from hllspark.sketches import cpc

        rng = np.random.default_rng(9)
        a = rng.integers(0, 1 << 62, 30000, dtype=np.uint64)
        b = rng.integers(0, 1 << 62, 30000, dtype=np.uint64)
        m = cpc.merge(
            cpc.update(cpc.zero(1024), a), cpc.update(cpc.zero(1024), b)
        )
        u = cpc.update(cpc.zero(1024), np.concatenate([a, b]))
        np.testing.assert_array_equal(m[1], u[1])

    def test_round_trip_and_compression(self):
        from hllspark.sketches import cpc

        st = cpc.update(cpc.zero(2048), np.arange(3000, dtype=np.uint64))
        k2, rows2 = cpc.decode(cpc.encode(st))
        assert k2 == 2048
        np.testing.assert_array_equal(rows2, st[1])
        # the deflate transport must beat the raw matrix on sparse states
        assert len(cpc.encode(cpc.update(cpc.zero(2048), np.arange(100)))) < 2048 * 8 / 4

    def test_validation(self):
        from hllspark.sketches import cpc

        with pytest.raises(ValueError):
            cpc.zero(1000)  # not a power of two
        with pytest.raises(ValueError):
            cpc.merge(cpc.zero(512), cpc.zero(1024))

    def test_spark_grouped(self, spark):
        from hllspark.sketches import cpc, generic

        df = spark.range(40000).select(
            (F.col("id") % 2).cast("string").alias("g"),
            (F.col("id") % 9000).alias("v"),
        ).repartition(8)
        rows = generic.sketch_agg(df, "v", cpc.kind(1024), keys=["g"]).collect()
        assert len(rows) == 2
        for r in rows:
            st = cpc.decode(bytes(r["sketch"]))
            assert abs(cpc.estimate(st) - 4500) / 4500 < 4 * cpc.rse(1024)


def test_grouped_scatter_path_byte_equals_fold_path(spark):
    """Round-3 GroupedState adapter (one np.*.at scatter per Arrow batch
    across all groups) must produce byte-identical sketches to the
    per-group fold for every fixed-shape kind (CPC / count-min / Bloom)."""
    import dataclasses

    from hllspark.sketches import bloom, cpc, countmin, generic

    df = spark.range(100_000, numPartitions=16).select(
        (F.col("id") % 300).cast("string").alias("g"),
        (F.col("id") * 7 % 9973).cast("string").alias("v"),
    )
    for kk in (cpc.kind(256), countmin.kind(211, 3), bloom.kind(1 << 12, 5)):
        assert kk.grouped is not None, kk.name
        fast = {
            r["g"]: bytes(r["sketch"])
            for r in generic.sketch_agg(df, "v", kk, ["g"]).collect()
        }
        fold = {
            r["g"]: bytes(r["sketch"])
            for r in generic.sketch_agg(
                df, "v", dataclasses.replace(kk, grouped=None), ["g"]
            ).collect()
        }
        assert fast == fold, kk.name
        assert len(fast) == 300, kk.name


# ------------------------------------------------- CPC enumerative coder


def test_cpc_entropy_coder_roundtrip_and_size():
    """encode_entropy <-> decode is byte-exact on the matrix; the wire
    payload tracks the first-order entropy bound (provably <= bound +
    gamma'd counts; measured <=10% over at the default k in the
    realistic fill regime, small absolute header floor when near-empty);
    the DEFLATE format stays decodable."""
    from hllspark.sketches import cpc

    rng = np.random.default_rng(11)
    for k in (256, 2048):
        for n in (0, 7, 300, 20_000, 400_000):
            st = (
                cpc.update(cpc.zero(k), rng.integers(0, 2**63, n))
                if n
                else cpc.zero(k)
            )
            blob = cpc.encode_entropy(st)
            k2, rows2 = cpc.decode(blob)
            assert k2 == k and np.array_equal(rows2, st[1])
            k3, rows3 = cpc.decode(cpc.encode(st))  # legacy DEFLATE format
            assert np.array_equal(rows3, st[1])
            bound = cpc.entropy_bound_bits(st)
            wire = 8 * len(blob) - 64  # minus the magic+k header
            # 64 gamma'd counts cost >= 64 bits even when empty; beyond
            # that floor the payload must track the bound
            assert wire <= 1.10 * bound + 192, (k, n, wire, bound)
            if k == 2048 and n >= 20_000:
                assert wire <= 1.05 * bound, (k, n, wire, bound)


def test_cpc_entropy_coder_estimate_unchanged():
    """Transport format does not affect the estimator: estimates from the
    enumerative and DEFLATE round trips are identical."""
    from hllspark.sketches import cpc

    rng = np.random.default_rng(5)
    st = cpc.update(cpc.zero(512), rng.integers(0, 2**63, 10_000))
    e1 = cpc.estimate(cpc.decode(cpc.encode_entropy(st)))
    e2 = cpc.estimate(cpc.decode(cpc.encode(st)))
    assert e1 == e2 == cpc.estimate(st)


# --------------------------------------------------------------------------
# count-sketch + AMS (Charikar et al. 2002 / Alon-Matias-Szegedy 1996)
# --------------------------------------------------------------------------

class TestCountSketch:
    def _zipf(self, seed, n=50_000, keys=1000):
        rng = np.random.default_rng(seed)
        return (rng.zipf(1.5, size=n) % keys).astype(np.int64)

    def test_point_estimate_l2_bound(self):
        from hllspark.sketches import countsketch as cs

        items = self._zipf(0)
        width, depth = 2053, 5
        sk = cs.update(cs.zero(width, depth), items)
        true = np.bincount(items, minlength=1000)[:1000]
        est = cs.point_estimate(sk, np.arange(1000, dtype=np.int64))
        l2 = np.sqrt(float((true.astype(np.float64) ** 2).sum()))
        # per-key failure prob exp(-Omega(depth)); allow a small tail
        viol = np.mean(np.abs(est - true) > 3 * l2 / np.sqrt(width))
        assert viol < 0.01

    def test_unbiased_unlike_countmin(self):
        """Signed counters: estimate error is centered on zero (count-min's
        is strictly >= 0) — the headline property of the sketch."""
        from hllspark.sketches import countsketch as cs

        items = self._zipf(1)
        sk = cs.update(cs.zero(521, 5), items)  # narrow: force collisions
        true = np.bincount(items, minlength=1000)[:1000]
        err = cs.point_estimate(sk, np.arange(1000, dtype=np.int64)) - true
        assert (err < 0).any() and (err > 0).any()
        assert abs(err.mean()) < 0.1 * np.abs(err).mean() + 1.0

    def test_f2_estimate(self):
        from hllspark.sketches import countsketch as cs

        items = self._zipf(2)
        width = 2053
        sk = cs.update(cs.zero(width, 5), items)
        true = np.bincount(items)
        f2 = float((true.astype(np.float64) ** 2).sum())
        assert abs(cs.f2_estimate(sk) - f2) <= f2 * np.sqrt(8.0 / width)

    def test_inner_product_join_size(self):
        from hllspark.sketches import countsketch as cs

        a = self._zipf(3)
        b = self._zipf(4)
        width = 2053
        sa = cs.update(cs.zero(width, 5), a)
        sb = cs.update(cs.zero(width, 5), b)
        ca = np.bincount(a, minlength=1000)
        cb = np.bincount(b, minlength=1000)
        truth = float((ca.astype(np.float64) * cb).sum())
        f2a = float((ca.astype(np.float64) ** 2).sum())
        f2b = float((cb.astype(np.float64) ** 2).sum())
        sd = np.sqrt(2.0 * f2a * f2b / width)
        assert abs(cs.inner_product(sa, sb) - truth) <= 4 * sd

    def test_row_signs_independent(self):
        """Regression: drawing the sign from the LOW bit of an odd-constant
        multiply collapses to parity(h) xor parity(row) — every row's signs
        identical up to a global flip.  The top-bit draw must give ~50%
        cross-row agreement and near-zero sign/bucket correlation."""
        from hllspark.sketches.countsketch import _rows

        idx, sign = _rows(np.arange(100_000, dtype=np.int64), 2053, 5)
        for a in range(4):
            agree = (sign[a] == sign[a + 1]).mean()
            assert 0.48 < agree < 0.52
        for i in range(5):
            assert abs(np.corrcoef(idx[i], sign[i])[0, 1]) < 0.02
            assert abs(sign[i].mean()) < 0.02

    def test_merge_linear_and_deletions(self):
        """Merge is elementwise addition (turnstile model): sketch(a) +
        sketch(b) == sketch(a ++ b), and subtracting sketch(b) recovers
        sketch(a) exactly — count-min's min-estimator has no analogue."""
        from hllspark.sketches import countsketch as cs

        rng = np.random.default_rng(5)
        a = rng.integers(0, 500, 10_000)
        b = rng.integers(0, 500, 10_000)
        k = cs.kind(1031, 4)
        sa = k.update(k.zero(), pd.Series(a))
        sb = k.update(k.zero(), pd.Series(b))
        su = k.update(k.zero(), pd.Series(np.concatenate([a, b])))
        np.testing.assert_array_equal(k.merge(sa, sb), su)
        np.testing.assert_array_equal(su - sb, sa)

    def test_round_trip_and_string_items(self):
        from hllspark.sketches import countsketch as cs

        sk = cs.update(cs.zero(521, 3), np.arange(1000))
        buf = cs.encode(sk)
        np.testing.assert_array_equal(cs.decode(buf), sk)
        assert buf == cs.encode(cs.decode(buf))
        vals = pd.Series([f"item{i % 50}" for i in range(5000)]).to_numpy()
        s2 = cs.update(cs.zero(1031, 4), vals)
        est = cs.point_estimate(s2, pd.Series(["item0", "item49"]).to_numpy())
        assert abs(est[0] - 100) < 50 and abs(est[1] - 100) < 50

    def test_grouped_block_matches_plain(self):
        """GroupedState scatter produces byte-identical states to per-group
        update() — the generic.sketch_agg fast-path contract."""
        from hllspark.sketches import countsketch as cs

        rng = np.random.default_rng(6)
        vals = rng.integers(0, 300, 5000)
        codes = rng.integers(0, 7, 5000)
        k = cs.kind(1031, 4)
        block = k.grouped.zero_block(7)
        k.grouped.update(block, codes, vals)
        for g in range(7):
            plain = k.update(k.zero(), pd.Series(vals[codes == g]))
            np.testing.assert_array_equal(k.grouped.to_state(block[g]), plain)


def test_spark_countsketch_partition_invariant(spark, events):
    """Distributed build: same sketch bytes at 2 and 16 partitions (merge
    associativity/commutativity through the real shuffle), unbiased point
    estimates within the l2 bound, and the grouped path's F2 per type."""
    from hllspark.sketches import countsketch as cs

    k = cs.kind(2053, 5)
    b2 = bytes(
        generic.sketch_agg(events.repartition(2), "user_id", k).first()["sketch"]
    )
    b16 = bytes(
        generic.sketch_agg(events.repartition(16), "user_id", k).first()["sketch"]
    )
    assert b2 == b16
    sk = cs.decode(b2)
    true = {
        r["user_id"]: r["cnt"]
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .limit(50)
        .collect()
    }
    counts = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    l2 = np.sqrt(
        counts.select(F.sum(F.col("cnt") * F.col("cnt"))).first()[0]
    )
    ids = np.array(list(true), dtype=np.int64)
    est = cs.point_estimate(sk, ids)
    bound = 3 * l2 / np.sqrt(2053)
    for i, uid in enumerate(ids):
        assert abs(est[i] - true[uid]) <= bound

    # grouped build: per-event-type F2 within the AMS bound
    rows = generic.sketch_agg(events, "user_id", k, keys=["event_type"]).collect()
    f2_true = {
        r["event_type"]: r["f2"]
        for r in counts_by_type(events).collect()
    }
    for r in rows:
        est_f2 = cs.f2_estimate(cs.decode(bytes(r["sketch"])))
        t = float(f2_true[r["event_type"]])
        assert abs(est_f2 - t) <= t * np.sqrt(8.0 / 2053)


def counts_by_type(events):
    return (
        events.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
        .groupBy("event_type")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2"))
    )


class TestFrequentDirections:
    """Frequent Directions (Liberty 2013 / GLPW 2016): the matrix member
    of the mergeable family.  State is NOT partition-invariant (shrink
    points follow batch boundaries) — the invariants are the PSD Gram
    sandwich 0 <= A^T A - B^T B <= (frob/ell) I, exact frob_sq, and the
    top-r projection guarantee, under EVERY split/partitioning."""

    def _rand(self, seed, n=300, d=24, rank=4):
        rng = np.random.default_rng(seed)
        return rng.standard_normal((n, rank)) @ rng.standard_normal(
            (rank, d)
        ) + 0.05 * rng.standard_normal((n, d))

    def _check_bound(self, A, st, freqdir):
        D = A.T @ A - freqdir.gram_estimate(st)
        ev = np.linalg.eigvalsh(D)
        assert ev.min() > -1e-6
        assert ev.max() <= freqdir.cov_error_bound(st) + 1e-9
        assert abs(st.frob_sq - (A**2).sum()) < 1e-6 * max((A**2).sum(), 1)

    def test_bound_any_batching(self):
        from hllspark.sketches import freqdir

        A = self._rand(1)
        rng = np.random.default_rng(2)
        for _ in range(5):
            st = freqdir.zero(10, A.shape[1])
            cuts = np.sort(rng.choice(np.arange(1, len(A)), 6, replace=False))
            for part in np.split(A, cuts):
                freqdir.update(st, list(part))
            self._check_bound(A, st, freqdir)

    def test_merge_bound_and_roundtrip(self):
        from hllspark.sketches import freqdir

        A = self._rand(3)
        thirds = np.array_split(A, 3)
        sks = []
        for part in thirds:
            st = freqdir.zero(10, A.shape[1])
            freqdir.update(st, list(part))
            sks.append(freqdir.decode(freqdir.encode(st)))  # wire round-trip
        merged = freqdir.merge(freqdir.merge(sks[0], sks[1]), sks[2])
        self._check_bound(A, merged, freqdir)
        # associativity of the GUARANTEE: other merge order also within bound
        merged2 = freqdir.merge(sks[0], freqdir.merge(sks[1], sks[2]))
        self._check_bound(A, merged2, freqdir)

    def test_projection_guarantee(self):
        from hllspark.sketches import freqdir

        A = self._rand(4)
        r, ell = 4, 12
        st = freqdir.zero(ell, A.shape[1])
        freqdir.update(st, list(A))
        V, _ = freqdir.top_directions(st, r)
        fd_resid = ((A - (A @ V.T) @ V) ** 2).sum()
        sA = np.linalg.svd(A, compute_uv=False)
        exact_resid = (sA[r:] ** 2).sum()
        assert fd_resid <= ell / (ell - r) * exact_resid + 1e-6


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_TEST}/embeddings.parquet").cache()


def test_spark_freqdir_bound_partition_invariant_guarantee(spark, embeddings):
    """The PSD sandwich and exact frob hold for EVERY partitioning (the
    states themselves legitimately differ — shrink points move)."""
    from hllspark import similarity
    from hllspark.sketches import freqdir

    dim, ell = 64, 16
    G = similarity.gram_matrix(embeddings, dim)
    exact_frob = float(np.trace(G))
    for parts in (1, 4, 16):
        sk = similarity.fd_sketch(
            embeddings.repartition(parts), dim, ell
        ).first()["sketch"]
        st = freqdir.decode(bytes(sk))
        D = G - freqdir.gram_estimate(st)
        ev = np.linalg.eigvalsh(D)
        assert ev.min() > -1e-6
        assert ev.max() <= freqdir.cov_error_bound(st) + 1e-9
        assert abs(st.frob_sq - exact_frob) < 1e-6 * exact_frob


def test_spark_freqdir_grouped_and_pca_project(spark, embeddings):
    from hllspark import similarity
    from hllspark.sketches import freqdir

    dim, ell, r = 64, 16, 8
    # grouped: one sketch per label, each obeying its own group's bound
    per = similarity.fd_sketch(embeddings, dim, ell, keys=["label"]).collect()
    assert len(per) == embeddings.select("label").distinct().count()
    for row in per:
        st = freqdir.decode(bytes(row["sketch"]))
        grp = embeddings.where(F.col("label") == row["label"])
        Gg = similarity.gram_matrix(grp, dim)
        ev = np.linalg.eigvalsh(Gg - freqdir.gram_estimate(st))
        assert ev.min() > -1e-6
        assert ev.max() <= freqdir.cov_error_bound(st) + 1e-9
    # pca_project: in-plan captured energy matches numpy exactly
    sk = freqdir.decode(
        bytes(similarity.fd_sketch(embeddings, dim, ell).first()["sketch"])
    )
    V, _ = freqdir.top_directions(sk, r)
    proj = similarity.pca_project(embeddings, V)
    captured = proj.select(
        F.aggregate(
            F.transform("projected", lambda x: x * x),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("e")
    ).agg(F.sum("e")).first()[0]
    X = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in
         [r2["embedding"] for r2 in embeddings.select("embedding").collect()]]
    )
    assert abs(captured - ((X @ V.T) ** 2).sum()) < 1e-6 * max(captured, 1)
    # projection guarantee vs exact PCA of the corpus
    G = similarity.gram_matrix(embeddings, dim)
    evals = np.sort(np.linalg.eigvalsh(G))[::-1]
    exact_resid = float(evals[r:].sum())
    fd_resid = float(np.trace(G)) - float(captured)
    assert fd_resid <= ell / (ell - r) * exact_resid + 1e-6
