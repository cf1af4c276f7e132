"""End-to-end Spark tests for the sketch aggregation layer.

Spark-level mirrors of the reference guarantees:
- estimate within the published 1.04/sqrt(m) envelope vs exact countDistinct;
- partition-count invariance (merge associativity at scale): byte-identical
  sketches across repartition(1 / 4 / 16);
- GROUP BY sketch columns + re-merge to coarser grain;
- farmhash parity mode == pure-numpy oracle sketch (byte-identical).
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from hllspark import agg, hll, sketch
from hllspark.hashing import farmhash64
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_TEST}/events.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_TEST}/documents.parquet")


def test_global_distinct_within_bound(spark, events):
    p = 12
    exact = events.select(F.countDistinct("user_id")).first()[0]
    est = agg.approx_distinct(events, "user_id", p=p).first()["distinct_estimate"]
    assert abs(est - exact) / exact < 3 * hll.error_bound(p)


def test_grouped_distinct_within_bound(spark, events):
    p = 12
    exact = {
        r["event_type"]: r["cnt"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("cnt"))
        .collect()
    }
    rows = agg.approx_distinct(events, "user_id", ["event_type"], p=p).collect()
    assert set(r["event_type"] for r in rows) == set(exact)
    for r in rows:
        e = exact[r["event_type"]]
        assert abs(r["distinct_estimate"] - e) / e < 3 * hll.error_bound(p)


@pytest.mark.parametrize("algo", ["hll", "hlll", "hllzstd"])
def test_partition_invariance_byte_identical(spark, events, algo):
    """Merge associativity/commutativity at the plan level: the final
    serialized sketch must not depend on partitioning (north_star
    requirement)."""
    outs = []
    for parts in (1, 4, 16):
        sk = agg.sketch_by(
            events.repartition(parts), "user_id", p=10, algo=algo
        ).first()["sketch"]
        outs.append(bytes(sk))
    assert outs[0] == outs[1] == outs[2]


def test_grouped_sketch_re_merge(spark, events):
    """Per-day sketches re-merged to a single sketch == direct global sketch
    (sketch GROUP BY re-aggregation)."""
    p = 10
    daily = agg.sketch_by(
        events.withColumn("day", F.to_date("ts")), "user_id", ["day"], p=p
    )
    remerged = agg.merge_sketches(daily).first()["sketch"]
    direct = agg.sketch_by(events, "user_id", p=p).first()["sketch"]
    assert bytes(remerged) == bytes(direct)


def test_farmhash_parity_vs_numpy_oracle(spark, documents):
    """farmhash mode: Spark pipeline sketch == pure-numpy sketch built from
    the same values with the reference hash chain (byte-identical)."""
    p = 10
    got = agg.sketch_by(
        documents.repartition(8), "text", p=p, hash_mode="farmhash", algo="hlll"
    ).first()["sketch"]
    texts = [r["text"] for r in documents.select("text").collect()]
    oracle = hll.build_from_hashes(farmhash64(texts), p)
    np.testing.assert_array_equal(sketch.decode(bytes(got)), oracle)
    assert bytes(got) == sketch.encode(oracle, "hlll")


def test_sql_and_pandas_impls_byte_identical(spark, events):
    """The codegen'd SQL plan and the Arrow/pandas plan are two physical
    strategies for the same logical aggregate — sketches must match byte
    for byte (they share hashing.jr_split / its SQL twin)."""
    for keys in (None, ["event_type"]):
        a = agg.sketch_by(events, "user_id", keys, p=11, impl="sql").collect()
        b = agg.sketch_by(events, "user_id", keys, p=11, impl="pandas").collect()
        ka = {tuple(r[k] for k in keys or []): bytes(r["sketch"]) for r in a}
        kb = {tuple(r[k] for k in keys or []): bytes(r["sketch"]) for r in b}
        assert ka == kb


def test_pandas_impl_partition_invariance(spark, events):
    outs = []
    for parts in (1, 4, 16):
        sk = agg.sketch_by(
            events.repartition(parts), "user_id", p=10, impl="pandas"
        ).first()["sketch"]
        outs.append(bytes(sk))
    assert outs[0] == outs[1] == outs[2]


def test_estimate_and_bitsize_columns(spark, events):
    sk = agg.sketch_by(events, "user_id", ["event_type"], p=8, algo="hlll")
    out = agg.with_estimate(sk).withColumn(
        "bits", agg.bit_size_udf(F.col("sketch"))
    )
    rows = out.collect()
    assert all(r["distinct_estimate"] > 0 for r in rows)
    # HLLL bit size is below the dense 6m bound for every group
    assert all(r["bits"] < 6 * (1 << 8) for r in rows)


def test_cross_check_spark_builtin(spark, events):
    """Our estimate and Spark's own approx_count_distinct (HLL++) should
    agree within the combined error envelope — the reference's
    'compare against apache/zetasketch baselines' role."""
    p = 12
    ours = agg.approx_distinct(events, "user_id", p=p).first()["distinct_estimate"]
    spark_est = events.select(
        F.approx_count_distinct("user_id", rsd=0.02)
    ).first()[0]
    assert abs(ours - spark_est) / spark_est < 0.1


def test_sketch_rollup_matches_direct(spark, events):
    """Rollup grains re-merged from fine sketches == sketches built
    directly at that grain (same registers -> identical estimates)."""
    ev = events.withColumn("day", F.to_date("ts"))
    fine = agg.sketch_by(ev, "user_id", ["event_type", "day"], p=10)
    roll = agg.sketch_rollup(fine, ["event_type", "day"], estimate_col="est")

    direct = agg.with_estimate(
        agg.sketch_by(ev, "user_id", ["event_type"], p=10), estimate_col="est"
    )
    got = {
        r["event_type"]: r["est"]
        for r in roll.where("grouping_set_id = 1").collect()
    }
    want = {r["event_type"]: r["est"] for r in direct.collect()}
    assert got == want

    g = roll.where("grouping_set_id = 2").collect()
    assert len(g) == 1 and g[0]["event_type"] is None and g[0]["day"] is None
    want_g = agg.with_estimate(
        agg.sketch_by(ev, "user_id", p=10), estimate_col="est"
    ).collect()[0]["est"]
    assert g[0]["est"] == want_g


def test_sketch_cube_grain_count(spark, events):
    ev = events.withColumn("day", F.to_date("ts"))
    fine = agg.sketch_by(ev, "user_id", ["event_type", "day"], p=10)
    cube = agg.sketch_cube(fine, ["event_type", "day"], estimate_col="est")
    assert cube.select("grouping_set_id").distinct().count() == 4


def test_sketch_from_jr_matches_numpy_oracle(spark):
    """The reference's jr datatype (measure.hpp:49-67): pre-hashed register
    pairs drawn per inputgenerator.cpp:76-99 (j ~ U[0,m), r geometric),
    built distributed, must equal the numpy scatter-max oracle exactly."""
    import pandas as pd

    p, n = 10, 5000
    m = 1 << p
    rng = np.random.default_rng(0x11E3EA10)
    j = rng.integers(0, m, n)
    r = np.minimum(np.ceil(-np.log2(1.0 - rng.random(n))), 63).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"j": j, "r": r})).repartition(8)
    sk = agg.sketch_from_jr(df, p=p).collect()[0]["sketch"]
    expect = np.zeros(m, dtype=np.uint8)
    np.maximum.at(expect, j, r.astype(np.uint8))
    np.testing.assert_array_equal(sketch.decode(sk), expect)


def test_sketch_from_jr_grouped_and_algos(spark):
    import pandas as pd

    p = 8
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 3, 2000).astype(str),
            "j": rng.integers(0, 1 << p, 2000),
            "r": rng.integers(1, 40, 2000),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    for algo in ("hll", "hlll", "hllzstd"):
        rows = agg.sketch_from_jr(df, keys=["g"], p=p, algo=algo).collect()
        assert len(rows) == 3
        for row in rows:
            sub = pdf[pdf.g == row["g"]]
            expect = np.zeros(1 << p, dtype=np.uint8)
            np.maximum.at(
                expect, sub.j.to_numpy(), sub.r.to_numpy().astype(np.uint8)
            )
            np.testing.assert_array_equal(sketch.decode(row["sketch"]), expect)


def test_overlap_estimates_numpy():
    """Inclusion-exclusion intersection: two sets with known 50% overlap."""
    rng = np.random.default_rng(11)
    p = 12
    a_vals = rng.integers(0, 1 << 62, 40000, dtype=np.uint64)
    b_vals = np.concatenate([a_vals[:20000],
                             rng.integers(0, 1 << 62, 20000, dtype=np.uint64)])
    from hllspark.hashing import fingerprint64
    Ma = hll.build_from_hashes(fingerprint64(a_vals), p)
    Mb = hll.build_from_hashes(fingerprint64(b_vals), p)
    ov = hll.overlap_estimates(Ma, Mb)
    assert abs(ov["union"] - 60000) / 60000 < 0.05
    assert abs(ov["intersection"] - 20000) / 20000 < 0.15
    assert 0.2 < ov["jaccard"] < 0.5  # true 1/3


def test_with_overlap_spark(spark, events):
    """Day-over-day distinct-user overlap from sketch columns only."""
    ev = events.withColumn("day", F.to_date("ts"))
    days = [r["day"] for r in ev.select("day").distinct().orderBy("day").limit(2).collect()]
    d = agg.sketch_by(ev.where(F.col("day").isin(days)), "user_id", ["day"], p=12)
    a = d.where(F.col("day") == days[0]).select(F.col("sketch").alias("sa"))
    b = d.where(F.col("day") == days[1]).select(F.col("sketch").alias("sb"))
    row = agg.with_overlap(a.crossJoin(b), "sa", "sb").select("overlap.*").collect()[0]
    exact_u = ev.where(F.col("day").isin(days)).select("user_id").distinct().count()
    assert abs(row["union"] - exact_u) / exact_u < 0.1
    assert row["intersection"] >= 0
    assert 0 <= row["jaccard"] <= 1


def test_p_for_error():
    assert hll.p_for_error(0.01) == 14  # 1.04/sqrt(2^14) = 0.0081
    assert hll.p_for_error(0.05) == 9
    assert hll.error_bound(hll.p_for_error(0.02)) <= 0.02


def test_approx_distinct_multi_matches_single(spark, events):
    """Multi-column single-scan estimates equal per-column runs (same hash
    -> register -> estimator chain; float-sum order may differ by ulps)."""
    import math

    multi = agg.approx_distinct_multi(
        events, ["user_id", "event_type", "props"], ["event_type"], p=10
    ).collect()
    for col in ["user_id", "event_type", "props"]:
        single = {
            r["event_type"]: r["distinct_estimate"]
            for r in agg.approx_distinct(events, col, ["event_type"], p=10).collect()
        }
        for r in multi:
            assert math.isclose(
                r[f"distinct_{col}"], single[r["event_type"]], rel_tol=1e-9
            ), (col, r["event_type"])


def test_approx_distinct_multi_single_scan(spark, events):
    plan = agg.approx_distinct_multi(
        events, ["user_id", "props"], p=10
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1  # one scan for both columns


def test_sketch_from_jr_drops_out_of_range(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"j": [0, 5, 1 << 8, -1, 3], "r": [4, 70, 2, 2, 9]}  # 3 invalid rows
    )
    sk = agg.sketch_from_jr(spark.createDataFrame(pdf), p=8).collect()[0]["sketch"]
    regs = sketch.decode(sk)
    expect = np.zeros(256, dtype=np.uint8)
    expect[0] = 4
    expect[3] = 9
    np.testing.assert_array_equal(regs, expect)


def test_approx_distinct_multi_validation(spark, events):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        agg.approx_distinct_multi(events, [], ["event_type"])


@pytest.mark.parametrize("p", [4, 18])
def test_precision_range_edges(spark, events, p):
    """Both ends of the supported precision range work end-to-end: p=4
    (m=16, alpha lookup table branch) and p=18 (m=262144, the reference
    grid's max; shuffle rows bounded by #keys x m)."""
    est = agg.approx_distinct(events, "user_id", p=p).collect()[0][0]
    exact = events.select("user_id").distinct().count()
    bound = 5 * 1.04 / (1 << (p // 2)) if p >= 6 else 1.5  # m=16 is coarse
    assert abs(est - exact) / exact <= bound
    sk = agg.sketch_by(events, "user_id", p=p).collect()[0]["sketch"]
    assert len(sketch.decode(sk)) == 1 << p


def test_zero_suffix_hash_rank_edge(spark):
    """A hash whose low 64-p bits are all zero (w = hash << p == 0) must
    contribute the capped maximal rank 64-p+1, and must NOT mask a larger
    rank... i.e. the min(w) aggregate's decode stays consistent with the
    per-row max(r) semantics on this edge (ADVICE r01)."""
    p = 14
    v_zero_suffix = 5 << (64 - p)          # j=5, w=0 -> r = 64-p+1 = 51
    # same j, one bit at position 64-p-3 -> w = 1<<61 -> clz=2 -> r=3
    v_small_rank = (5 << (64 - p)) | (1 << (64 - p - 3))
    df = spark.createDataFrame(
        [(v_zero_suffix,), (v_small_rank,)], "v long"
    )
    for impl in ("sql", "pandas"):
        sk = agg.sketch_by(
            df, "v", p=p, hash_mode="prehashed", impl=impl
        ).first()["sketch"]
        regs = sketch.decode(sk)
        assert regs[5] == 64 - p + 1, impl
        assert regs.sum() == 64 - p + 1, impl  # no other register touched


def test_approx_distinct_multi_all_null_column_is_zero(spark):
    """A value column that is entirely NULL within a key group reports 0.0,
    not NULL (pivot gap), while other columns keep real estimates."""
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, None), ("b", 3, "x")],
        "k string, u int, s string",
    )
    rows = {
        r["k"]: r
        for r in agg.approx_distinct_multi(df, ["u", "s"], ["k"], p=10).collect()
    }
    assert rows["a"]["distinct_s"] == 0.0
    assert rows["a"]["distinct_u"] > 0
    assert rows["b"]["distinct_s"] > 0


def test_approx_distinct_rollup_matches_sketch_rollup(spark, events):
    """The fused one-scan GROUPING SETS plan (native Expand + JVM estimate
    aggregate, zero Python) must produce the SAME estimates as the two-phase
    sketch_by -> sketch_rollup path.  Same registers either way; only the
    last-ULP of the linear-counting log may differ (JVM Math.log vs numpy
    libm), so compare at rel 1e-12 rather than exact equality."""
    ev = events.withColumn("day", F.to_date("ts"))
    fused = agg.approx_distinct_rollup(
        ev, "user_id", ["event_type", "day"], p=10
    ).collect()
    two_phase = agg.sketch_rollup(
        agg.sketch_by(ev, "user_id", ["event_type", "day"], p=10, impl="sql"),
        ["event_type", "day"],
    ).collect()

    def key(r):
        return (r["grouping_set_id"], str(r["event_type"]), str(r["day"]))

    got = {key(r): r["distinct_estimate"] for r in fused}
    want = {key(r): r["distinct_estimate"] for r in two_phase}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_approx_distinct_grouping_sets_gid_mapping(spark, events):
    """grouping_id() bitmask -> positional grouping_set_id mapping holds for
    non-rollup (arbitrary) set lists, including the reversed-key grain."""
    ev = events.withColumn("day", F.to_date("ts"))
    sets = [["day"], ["event_type", "day"], []]
    out = agg.approx_distinct_grouping_sets(
        ev, "user_id", sets, p=10
    ).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["grouping_set_id"], []).append(r)
    # gid 0 = [day]: event_type NULL, day set
    assert all(r["event_type"] is None and r["day"] is not None for r in by_gid[0])
    # gid 1 = [event_type, day]: both set
    assert all(
        r["event_type"] is not None and r["day"] is not None for r in by_gid[1]
    )
    # gid 2 = []: single global row
    assert len(by_gid[2]) == 1 and by_gid[2][0]["event_type"] is None


def test_approx_distinct_multi_explicit_pandas_raises(spark, events):
    """Explicitly requested impls that don't exist must error loudly, not
    silently rewrite (round-2 advice)."""
    with pytest.raises(ValueError, match="no pandas impl"):
        agg.approx_distinct_multi(events, ["user_id"], impl="pandas")


def test_approx_distinct_cube_matches_sketch_cube(spark, events):
    """Fused one-scan CUBE == two-phase sketch_cube estimates (rel 1e-12
    for the JVM-vs-numpy log ULP)."""
    ev = events.withColumn("day", F.to_date("ts"))
    fused = agg.approx_distinct_cube(
        ev, "user_id", ["event_type", "day"], p=10
    ).collect()
    two_phase = agg.sketch_cube(
        agg.sketch_by(ev, "user_id", ["event_type", "day"], p=10, impl="sql"),
        ["event_type", "day"],
    ).collect()

    def key(r):
        return (r["grouping_set_id"], str(r["event_type"]), str(r["day"]))

    got = {key(r): r["distinct_estimate"] for r in fused}
    want = {key(r): r["distinct_estimate"] for r in two_phase}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_rolling_distinct_matches_exact_window(spark, events):
    """7-day trailing rolling distinct: sketch merge-reuse plan equals the
    exact windowed COUNT DISTINCT within the 3-sigma bound, one row per
    day present in the data (partial head windows included)."""
    p = 12
    bound = 3 * 1.04 / (1 << (p // 2))
    got = {
        r["window_end"]: r["distinct_estimate"]
        for r in agg.rolling_distinct(events, "user_id", "ts", 7, p=p).collect()
    }
    ev = events.withColumn("day", F.to_date("ts"))
    ends = [r["day"] for r in ev.select("day").distinct().collect()]
    assert set(got) == set(ends)
    exact = {
        e: ev.where(
            (F.col("day") >= F.date_sub(F.lit(e), 6)) & (F.col("day") <= F.lit(e))
        )
        .select(F.countDistinct("user_id"))
        .first()[0]
        for e in ends
    }
    for e in ends:
        assert abs(got[e] - exact[e]) / exact[e] <= bound, e


def test_rolling_distinct_impls_agree(spark, events):
    """The jvm, sql and pandas rolling paths build the same sketches and
    share one window merge and estimate, so their estimates are equal; and
    the result is partition-invariant (the reference's merge-reordering
    guarantee, HyperLogLog.hpp:124-131): input at 1 and at 6 partitions
    gives the same estimates."""

    def rolled(impl, parts=None):
        ev = events if parts is None else events.repartition(parts)
        out = agg.rolling_distinct(
            ev, "user_id", "ts", 3, keys=["event_type"], p=10, impl=impl
        )
        return {
            (r["event_type"], r["window_end"]): r["distinct_estimate"]
            for r in out.collect()
        }

    want = rolled("jvm")
    assert want
    assert rolled("sql") == want
    assert rolled("pandas") == want
    assert rolled("jvm", 1) == rolled("jvm", 6) == want


def test_rolling_distinct_grouped_hour_bucket(spark, events):
    """Grouped rolling window at hour grain: window=1 degenerates to plain
    per-(key, hour) distinct — cross-checked against approx_distinct."""
    rolled = agg.rolling_distinct(
        events, "user_id", "ts", 1, keys=["event_type"], bucket="hour", p=10
    )
    base = agg.approx_distinct(
        events.withColumn("__h", F.date_trunc("hour", F.col("ts"))),
        "user_id",
        ["event_type", "__h"],
        p=10,
    )
    ra = {
        (r["event_type"], r["window_end"]): r["distinct_estimate"]
        for r in rolled.collect()
    }
    rb = {
        (r["event_type"], r["__h"]): r["distinct_estimate"]
        for r in base.collect()
    }
    assert ra.keys() == rb.keys()
    for k in ra:
        assert ra[k] == pytest.approx(rb[k], rel=1e-12)
