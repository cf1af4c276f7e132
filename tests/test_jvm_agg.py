"""JVM fast-path (hllspark.jvmagg + java/src/hllspark) parity tests.

The jvm impl must be a pure drop-in for impl='sql': byte-identical sketch
serialization, identical estimates, partition invariance.  The JVM sketch
codec (merge_sketches / with_estimate on a jar session) must match the
numpy codec of hllspark.sketch byte for byte, and both paths must agree on
NULL and error semantics.  Skipped when the pre-built jar is not loadable
in the test session.
"""

import struct

import numpy as np
import pyspark.sql.functions as F
import pytest

from hllspark import agg, hll, jvmagg, sketch
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_TEST}/events.parquet")


@pytest.fixture(autouse=True)
def _require_jvm(request, spark):
    # the codec_path='pandas' cases run as on a jar-less session anyway
    callspec = getattr(request.node, "callspec", None)
    if callspec is not None and callspec.params.get("codec_path") == "pandas":
        return
    if not jvmagg.is_available(spark):
        pytest.skip("hllspark-jvm.jar not on session classpath")


def test_default_impl_resolves_to_jvm(spark, events):
    assert agg._resolve_impl(events, "xxhash64", None) == "jvm"
    assert agg._resolve_impl(events, "farmhash", None) == "pandas"
    assert agg._resolve_impl(events, "xxhash64", "sql") == "sql"


@pytest.mark.parametrize("keys", [None, ["event_type"]])
@pytest.mark.parametrize("algo", ["hll", "hlll", "hllzstd"])
def test_jvm_sketch_byte_identical_to_sql(spark, events, keys, algo):
    def build(impl):
        rows = agg.sketch_by(
            events, "user_id", keys, p=10, algo=algo, impl=impl
        ).collect()
        if keys:
            return {r["event_type"]: bytes(r["sketch"]) for r in rows}
        return {None: bytes(rows[0]["sketch"])}

    assert build("jvm") == build("sql")


def test_jvm_estimate_equals_sql_estimate(spark, events):
    jv = {
        r["event_type"]: r["distinct_estimate"]
        for r in agg.approx_distinct(
            events, "user_id", ["event_type"], p=12, impl="jvm"
        ).collect()
    }
    # sketch-path estimate (numpy estimator over identical registers)
    sq = {
        r["event_type"]: r["distinct_estimate"]
        for r in agg.with_estimate(
            agg.sketch_by(events, "user_id", ["event_type"], p=12, impl="sql")
        ).collect()
    }
    assert jv == sq  # bit-identical doubles: same registers, same estimator


def test_jvm_partition_invariance(spark, events):
    outs = [
        bytes(
            agg.sketch_by(
                events.repartition(parts), "user_id", p=10, impl="jvm"
            ).first()["sketch"]
        )
        for parts in (1, 4, 16)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_jvm_zero_suffix_rank_edge(spark):
    p = 14
    df = spark.createDataFrame(
        [(5 << (64 - p),), ((5 << (64 - p)) | (1 << (64 - p - 3)),)], "v long"
    )
    regs = sketch.decode(
        agg.sketch_by(df, "v", p=p, hash_mode="prehashed", impl="jvm").first()[
            "sketch"
        ]
    )
    assert regs[5] == 64 - p + 1
    assert regs.sum() == 64 - p + 1


def test_jvm_empty_input_is_empty_sketch(spark):
    df = spark.createDataFrame([], "v long")
    est = agg.approx_distinct(df, "v", p=10, impl="jvm").collect()
    assert len(est) == 1 and est[0]["distinct_estimate"] == 0.0


def test_jvm_null_values_ignored(spark):
    df = spark.createDataFrame([(1,), (None,), (2,), (None,)], "v long")
    p = 12
    est = agg.approx_distinct(
        df, "v", p=p, impl="jvm"
    ).first()["distinct_estimate"]
    assert round(est) == 2  # linear-counting regime: exact


def test_regs_agg_column_matches_sql_registers(spark, events):
    """regs_agg_column (the raw register build perfbench times) produces
    the dense register bytes that impl='sql''s sketches decode to."""
    projected = events.where(F.col("user_id").isNotNull()).select(
        "event_type", F.xxhash64("user_id").alias("__h")
    )
    regs = {
        r["event_type"]: bytes(r["__regs"])
        for r in projected.groupBy("event_type").agg(
            jvmagg.regs_agg_column(spark, 12, "__h").alias("__regs")
        ).collect()
    }
    want = {
        r["event_type"]: sketch.decode(bytes(r["sketch"])).tobytes()
        for r in agg.sketch_by(
            events, "user_id", ["event_type"], p=12, impl="sql"
        ).collect()
    }
    assert regs == want


# ---------------------------------------------------------------------------
# sketch codec: JVM encode / decode / estimate vs the numpy codec
# ---------------------------------------------------------------------------

_M_BITS = [0, 1, 2, 3, 4, 5, 8, 16, 32]
_SOURCE_FORMATS = ["dense", "sparse", *(f"hlll{b}" for b in _M_BITS), "zstd", "v1"]
_TARGETS = [("hll", 3), *(("hlll", b) for b in _M_BITS)]
_GROUPED_TARGETS = [("hll", 3), ("hlll", 1), ("hlll", 3), ("hlll", 4)]


def _header(version, algo, p, extra=0):
    return struct.pack("<4sBBBB", sketch.MAGIC, version, algo, p, extra)


def _shapes(p, rng):
    """Register arrays of every shape the codec has a branch for."""
    m, cap = 1 << p, 64 - p + 1
    sparse = np.zeros(m, dtype=np.uint8)
    idx = rng.choice(m, size=max(1, m // 64), replace=False)
    sparse[idx] = rng.integers(1, cap + 1, idx.size)
    hashes = rng.integers(0, 2**63, size=4 * m, dtype=np.uint64) << np.uint64(1)
    return {
        "zero": np.zeros(m, dtype=np.uint8),
        "sparse": sparse,
        "geometric": hll.build_from_hashes(hashes, p),
        "uniform": rng.integers(0, cap + 1, m).astype(np.uint8),
        "saturated": np.full(m, cap, dtype=np.uint8),
    }


def _as_format(regs, fmt):
    """``regs`` serialized in source format ``fmt``, whatever encode_hll
    itself would choose (dense and sparse are both forced)."""
    p = regs.size.bit_length() - 1
    if fmt == "dense":
        return _header(2, sketch.ALGO_HLL, p) + regs.tobytes()
    if fmt == "v1":
        return _header(1, sketch.ALGO_HLL, p) + regs.tobytes()
    if fmt == "sparse":
        nz = np.flatnonzero(regs)
        pairs = (nz.astype(np.uint64) << np.uint64(6)) | regs[nz].astype(np.uint64)
        return (
            _header(2, sketch.ALGO_HLL, p, 1)
            + struct.pack("<I", nz.size)
            + sketch.pack_uints(pairs, p + 6)
        )
    if fmt == "zstd":
        return sketch.encode_zstd(regs)
    return sketch.encode_hlll(regs, int(fmt[len("hlll"):]))


@pytest.fixture(scope="module")
def codec_cases():
    """(case id, registers, sketch bytes): p 4-18 x 5 shapes x 13 formats."""
    rng = np.random.default_rng(7)
    cases = []
    for p in range(4, 19):
        for shape, regs in _shapes(p, rng).items():
            for fmt in _SOURCE_FORMATS:
                cases.append((f"{p}/{shape}/{fmt}", regs, _as_format(regs, fmt)))
    return cases


@pytest.fixture(scope="module")
def codec_df(spark, codec_cases):
    return spark.createDataFrame(
        [(cid, bytearray(buf)) for cid, _, buf in codec_cases],
        "case string, sketch binary",
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("algo,m_bits", _TARGETS)
def test_jvm_merge_reencodes_byte_identical(spark, codec_cases, codec_df,
                                            algo, m_bits):
    merged = agg.merge_sketches(codec_df, ["case"], algo=algo, m_bits=m_bits)
    assert "Python" not in _plan(merged)  # decode + re-encode in the JVM
    got = {r["case"]: bytes(r["sketch"]) for r in merged.collect()}
    want = {cid: sketch.encode(regs, algo, m_bits) for cid, regs, _ in codec_cases}
    assert len(got) == len(want)
    bad = [cid for cid in want if got[cid] != want[cid]]
    assert not bad, bad[:5]


def test_jvm_estimate_matches_numpy(spark, codec_cases, codec_df):
    est = agg.with_estimate(codec_df)
    assert "Python" not in _plan(est)
    got = {r["case"]: r["distinct_estimate"] for r in est.collect()}
    for cid, regs, _ in codec_cases:
        # saturated small-p registers overflow the range correction: NaN
        with np.errstate(invalid="ignore"):
            want = hll.estimate(regs)
        assert got[cid] == pytest.approx(want, rel=1e-12, abs=0, nan_ok=True), cid


def _check_grouped_merge(spark, algo, m_bits, shape_names):
    """Each group holds sketches of the ``shape_names`` shapes, each in a
    different source format; the merge is their register max re-encoded,
    and does not depend on how the rows are partitioned."""
    rng = np.random.default_rng(11)
    rows, want = [], {}
    for p in (4, 10, 14, 18):
        for g in range(3):
            key = f"{p}/{g}"
            shapes = [r for name, r in _shapes(p, rng).items() if name in shape_names]
            fmts = rng.permutation(_SOURCE_FORMATS)[: len(shapes)]
            rows += [(key, bytearray(_as_format(r, f))) for r, f in zip(shapes, fmts)]
            want[key] = sketch.encode(np.maximum.reduce(shapes), algo, m_bits)
    df = spark.createDataFrame(rows, "k string, sketch binary")
    outs = [
        {
            r["k"]: bytes(r["sketch"])
            for r in agg.merge_sketches(
                df.repartition(parts), ["k"], algo=algo, m_bits=m_bits
            ).collect()
        }
        for parts in (1, 7)
    ]
    assert outs[0] == want
    assert outs[1] == want


@pytest.mark.parametrize("algo,m_bits", _GROUPED_TARGETS)
def test_jvm_grouped_merge_of_mixed_formats(spark, algo, m_bits):
    _check_grouped_merge(
        spark, algo, m_bits, {"zero", "sparse", "geometric", "uniform", "saturated"}
    )


@pytest.mark.parametrize("algo,m_bits", _GROUPED_TARGETS)
def test_jvm_grouped_merge_without_saturated(spark, algo, m_bits):
    """Every group above contains the saturated shape, so its expected max
    is all-saturated and would hide a decode that raises a register."""
    _check_grouped_merge(spark, algo, m_bits, {"zero", "sparse", "geometric", "uniform"})


@pytest.mark.parametrize("algo,m_bits", [("hll", 3), ("hlll", 3)])
def test_jvm_hlll_base_above_zero_exceptions_merge_into_zero(spark, algo, m_bits):
    """An HLLL sketch with base > 0 whose exceptions are zero registers:
    merged into a zero accumulator, the zero slots must stay zero (base is
    not folded into exception slots)."""
    p = 10
    rng = np.random.default_rng(5)
    regs = rng.integers(6, 10, 1 << p).astype(np.uint8)
    regs[rng.choice(1 << p, size=40, replace=False)] = 0
    buf = sketch.encode_hlll(regs, 3)
    base, ns = struct.unpack_from("<BI", buf, 8)
    assert base == 6 and ns == 40
    df = _sketch_rows(spark, [(1, buf)])
    got = agg.merge_sketches(df, ["k"], algo=algo, m_bits=m_bits).first()
    assert bytes(got["sketch"]) == sketch.encode(regs, algo, m_bits)
    est = agg.with_estimate(df).first()["distinct_estimate"]
    assert est == pytest.approx(hll.estimate(regs), rel=1e-12)


# ---------------------------------------------------------------------------
# sketch_by's partial build (HllSketchPartials + HllSketchMergeAggregator)
# ---------------------------------------------------------------------------

def _key_bits(v):
    """A key value with floats as their bit patterns, so 0.0 and -0.0, and
    NaNs of different payloads, compare apart; rows (struct keys) field by
    field."""
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, tuple):
        return tuple(_key_bits(x) for x in v)
    return v


def _sketches(df, keys):
    """{key bits: sketch bytes}; a key output twice fails."""
    rows = df.collect()
    out = {tuple(_key_bits(r[k]) for k in keys): bytes(r["sketch"]) for r in rows}
    assert len(out) == len(rows), "a key was output twice"
    return out


def _group_by_keys(df, keys):
    return {tuple(_key_bits(r[k]) for k in keys) for r in df.groupBy(*keys).count().collect()}


@pytest.fixture(scope="module")
def keyed(spark):
    """Rows with a nullable string key, an int key, a binary key and a few
    null values, spread over several partitions."""
    rng = np.random.default_rng(3)
    rows = []
    for i in range(3000):
        k = int(rng.integers(0, 9))
        rows.append((
            None if k == 0 else f"k{k}",
            i % 4,
            bytearray(b"b%d" % (k % 5)),
            None if i % 97 == 0 else int(rng.integers(0, 2000)),
        ))
    return spark.createDataFrame(rows, "s string, n int, b binary, v long").repartition(5)


@pytest.mark.parametrize("keys", [["s"], []])
def test_partials_plan_has_no_python_and_no_row_aggregate(spark, keyed, keys):
    """No Python and no aggregate over the hashes.  Keyed, the plan is the
    stream merge's one RDD scan, with no ObjectHashAggregate (its input,
    the partials exchanged and sorted by key, is planned at the first
    action).  Key-less, it is the partial step's scan (the empty seed
    sketch is a literal, not a Python RDD) and the merge aggregate."""
    plan = _plan(agg.sketch_by(keyed, "v", keys, p=12, algo="hlll", impl="jvm"))
    assert "Python" not in plan
    assert plan.count("ExistingRDD") == 1, plan
    aggs = [line for line in plan.splitlines() if "ObjectHashAggregate" in line]
    if keys:
        assert not aggs, plan
    else:
        assert aggs and all("hllspark_merge_hlll_3" in line for line in aggs), plan
    assert agg._HASH_COL not in plan


@pytest.mark.parametrize("keys", [["s"], ["b"], ["s", "n"], ["b", "n", "s"]])
def test_partials_keys_byte_identical_to_sql(spark, keyed, keys):
    """Null keys form a group; binary keys group by content; multi-column
    keys."""
    def build(impl):
        return _sketches(agg.sketch_by(keyed, "v", keys, p=10, algo="hlll", impl=impl), keys)

    got = build("jvm")
    assert got == build("sql")
    if keys == ["s"]:
        assert (None,) in got


def test_partials_forced_flush_byte_identical(spark, keyed):
    """With the fallback threshold at 1 the register budget is 2^18 B, one
    p = 18 buffer, so the map flushes after every row; the merged sketches
    cannot tell."""
    p, keys = 18, ["s", "n"]
    conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        projected = keyed.where(F.col("v").isNotNull()).select(
            *keys, F.xxhash64("v").alias(agg._HASH_COL)
        )
        n_partials = jvmagg.sketch_partials(projected, p, "sketch").count()
        got = _sketches(agg.sketch_by(keyed, "v", keys, p=p, algo="hlll", impl="jvm"), keys)
    finally:
        spark.conf.set(conf, old)
    assert n_partials == projected.count()
    assert got == _sketches(agg.sketch_by(keyed, "v", keys, p=p, algo="hlll", impl="sql"), keys)


def test_partials_budget_counts_keys_and_entries_at_low_p(spark):
    """At p = 4 a group's registers are 16 B; its key and map entry cost
    more, and the budget counts them.  One task reads keys 0..n-1 twice:
    with the fallback threshold at 1 (a 2^18 B budget, 16384 register
    buffers) the map flushes before any key repeats, so every row is its
    own partial; at the default threshold it holds all n groups."""
    n, p = 4000, 4
    projected = spark.range(0, 2 * n, numPartitions=1).select(
        (F.col("id") % n).alias("k"), F.xxhash64("id").alias(agg._HASH_COL)
    )
    conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "1")
        flushed = jvmagg.sketch_partials(projected, p, "sketch")
        n_flushed = flushed.count()
        got = _sketches(agg.merge_sketches(flushed, ["k"]), ["k"])
    finally:
        spark.conf.set(conf, old)
    assert n_flushed == 2 * n
    assert jvmagg.sketch_partials(projected, p, "sketch").count() == n
    want = _sketches(
        agg.sketch_by(projected.withColumnRenamed(agg._HASH_COL, "h"), "h", ["k"],
                      p=p, hash_mode="prehashed", impl="sql"),
        ["k"],
    )
    assert got == want


def test_partials_build_runs_nothing_until_an_action(spark, keyed):
    """Over an input with a shuffle (adaptive execution runs its stages
    when the plan is executed), sketch_by and explain start no job; the
    first action runs the input and the build."""
    sc = spark.sparkContext
    shuffled = keyed.groupBy("s", "n").agg(F.max("v").alias("v"))
    group = "hllspark-partials-lazy"
    sc.setJobGroup(group, "lazy build")
    try:
        built = agg.sketch_by(shuffled, "v", ["s"], p=10, algo="hlll", impl="jvm")
        built.explain()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = _sketches(built, ["s"])
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _sketches(
        agg.sketch_by(shuffled, "v", ["s"], p=10, algo="hlll", impl="sql"), ["s"]
    )


@pytest.mark.parametrize("impl", ["jvm", "pandas"])
def test_partials_merge_byte_identical_to_sql(spark, keyed, impl):
    """Both partial plans merge the partials of a multi-column key, one
    per (key, partition), to impl='sql''s sketches."""
    keys = ["s", "n"]

    def build(impl):
        return _sketches(agg.sketch_by(keyed, "v", keys, p=10, algo="hlll", impl=impl), keys)

    assert build(impl) == build("sql")


_NAN2 = struct.unpack(">d", bytes.fromhex("7ff8000000000001"))[0]


@pytest.fixture(scope="module")
def float_keyed(spark):
    """A double key over 0.0, -0.0, NaN under two bit patterns, NULL and
    2.5, and a struct key holding it, spread round-robin over 5
    partitions."""
    values = [0.0, -0.0, float("nan"), _NAN2, None, 2.5]
    rows = [(values[i % len(values)], i) for i in range(1200)]
    df = spark.createDataFrame(rows, "d double, v long").repartition(5)
    return df.withColumn("s", F.struct(F.col("d").alias("x"), (F.col("v") % 2).alias("y")))


@pytest.mark.parametrize("keys", [["d"], ["s"], ["s", "d"]])
def test_float_keys_merge_like_group_by(spark, float_keyed, keys):
    """The stream merge groups by a hash exchange and a sort, which do not
    normalize floats as groupBy does; sketch_by normalizes its keys first,
    so its key set (bit for bit: 0.0, one NaN) is groupBy's and the
    sketches are impl='sql''s."""
    got = _sketches(agg.sketch_by(float_keyed, "v", keys, p=10, algo="hlll", impl="jvm"), keys)
    assert set(got) == _group_by_keys(float_keyed, keys)
    assert got == _sketches(agg.sketch_by(float_keyed, "v", keys, p=10, algo="hlll", impl="sql"), keys)


def test_float_keys_output_normalized(spark):
    """Only -0.0 and a non-canonical NaN: groupBy outputs 0.0 and the
    canonical NaN, and so does sketch_by, whichever rows reach a reducer
    first."""
    rows = [(-0.0 if i % 2 else _NAN2, i) for i in range(200)]
    df = spark.createDataFrame(rows, "d double, v long").repartition(4)
    want = {(struct.pack(">d", 0.0).hex(),), (struct.pack(">d", float("nan")).hex(),)}
    assert _group_by_keys(df, ["d"]) == want
    for impl in ("jvm", "pandas"):
        assert set(_sketches(agg.sketch_by(df, "v", ["d"], p=8, impl=impl), ["d"])) == want


_KINDS = ("cpc", "kmv", "priority")


def _build(impl, df, keys):
    """sketch_by of ``v`` under ``impl``, or one of _KINDS through
    sketches.generic: cpc (a GroupedState kind), kmv (a sorted-segment
    kind) or the priority sample of (v, w), three value columns."""
    from hllspark.sketches import cpc, generic, kmv, priority

    if impl == "cpc":
        return generic.sketch_agg(df, "v", cpc.kind(256), keys)
    if impl == "kmv":
        return generic.sketch_agg(df, "v", kmv.kind(32), keys)
    if impl == "priority":
        return priority.sample_agg(df, "v", "w", 8, keys, seed=1)
    return agg.sketch_by(df, "v", keys, p=8, impl=impl)


@pytest.mark.parametrize("impl,jar", [("sql", True), ("sql", False), ("pandas", True),
                                      ("pandas", False), ("jvm", True),
                                      *[(k, True) for k in _KINDS]])
def test_nan_key_is_its_own_group(spark, monkeypatch, impl, jar):
    """On k double over NaN, NULL and 2.0, every plan and every kind built
    through sketches.generic returns groupBy's three keys and the sketches
    of those three groups.  Keys that cross pandas lose NaN to NULL, so no
    plan sends them through it as floats."""
    rows = [(k, i, 1.0 + i % 5) for i, k in enumerate([float("nan"), None, 2.0] * 40)]
    df = spark.createDataFrame(rows, "k double, v long, w double").repartition(4)
    if not jar:  # as on a session without the jar
        monkeypatch.setattr(jvmagg, "is_available", lambda _spark: False)
    got = _sketches(_build(impl, df, ["k"]), ["k"])
    assert set(got) == _group_by_keys(df, ["k"])
    # the same groups under an int code, which no plan can confuse
    code = F.when(F.isnan("k"), 0).when(F.col("k").isNull(), 1).otherwise(2)
    ref = impl if impl in _KINDS else "sql"
    by_code = _sketches(_build(ref, df.withColumn("c", code), ["c"]), ["c"])
    nan, two = (struct.pack(">d", x).hex() for x in (float("nan"), 2.0))
    assert got == {(nan,): by_code[(0,)], (None,): by_code[(1,)], (two,): by_code[(2,)]}


@pytest.mark.parametrize("jar", [True, False])
def test_pandas_struct_key_matches_sql(spark, monkeypatch, jar):
    """A struct key reaches pandas as dicts, which pandas cannot group on;
    impl='pandas' groups on a hashable view of the key values and returns
    the key rows as they came, so its sketches are impl='sql''s, NULL
    structs, NULL fields and a NaN field (which pandas would hold as
    NULL) included."""
    xs = (0.0, float("nan"), 2.0)
    rows = [(None if i % 7 == 0 else (xs[i % 3], None if i % 5 == 0 else i % 2), i)
            for i in range(300)]
    df = spark.createDataFrame(rows, "s struct<x double, y int>, v long").repartition(3)
    if not jar:  # as on a session without the jar
        monkeypatch.setattr(jvmagg, "is_available", lambda _spark: False)
    got = _sketches(agg.sketch_by(df, "v", ["s"], p=8, impl="pandas"), ["s"])
    assert set(got) == _group_by_keys(df, ["s"]) and len(got) == 10
    assert got == _sketches(agg.sketch_by(df, "v", ["s"], p=8, impl="sql"), ["s"])


@pytest.mark.parametrize("kind", _KINDS)
def test_generic_struct_key_groups_like_group_by(spark, kind):
    """Struct keys (NULL structs, NULL fields, a NaN field) build for every
    kind through sketches.generic, as groupBy's groups, each the sketch of
    its rows alone (checked against the same build keyed by the struct's
    JSON text)."""
    xs = (0.0, float("nan"), 2.0)
    rows = [(None if i % 7 == 0 else (xs[i % 3], None if i % 5 == 0 else i % 2), i, 1.0 + i % 3)
            for i in range(300)]
    df = spark.createDataFrame(rows, "s struct<x double, y int>, v long, w double").repartition(3)
    got = _build(kind, df, ["s"])
    assert got.count() == df.groupBy("s").count().count() == 10
    got = {r["j"]: bytes(r["sketch"]) for r in got.select(F.to_json("s").alias("j"), "sketch").collect()}
    by_json = _build(kind, df.withColumn("j", F.to_json("s")), ["j"])
    assert got == {r["j"]: bytes(r["sketch"]) for r in by_json.collect()}


def test_merge_keys_group_like_group_by(spark):
    """Keys the sort calls equal but whose bytes differ (a case-insensitive
    collation) fold into one group; map keys, which groupBy takes and no
    sort does, keep the aggregate merge."""
    rows = [("a", {"a": 1, "b": i % 3}, i) for i in range(60)]
    rows += [("A", {"b": i % 3, "a": 1}, i) for i in range(60, 120)]
    df = spark.createDataFrame(rows, "s string, m map<string, int>, v long").repartition(4)
    lcase = df.withColumn("s", F.col("s").cast("string collate UTF8_LCASE"))
    got = agg.sketch_by(lcase, "v", ["s"], p=8, impl="jvm").collect()
    assert len(got) == 1
    assert bytes(got[0]["sketch"]) == bytes(agg.sketch_by(df, "v", p=8, impl="jvm").first()["sketch"])

    def by_map(impl):
        return {
            tuple(sorted(r["m"].items())): bytes(r["sketch"])
            for r in agg.sketch_by(df, "v", ["m"], p=8, impl=impl).collect()
        }

    got = by_map("jvm")
    assert len(got) == 3 and got == by_map("sql")


@pytest.mark.parametrize("impl", ["jvm", "pandas"])
@pytest.mark.parametrize("algo,m_bits", [("hll", 3), ("hlll", 0), ("hlll", 3), ("hllzstd", 3)])
def test_partials_keyless_empty_input_is_empty_sketch(spark, algo, m_bits, impl):
    df = spark.createDataFrame([], "v long")
    rows = agg.sketch_by(df, "v", p=10, algo=algo, m_bits=m_bits, impl=impl).collect()
    assert len(rows) == 1
    assert bytes(rows[0]["sketch"]) == sketch.encode(hll.empty(10), algo, m_bits)


# ---------------------------------------------------------------------------
# edge semantics, the same on the JVM and the numpy (no-jar) path
# ---------------------------------------------------------------------------

@pytest.fixture(params=["jvm", "pandas"])
def codec_path(request, monkeypatch):
    """'pandas' runs the operators as on a session without the jar."""
    if request.param == "pandas":
        monkeypatch.setattr(jvmagg, "is_available", lambda _spark: False)
    return request.param


def _sketch_rows(spark, rows):
    return spark.createDataFrame(
        [(k, None if b is None else bytearray(b)) for k, b in rows],
        "k int, sketch binary",
    )


@pytest.mark.parametrize("algo", ["hll", "hlll", "hllzstd"])
def test_merge_all_null_group_is_null(spark, codec_path, algo):
    regs = hll.build_from_hashes(np.arange(1, 50, dtype=np.uint64) << np.uint64(40), 8)
    df = _sketch_rows(spark, [(1, None), (1, None), (2, sketch.encode(regs)), (2, None)])
    got = {
        r["k"]: r["sketch"]
        for r in agg.merge_sketches(df, ["k"], algo=algo).collect()
    }
    assert got[1] is None
    assert bytes(got[2]) == sketch.encode(regs, algo)


def test_estimate_of_null_sketch_is_null(spark, codec_path):
    regs = hll.build_from_hashes(np.arange(1, 50, dtype=np.uint64) << np.uint64(40), 8)
    df = _sketch_rows(spark, [(1, None), (2, sketch.encode(regs))])
    got = {r["k"]: r["distinct_estimate"] for r in agg.with_estimate(df).collect()}
    assert got[1] is None
    assert got[2] == pytest.approx(hll.estimate(regs), rel=1e-12)


def test_merge_of_different_p_raises(spark, codec_path):
    df = _sketch_rows(
        spark,
        [(1, sketch.encode(hll.empty(8))), (1, sketch.encode(hll.empty(10)))],
    )
    with pytest.raises(Exception):
        agg.merge_sketches(df.repartition(1), ["k"]).collect()
    with pytest.raises(Exception):
        agg.merge_sketches(df.repartition(2)).collect()


@pytest.mark.parametrize("algo", ["hll", "hlll", "hllzstd"])
def test_keyless_empty_build_is_empty_sketch(spark, codec_path, algo):
    """sketch_by over no rows and no keys is one empty sketch on every
    plan, whichever merge (the jar's or the pandas one) runs."""
    df = spark.createDataFrame([], "v long")
    for impl in ("pandas", "sql"):
        rows = agg.sketch_by(df, "v", p=10, algo=algo, impl=impl).collect()
        assert [bytes(r["sketch"]) for r in rows] == [sketch.encode(hll.empty(10), algo)], impl


def test_empty_no_key_merge(spark, codec_path):
    """A key-less merge of no rows is one NULL row on every plan: the
    jar's aggregate, the pandas GROUPED_AGG (no jar), and an 'hllzstd'
    target, which the pandas UDF merges on a jar session too."""
    for algo in ("hll", "hllzstd"):
        rows = agg.merge_sketches(_sketch_rows(spark, []), algo=algo).collect()
        assert [r["sketch"] for r in rows] == [None], algo


def test_jvm_bad_header_raises(spark):
    good = sketch.encode(hll.empty(8))
    for bad in (b"XXXX" + good[4:], good[:4] + bytes([9]) + good[5:], good[:5]):
        df = _sketch_rows(spark, [(1, bad)])
        with pytest.raises(Exception):
            agg.with_estimate(df).collect()
        with pytest.raises(Exception):
            agg.merge_sketches(df, ["k"]).collect()
