"""`measure` CLI — the reference's primary entry point, reimplemented.

Same surface as the reference binary (measure.cpp:284-371):

    python -m hllspark.measure <mode> <algorithm> <datatype> <m> <n>
                               [--flags F] [--len L] [--engine E]

    mode       query | merge
    algorithm  hyperloglog | hyperloglogzstd | hyperlogloglog | hashonly
    datatype   uint64 | str | jr        (read from stdin in the reference
                                         wire format — io.wire_decode_*)
    m          number of registers (power of two)
    n          number of items to read
    --flags    default | appendonly | increaseonly | appendincreaseonly |
               bottom                  (hyperlogloglog only)
    --len      string length for datatype=str
    --engine   numpy (default) | statemachine | spark

Protocol parity (measure.cpp:154-232): ingest is untimed; `query` times
the add loop; `merge` builds half-sketches untimed and times only the
merge; the report is the same five `key value` lines
(time/estimate/bitsize/compressCount/rebaseCount).

Engines:
- numpy:        vectorized core (the same kernels the Spark UDFs run);
                HLLL compression applied at the reporting boundary, which
                the reference proves state-equivalent (test.cpp:1078-1126)
                — compressCount/rebaseCount reported as 1/0.
- statemachine: the exact sequential HLLL add/compress/rebase automaton
                (hlll.HLLLStateMachine) with faithful counters; slow, for
                protocol/golden comparison at small n.
- spark:        the distributed path on local[*] via agg.sketch_from_jr /
                sketch_by equivalents; demonstrates CLI-to-cluster parity.
"""

from __future__ import annotations

import argparse
import sys
import time

import numpy as np

from . import hashing, hll, hlll, io as hio, sketch

_FLAGS = {
    "default": hlll.COMPRESS_DEFAULT,
    "appendonly": hlll.COMPRESS_WHEN_APPEND,
    "increaseonly": hlll.COMPRESS_TYPE_INCREASE,
    "appendincreaseonly": hlll.COMPRESS_WHEN_APPEND | hlll.COMPRESS_TYPE_INCREASE,
    "bottom": hlll.COMPRESS_BOTTOM,
}
_ALGO_TO_FMT = {
    "hyperloglog": "hll",
    "hyperlogloglog": "hlll",
    "hyperloglogzstd": "hllzstd",
}


def _report(seconds: float, estimate: float, bitsize: int,
            compress_count: int, rebase_count: int) -> None:
    # identical 5-line format, measure.cpp:154-166
    print(f"time {seconds:g}")
    print(f"estimate {estimate:f}")
    print(f"bitsize {bitsize}")
    print(f"compressCount {compress_count}")
    print(f"rebaseCount {rebase_count}")


def _read_stdin(dt: str, n: int, length: int):
    """Untimed ingest of the reference wire format (measure.hpp:16-67);
    read time goes to stderr only, like the reference."""
    t0 = time.perf_counter()
    buf = sys.stdin.buffer.read(
        n * (8 if dt == "uint64" else length if dt == "str" else 8)
    )
    if dt == "uint64":
        data = hio.wire_decode_uint64(buf)
    elif dt == "str":
        data = hio.wire_decode_str(buf, length)
    else:
        data = hio.wire_decode_jr(buf)
    print(f"data reading took {time.perf_counter() - t0:g}", file=sys.stderr)
    return data


def _hashes_for(dt: str, data) -> np.ndarray:
    if dt == "uint64":
        return hashing.fingerprint64(data)
    return hashing.farmhash64(np.array(data, dtype=object))


def _registers_from(dt: str, data, p: int) -> np.ndarray:
    M = hll.empty(p)
    if dt == "jr":
        j, r = data
        np.maximum.at(M, j.astype(np.int64), np.minimum(r, 63).astype(np.uint8))
        return M
    return hll.update_hashes(M, _hashes_for(dt, data))


def _numpy_query(args, p, dt, data, flags):
    t0 = time.perf_counter()
    if args.algorithm == "hashonly":
        _hashes_for(dt, data)
        _report(time.perf_counter() - t0, 0.0, 0, 0, 0)
        return
    M = _registers_from(dt, data, p)
    seconds = time.perf_counter() - t0
    _finish(args, M, seconds)


def _numpy_merge(args, p, dt, data, flags):
    if dt == "jr":
        j, r = data
        half = len(j) // 2
        a, b = (j[:half], r[:half]), (j[half:], r[half:])
    else:
        half = len(data) // 2
        a, b = data[:half], data[half:]
    M1 = _registers_from(dt, a, p)
    M2 = _registers_from(dt, b, p)
    t0 = time.perf_counter()
    M = hll.merge(M1, M2)
    seconds = time.perf_counter() - t0
    _finish(args, M, seconds)


def _finish(args, M: np.ndarray, seconds: float) -> None:
    fmt = _ALGO_TO_FMT[args.algorithm]
    buf = sketch.encode(M, fmt)
    # boundary compression: one compress, no rebase (numpy engine)
    cc, rc = (1, 0) if fmt == "hlll" else (0, 0)
    _report(seconds, float(hll.estimate(M)), sketch.bit_size(buf), cc, rc)


def _statemachine(args, p, dt, data, flags, mode):
    m = 1 << p
    if dt == "jr":
        j, r = data
        pairs = list(zip(j.tolist(), r.tolist()))
    else:
        xs = _hashes_for(dt, data)
        jj, rr = hashing.jr_from_hash(xs, p)
        pairs = list(zip(jj.tolist(), rr.tolist()))
    if mode == "query":
        sm = hlll.HLLLStateMachine(m, 3, flags)
        t0 = time.perf_counter()
        for j_, r_ in pairs:
            sm.add_jr(int(j_), int(r_))
        seconds = time.perf_counter() - t0
    else:
        half = len(pairs) // 2
        s1 = hlll.HLLLStateMachine(m, 3, flags)
        s2 = hlll.HLLLStateMachine(m, 3, flags)
        for j_, r_ in pairs[:half]:
            s1.add_jr(int(j_), int(r_))
        for j_, r_ in pairs[half:]:
            s2.add_jr(int(j_), int(r_))
        t0 = time.perf_counter()
        sm = s1.merge(s2)
        seconds = time.perf_counter() - t0
    _report(seconds, sm.estimate(), sm.bit_size(),
            sm.compress_count, sm.rebase_count)


def _cpc(args, dt, data, mode):
    """CPC coupon-sketch baseline (§2.6; reference vendored DataSketches
    CPC, datasketches/measure.cpp:161-169).  Same 5-line protocol with
    bitsize = the ENUMERATIVE wire format (encode_entropy, round 4 — an
    actual entropy coder, provably at-or-below the per-column entropy
    bound plus the gamma'd counts), plus a 6th line `cpcEntropyBits` —
    the first-order entropy bound itself — so the size column compares
    apples-to-apples against the reference's arithmetic-coded CPC
    numbers AND the bound-vs-achieved gap is visible per run."""
    from .sketches import cpc as _cpcmod

    k = args.m  # registers -> coupon rows
    if mode == "query":
        st = _cpcmod.zero(k)
        t0 = time.perf_counter()
        st = _cpcmod.update(st, data)
        seconds = time.perf_counter() - t0
    else:
        half = len(data) // 2
        s1 = _cpcmod.update(_cpcmod.zero(k), data[:half])
        s2 = _cpcmod.update(_cpcmod.zero(k), data[half:])
        t0 = time.perf_counter()
        st = _cpcmod.merge(s1, s2)
        seconds = time.perf_counter() - t0
    _report(
        seconds,
        _cpcmod.estimate(st),
        8 * len(_cpcmod.encode_entropy(st)),
        0,
        0,
    )
    print(f"cpcEntropyBits {_cpcmod.entropy_bound_bits(st)}")


def _spark_baseline(args, p, dt, data, mode):
    """Comparison baselines through the same CLI protocol — the reference
    ships these as separate binaries (datasketches/measure.cpp,
    zetasketch Measure.java): apache-hll = Spark's DataSketches
    hll_sketch_agg/hll_union; hllpp = approx_count_distinct (HLL++, the
    ZetaSketch analogue, sketch bytes not exposed -> bitsize 0)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from . import conf

    spark = conf.configured_builder("hllspark-measure-baseline").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if dt == "uint64":
        pdf = pd.DataFrame({"v": np.asarray(data, dtype=np.uint64).view(np.int64)})
    else:
        pdf = pd.DataFrame({"v": list(data)})
    df = spark.createDataFrame(pdf).cache()
    df.count()
    lg = min(max(p, 4), 21)
    t0 = time.perf_counter()
    if args.algorithm == "hllpp":
        est = float(df.agg(F.approx_count_distinct("v")).collect()[0][0])
        bits = 0
    elif mode == "query":
        row = df.agg(
            F.expr(f"hll_sketch_agg(v, {lg})").alias("s")
        ).select(
            F.expr("hll_sketch_estimate(s)").alias("e"), F.length("s").alias("b")
        ).collect()[0]
        est, bits = float(row["e"]), int(row["b"]) * 8
    else:
        parity = F.xxhash64("v") % 2 == 0
        halves = df.select(
            F.when(parity, F.lit(0)).otherwise(F.lit(1)).alias("h"), "v"
        ).groupBy("h").agg(F.expr(f"hll_sketch_agg(v, {lg})").alias("s"))
        row = halves.agg(F.expr("hll_union_agg(s)").alias("u")).select(
            F.expr("hll_sketch_estimate(u)").alias("e"), F.length("u").alias("b")
        ).collect()[0]
        est, bits = float(row["e"]), int(row["b"]) * 8
    seconds = time.perf_counter() - t0
    _report(seconds, est, bits, 0, 0)
    spark.stop()


def _spark(args, p, dt, data, mode):
    from . import agg, conf

    spark = conf.configured_builder("hllspark-measure").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import pandas as pd

    if dt == "jr":
        j, r = data
    else:
        # exact reference hash chain (farmhash/fingerprint -> fibonacci j,
        # clz r) applied vectorized, then the jr register path — parity
        # with the numpy engine is estimate-exact
        j, r = hashing.jr_from_hash(_hashes_for(dt, data), p)
    df = spark.createDataFrame(
        pd.DataFrame({"j": np.asarray(j, "int64"), "r": np.asarray(r, "int64")})
    )
    build = lambda d: agg.sketch_from_jr(d, p=p, algo=_ALGO_TO_FMT[args.algorithm])
    df = df.cache()
    df.count()
    t0 = time.perf_counter()
    if mode == "query":
        buf = build(df).collect()[0]["sketch"]
    else:
        from pyspark.sql import functions as F

        # two-way split of the multiset by hash parity (the reference's
        # first-half/second-half split is order-based; any partition of the
        # items yields the same merged registers since merge == union-fed).
        # The timed span covers halves + merge + collect in one plan
        # (documented deviation from the reference's merge-only clock).
        parity = F.xxhash64(*df.columns) % 2 == 0
        s1 = build(df.where(parity))
        s2 = build(df.where(~parity))
        both = s1.unionByName(s2)
        buf = agg.merge_sketches(both, algo=_ALGO_TO_FMT[args.algorithm]).collect()[0]["sketch"]
    seconds = time.perf_counter() - t0
    M = sketch.decode(buf)
    cc, rc = (1, 0) if _ALGO_TO_FMT[args.algorithm] == "hlll" else (0, 0)
    _report(seconds, float(hll.estimate(M)), sketch.bit_size(buf), cc, rc)
    spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m hllspark.measure")
    ap.add_argument("mode", choices=["query", "merge"])
    ap.add_argument(
        "algorithm",
        choices=[
            "hyperloglog", "hyperloglogzstd", "hyperlogloglog", "hashonly",
            "apache-hll", "hllpp",  # comparison baselines (§2.6), spark-only
            "cpc",  # coupon sketch baseline (§2.6); reports a 6th line
                    # `cpcEntropyBits` = arithmetic-coder size bound
        ],
    )
    ap.add_argument("datatype", choices=["uint64", "str", "jr"])
    ap.add_argument("m", type=int)
    ap.add_argument("n", type=int)
    ap.add_argument("--flags", default="default", choices=sorted(_FLAGS))
    ap.add_argument("--len", type=int, default=0, dest="length")
    ap.add_argument(
        "--engine", default="numpy", choices=["numpy", "statemachine", "spark"]
    )
    args = ap.parse_args(argv)

    # same CLI validations as measure.cpp:330-343
    if args.m & (args.m - 1) or args.m <= 0:
        print("m must be a power of two!", file=sys.stderr)
        return 1
    if args.mode == "merge" and args.algorithm == "hashonly":
        print("hashonly does not support merging!", file=sys.stderr)
        return 1
    if args.algorithm == "hashonly" and args.datatype == "jr":
        print("hashonly does not support jr datatype!", file=sys.stderr)
        return 1
    if args.datatype == "str" and args.length <= 0:
        print("--len required for datatype=str", file=sys.stderr)
        return 1
    if args.flags != "default" and args.algorithm != "hyperlogloglog":
        print("flags only apply to hyperlogloglog", file=sys.stderr)
        return 1

    p = args.m.bit_length() - 1
    flags = _FLAGS[args.flags]
    data = _read_stdin(args.datatype, args.n, args.length)

    if args.algorithm == "cpc":
        if args.datatype == "jr":
            print("cpc does not support jr datatype!", file=sys.stderr)
            return 1
        _cpc(args, args.datatype, data, args.mode)
        return 0

    if args.algorithm in ("apache-hll", "hllpp"):
        if args.datatype == "jr":
            print(f"{args.algorithm} does not support jr datatype!", file=sys.stderr)
            return 1
        if args.mode == "merge" and args.algorithm == "hllpp":
            print("hllpp does not support merging!", file=sys.stderr)
            return 1
        _spark_baseline(args, p, args.datatype, data, args.mode)
        return 0

    if args.engine == "statemachine":
        if args.algorithm != "hyperlogloglog":
            print("statemachine engine is hyperlogloglog-only", file=sys.stderr)
            return 1
        _statemachine(args, p, args.datatype, data, flags, args.mode)
    elif args.engine == "spark":
        _spark(args, p, args.datatype, data, args.mode)
    elif args.mode == "query":
        _numpy_query(args, p, args.datatype, data, flags)
    else:
        _numpy_merge(args, p, args.datatype, data, flags)
    return 0


if __name__ == "__main__":
    sys.exit(main())
