"""N -> 4N scaling probe: the same job on the same input at two local
parallelism levels, each in a fresh worker JVM.

Protocol (BASELINE.md "Scaling-efficiency protocol"):
- levels come from the host: lo = vCPUs // (4 x threads per task),
  hi = 4 x lo, i.e. (8, 32) on 32 vCPUs and (1, 4) on 4.  Ops whose tasks
  keep two threads busy (the JVM Arrow serializer plus the Python worker)
  measure below that oversubscription knee (PLANS §53): y4m runs (4, 16)
  on 32 vCPUs and needs at least 8;
- each level is a fresh subprocess whose session comes from
  hllspark.conf.configured_builder(cores=level), with half the host's
  physical RAM as driver memory;
- every job, including the empty-codegen platform ceiling
  (range -> xxhash64 -> max over the same 8G rows at both levels), runs
  two warm-ups (JVM C2 + page cache) and then timed reps; the median
  counts;
- efficiency = (tp_hi / tp_lo) / (hi / lo); the engine-relative figure
  divides an op's efficiency by the ceiling's, i.e. by what this host
  gives any Spark job.

An op is a fixture (a DataFrame written once under .bench_data/) plus
its jobs; the first job is the headline.  The report goes to stdout and
BENCH/scaling_<op>.json.

Usage:
  python tools/scaling.py --op NAME
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

import pyspark.sql.functions as F  # noqa: E402

DATA = os.path.join(REPO, ".bench_data")
BENCH = os.path.join(REPO, "BENCH")
TAG = "WORKER_JSON:"
# a shorter range is overhead-dominated and under-reads the achievable
# scaling (measured: 2G rows -> 0.38 "ceiling" vs the protocol's 0.6-0.83)
CEILING_ROWS = 8_000_000_000
# approx_distinct / diagnose scan their fixture COPIES x (union) so
# per-core work (parquet decode + hash + partial agg) dominates the ~1 s
# fixed driver/stage overhead; bytes are page-cached after warm-up
COPIES = 8
P = 14


# ---- fixtures: (spark, n) -> DataFrame, written once per (name, n) ----


def _pages(spark, n):
    from hllspark import io as hio

    return hio.generate_pages(spark, n, num_partitions=256)


def _pages_dup20(spark, n):
    from hllspark import io as hio

    return hio.generate_pages(
        spark, n, n_distinct=int(n * 0.8), num_partitions=256
    )


def _edges(spark, n):
    nodes = n // 20
    return spark.range(n).select(
        (F.col("id") % nodes).cast("string").alias("src"),
        ((F.col("id") * 2654435761) % nodes).cast("string").alias("dst"),
    ).repartition(64)


Y4M_W, Y4M_H, Y4M_FRAMES, Y4M_EVERY = 128, 72, 36, 6


def _y4m_videos(spark, n):
    from hllspark import multimodal as mm

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [
                    mm.make_y4m(Y4M_W, Y4M_H, Y4M_FRAMES, seed=int(i))
                    for i in ids
                ],
            })

    return spark.range(n, numPartitions=min(n, 256)).mapInPandas(
        gen, "media_id long, payload binary"
    )


# ---- op bodies: (spark, fixture path, n, cores) -> {job: (fn, rows)} ----


def _copies(spark, path):
    base = spark.read.parquet(path)
    pages = base
    for _ in range(COPIES - 1):
        pages = pages.union(base)
    return pages


def _approx_distinct(spark, path, n, cores):
    from hllspark import agg, jvmagg

    pages = _copies(spark, path)
    impls = {"sql": ""}
    if jvmagg.is_available(spark):
        impls["jvm"] = "_jvm"
    return {
        name + suffix: (
            lambda i=impl, k=keys: agg.approx_distinct(
                pages, "url", k, p=P, impl=i
            ).collect(),
            n * COPIES,
        )
        for impl, suffix in impls.items()
        for name, keys in (("grouped_by_lang", ["lang"]), ("global", None))
    }


def _diagnose(spark, path, n, cores):
    """Which stage limits scaling: range -> hash (scheduler + CPU only),
    + parquet decode, + the register hash aggregate."""
    from hllspark import agg

    pages = _copies(spark, path)
    range_n = 8 * n * COPIES
    return {
        "range_hash": (
            lambda: spark.range(range_n, numPartitions=8 * cores)
            .select(F.max(F.xxhash64("id"))).collect(),
            range_n,
        ),
        "scan_hash": (
            lambda: pages.select(F.max(F.xxhash64("url"))).collect(),
            n * COPIES,
        ),
        "scan_agg": (
            lambda: agg._maxed_registers_sql(
                pages, "url", ["lang"], P, "xxhash64"
            ).select(F.count("*")).collect(),
            n * COPIES,
        ),
    }


def _exact_substr(spark, path, n, cores):
    from hllspark import dedup

    pages = spark.read.parquet(path).select("url", "text")
    return {"exact_substr": (
        lambda: dedup.remove_duplicate_runs(
            pages, text_col="text", id_col="url", min_run=20
        ).select(F.sum("n_removed"), F.max(F.xxhash64("kept_text")))
        .collect(),
        n,
    )}


def _html_extract(spark, path, n, cores):
    from hllspark import text

    pages = spark.read.parquet(path).select("html")
    return {"html_extract": (
        lambda: pages.select(
            F.max(F.xxhash64(text.extract_text_html(F.col("html"))))
        ).collect(),
        n,
    )}


def _pagerank(spark, path, n, cores):
    from hllspark import crawl

    edges = spark.read.parquet(path)
    iters = 3
    return {"pagerank": (
        lambda: crawl.pagerank(edges, iters=iters, num_partitions=cores)
        .agg(F.sum("rank")).collect(),
        n * iters,
    )}


def _priority(spark, path, n, cores):
    from hllspark.sketches import priority

    pages = spark.read.parquet(path).select(
        "url", "lang", F.length("text").cast("double").alias("w")
    )
    return {"psample": (
        lambda: priority.sample_agg(
            pages, "url", "w", k=1024, keys=["lang"], seed=3
        ).select(F.sum(F.length("sketch"))).collect(),
        n,
    )}


def _tfidf(spark, path, n, cores):
    from hllspark import text

    pages = spark.read.parquet(path).select("text").withColumn(
        "rid", F.xxhash64("text")
    )
    norm2 = F.aggregate(
        F.transform("tfidf", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    return {"tfidf": (
        lambda: text.hashed_tfidf(
            pages, text_col="text", id_col="rid", dim=256, attach=False
        ).select(F.max(norm2)).collect(),
        n,
    )}


def _y4m(spark, path, n, cores):
    from hllspark import multimodal as mm

    videos = spark.read.parquet(path)
    return {"y4m_frames": (
        lambda: mm.frame_sample_stats(videos, every_n=Y4M_EVERY)
        .agg(F.sum("luma_sum"), F.count(F.lit(1))).collect(),
        n * -(-Y4M_FRAMES // Y4M_EVERY),
    )}


class Op(NamedTuple):
    fixture: Callable
    size: int
    jobs: Callable
    reps: int = 3
    conf: dict = {}
    threads_per_task: int = 1


OPS = {
    "approx_distinct": Op(_pages_dup20, 32_000_000, _approx_distinct, reps=5),
    "diagnose": Op(_pages_dup20, 32_000_000, _diagnose),
    "exact_substr": Op(_pages, 200_000, _exact_substr),
    "html_extract": Op(_pages, 500_000, _html_extract),
    "pagerank": Op(_edges, 8_000_000, _pagerank),
    "priority": Op(_pages, 1_000_000, _priority),
    # 200k rows is the overhead-dominated regime (raw eff ~0.18)
    "tfidf": Op(_pages, 1_000_000, _tfidf),
    "y4m": Op(
        _y4m_videos, 4000, _y4m, reps=5, threads_per_task=2,
        # ~331 KB per video: bound Arrow batches to ~5 MB and input splits
        # to ~16 MB so both levels get even, small tasks
        conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "16",
            "spark.sql.files.maxPartitionBytes": str(16 << 20),
        },
    ),
}


def host_vcpus() -> int:
    return len(os.sched_getaffinity(0))


def levels(op: str, vcpus: int) -> tuple[int, int]:
    """(lo, hi): the largest 4x pair of task slots the host can run."""
    per_task = OPS[op].threads_per_task
    lo = vcpus // per_task // 4
    if lo < 1:
        raise SystemExit(
            f"{op}: an N->4N pair needs at least {4 * per_task} vCPUs, "
            f"this host has {vcpus}"
        )
    return lo, 4 * lo


def session(cores: int, conf: dict | None = None):
    from hllspark.conf import configured_builder

    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    b = configured_builder(f"hllspark-scaling-{cores}", cores=cores)
    for k, v in {
        "spark.driver.memory": f"{max(1, ram_gb // 2)}g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **(conf or {}),
    }.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fixture_path(op: str) -> str:
    o = OPS[op]
    return os.path.join(DATA, f"{o.fixture.__name__.lstrip('_')}_{o.size}")


def ensure_fixture(op: str) -> str:
    """Write the op's fixture once; return its parquet path."""
    path = fixture_path(op)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark = session(host_vcpus())
        OPS[op].fixture(spark, OPS[op].size).write.mode("overwrite").parquet(
            path
        )
        spark.stop()
    return path


def measure(jobs: dict, reps: int) -> dict:
    """Two warm-ups, then the median of ``reps`` timed runs per job."""
    out = {}
    for name, (fn, rows) in jobs.items():
        fn()
        fn()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        med = ts[len(ts) // 2]
        out[name] = {
            "median_s": round(med, 4),
            "rows_per_sec": round(rows / med),
            "reps_s": [round(t, 4) for t in ts],
        }
    return out


def _worker(op: str, cores: int) -> None:
    o = OPS[op]
    spark = session(cores, o.conf)
    jobs = {
        "ceiling": (
            lambda: spark.range(CEILING_ROWS, numPartitions=512)
            .select(F.max(F.xxhash64("id"))).collect(),
            CEILING_ROWS,
        ),
        **o.jobs(spark, fixture_path(op), o.size, cores),
    }
    print(TAG + json.dumps(measure(jobs, o.reps)), flush=True)
    spark.stop()


def _run_level(op: str, cores: int) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--op", op,
         "--worker", str(cores)],
        capture_output=True, text=True, cwd=REPO,
    )
    line = next((ln for ln in r.stdout.splitlines() if ln.startswith(TAG)),
                None)
    if line is None:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise SystemExit(f"{op}: worker local[{cores}] failed")
    return json.loads(line[len(TAG):])


def report(op: str, by_level: dict[int, dict], vcpus: int) -> dict:
    lo, hi = sorted(by_level)

    def eff(job: str) -> float:
        tp = [by_level[c][job]["rows_per_sec"] for c in (lo, hi)]
        return round(tp[1] / tp[0] / (hi / lo), 3)

    jobs = [j for j in by_level[lo] if j != "ceiling"]
    return {
        "metric": f"{op} N->4N scaling (local[{lo}] vs local[{hi}])",
        "op": op,
        "size": OPS[op].size,
        "vcpus": vcpus,
        "levels": by_level,
        "raw_efficiency": eff(jobs[0]),
        "raw_efficiency_by_job": {j: eff(j) for j in jobs},
        "ceiling_efficiency": eff("ceiling"),
        "engine_relative_efficiency": round(eff(jobs[0]) / eff("ceiling"), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="N -> 4N scaling probe")
    ap.add_argument("--op", required=True, choices=sorted(OPS))
    ap.add_argument("--worker", type=int, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.worker:
        _worker(a.op, a.worker)
        return
    vcpus = host_vcpus()
    lo, hi = levels(a.op, vcpus)
    ensure_fixture(a.op)
    rep = report(a.op, {c: _run_level(a.op, c) for c in (lo, hi)}, vcpus)
    os.makedirs(BENCH, exist_ok=True)
    with open(os.path.join(BENCH, f"scaling_{a.op}.json"), "w") as fh:
        json.dump(rep, fh, indent=2)
        fh.write("\n")
    print(json.dumps(rep))


if __name__ == "__main__":
    main()
