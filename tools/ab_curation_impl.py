"""A/B the two repetition_features implementations on the q17 workload.

Runs impl='arrow' and impl='expr' on the SAME 100k-page sample in the
SAME session (hllspark.conf.configured_builder sized to this host's
vCPUs), warms each arm once, then times ``reps`` interleaved pairs whose
order alternates, so a slow host phase hits both arms equally.  Prints
per-rep times + median/min/max/spread and writes the same JSON to
BENCH/ab_curation_impl.json, so the arrow twin's keep-or-delete call is
backed by numbers (PLANS.md §27).

Usage: python tools/ab_curation_impl.py [reps]
"""

import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
TOOLS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TOOLS)
sys.path.insert(0, ROOT)
sys.path.insert(0, TOOLS)

import pyspark.sql.functions as F  # noqa: E402

import scaling  # noqa: E402  (one session recipe for the tools)
from hllspark import curation  # noqa: E402
from hllspark import io as hio  # noqa: E402

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 5
N_PAGES = 100_000


def main() -> None:
    cpus = scaling.host_vcpus()
    spark = scaling.session(
        cpus, {"spark.sql.execution.arrow.maxRecordsPerBatch": "16384"}
    )
    pages_path = os.path.join(ROOT, ".bench_data", f"ab_curation_pages_{N_PAGES}")
    if not os.path.exists(f"{pages_path}/_SUCCESS"):
        hio.generate_pages(spark, N_PAGES, num_partitions=2 * cpus).write.mode(
            "overwrite"
        ).parquet(pages_path)
    pages = spark.read.parquet(pages_path).select("lang", "text").cache()
    n = pages.count()

    def run(impl: str) -> float:
        t0 = time.perf_counter()
        curation.pii_features(
            curation.repetition_features(pages, ngram_ns=(2,), impl=impl)
        ).groupBy("lang").agg(
            F.count(F.lit(1)),
            F.avg("dup_word_frac"),
            F.avg("top2gram_char_frac"),
            F.sum("pii_total"),
        ).collect()
        return time.perf_counter() - t0

    run("expr")
    run("arrow")
    times: dict[str, list[float]] = {"expr": [], "arrow": []}
    for i in range(REPS):
        for impl in ("arrow", "expr") if i % 2 == 0 else ("expr", "arrow"):
            times[impl].append(round(run(impl), 3))

    report = {
        "n_docs": n,
        "reps": REPS,
        "vcpus": cpus,
        "arrow_faster_pairs": sum(
            a < e for a, e in zip(times["arrow"], times["expr"])
        ),
    }
    for impl, ts in times.items():
        s = sorted(ts)
        report[impl] = {
            "times": ts,
            "median": s[len(s) // 2],
            "min": s[0],
            "max": s[-1],
            "spread": round(s[-1] / s[0], 2),
        }
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "ab_curation_impl.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
