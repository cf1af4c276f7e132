"""Streaming throughput benchmark -> BENCH/STREAMING.md.

Measures the two structured-streaming maintenance paths over a parquet
source drained with availableNow (all data processed, bounded run):

  native   register_stream: stateful groupBy(keys, j).max agg, no Python
  stateful sketch_stream:   applyInPandasWithState, one blob per key
  dedup    dedup_stream_approx: Bloom-bucket bounded-state dedup

Rows/sec = input rows / wall time of the drained query (includes source
listing + state store commit overhead — honest end-to-end numbers, not
per-batch steady state).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

import pyspark.sql.functions as F  # noqa: E402

from hllspark import conf, streaming  # noqa: E402

N_ROWS = int(os.environ.get("HLLSPARK_STREAM_ROWS", str(2_000_000)))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    spark = conf.configured_builder("hllspark-stream-bench", cores=CPUS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="hllspark_stream_bench_")
    src = os.path.join(tmp, "src")
    spark.range(N_ROWS, numPartitions=CPUS).select(
        (F.col("id") % (N_ROWS // 2)).alias("user_id"),
        (F.col("id") % 8).cast("string").alias("grp"),
        F.timestamp_seconds(F.lit(1717200000) + F.col("id") % 86400).alias(
            "ts"
        ),
    ).write.mode("overwrite").parquet(src)

    results = {}

    def drain(out_df, name, mode="update"):
        ck = os.path.join(tmp, f"ck_{name}")
        t0 = time.perf_counter()
        q = (
            out_df.writeStream.foreachBatch(lambda bdf, bid: bdf.count())
            .option("checkpointLocation", ck)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1200)
        sec = time.perf_counter() - t0
        results[name] = {
            "sec": round(sec, 2),
            "rows_per_sec": round(N_ROWS / sec),
        }

    schema = "user_id long, grp string, ts timestamp"
    sdf = spark.readStream.schema(schema).parquet(src)
    drain(streaming.register_stream(sdf, "user_id", ["grp"], p=12), "register_stream_native")
    sdf2 = spark.readStream.schema(schema).parquet(src)
    drain(streaming.sketch_stream(sdf2, "user_id", ["grp"], p=12), "sketch_stream_stateful")
    sdf3 = spark.readStream.schema(schema).parquet(src)
    drain(
        streaming.dedup_stream_approx(sdf3, "user_id", n_buckets=64),
        "dedup_stream_approx_bloom",
    )
    from hllspark.sketches import cpc

    sdf4 = spark.readStream.schema(schema).parquet(src)
    drain(
        streaming.windowed_generic_stream(
            sdf4, "user_id", "ts", "1 hour", cpc.kind(2048), ["grp"],
            watermark_delay="1 minute",
        ),
        "windowed_generic_cpc",
    )

    doc = {"rows": N_ROWS, "cpus": CPUS, "paths": results}
    with open(os.path.join(REPO, "BENCH", "STREAMING.md"), "w") as f:
        f.write(
            "# BENCH — Structured Streaming maintenance throughput\n\n"
            f"{N_ROWS:,} rows drained with availableNow (end-to-end wall "
            "time incl. source listing and state-store commits), "
            f"local[{CPUS}].\n\n"
            "| path | sec | rows/sec |\n|---|---|---|\n"
            + "".join(
                f"| {k} | {v['sec']} | {v['rows_per_sec']:,} |\n"
                for k, v in results.items()
            )
            + "\nRaw JSON:\n```json\n" + json.dumps(doc, indent=2) + "\n```\n"
        )
    print(json.dumps(doc))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
