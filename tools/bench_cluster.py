"""Multi-executor scaling bench: real `spark-submit --py-files` against a
local standalone cluster — the closest sandbox emulation of the north_rule's
"N and 4N executors" criterion (each executor is a separate worker JVM).

Topology: 1 master + 4 workers x 8 cores x 20g on this 32-core box.
Levels: spark.cores.max=8  -> 1 executor  (N)
        spark.cores.max=32 -> 4 executors (4N)
Same input (the approx_distinct fixture of tools/scaling.py, scanned 8x),
library shipped to executors via --py-files hllspark.zip.

Usage: python tools/bench_cluster.py           # orchestrates both levels
       (internal)  spark-submit ... tools/bench_cluster.py --job <cores>
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

import scaling  # noqa: E402  (tools/scaling.py owns the fixture)

FIXTURE = scaling.fixture_path("approx_distinct")
MASTER = "spark://127.0.0.1:7077"
COPIES = scaling.COPIES
REPS = int(os.environ.get("HLLSPARK_CLUSTER_REPS", "5"))
N_ROWS = scaling.OPS["approx_distinct"].size
P = scaling.P
LEVELS = (8, 32)
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")


def _master_up() -> bool:
    try:
        with socket.create_connection(("127.0.0.1", 7077), timeout=2):
            return True
    except OSError:
        return False


def ensure_cluster() -> None:
    env = dict(
        os.environ,
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_MASTER_HOST="127.0.0.1",
        SPARK_LOG_DIR="/tmp/spark-logs",
        SPARK_WORKER_DIR="/tmp/spark-work",
    )
    if not _master_up():
        subprocess.run(
            [f"{SPARK_HOME}/sbin/start-master.sh", "--host", "127.0.0.1",
             "--port", "7077", "--webui-port", "8090"],
            env=env, check=True, capture_output=True,
        )
        time.sleep(5)
        for i in range(1, 5):
            subprocess.run(
                [f"{SPARK_HOME}/sbin/spark-daemon.sh", "start",
                 "org.apache.spark.deploy.worker.Worker", str(i),
                 "--host", "127.0.0.1", "--cores", "8", "--memory", "20g",
                 "--webui-port", f"809{i}", MASTER],
                env=env, check=True, capture_output=True,
            )
        time.sleep(6)


def build_zip() -> str:
    path = os.path.join(REPO, ".bench_data", "hllspark.zip")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, "hllspark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def job(cores: int) -> None:
    import pyspark.sql.functions as F  # noqa: F401
    from pyspark.sql import SparkSession

    from hllspark import agg

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(FIXTURE)
    pages = base
    for _ in range(COPIES - 1):
        pages = pages.union(base)
    timed_rows = N_ROWS * COPIES

    def grouped():
        agg.approx_distinct(pages, "url", ["lang"], p=P, impl="sql").collect()

    def grouped_jvm():
        agg.approx_distinct(pages, "url", ["lang"], p=P, impl="jvm").collect()

    out = {"cores_max": cores, "rows": timed_rows,
           "executors": spark.sparkContext.defaultParallelism // 8}
    from hllspark import jvmagg

    jobs = [("grouped_by_lang", grouped)]
    if jvmagg.is_available(spark):
        # the jar reached this driver via --driver-class-path and the
        # separate executor JVMs via --jars: the real-cluster shipping path
        jobs.append(("grouped_jvm", grouped_jvm))
    for name, fn in jobs:
        fn()
        fn()
        times = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        times.sort()
        med = times[len(times) // 2]
        out[name] = {
            "median_sec": round(med, 4),
            "rows_per_sec": round(timed_rows / med),
            "times": [round(t, 4) for t in times],
        }
    print("WORKER_RESULT " + json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--job":
        job(int(sys.argv[2]))
        return
    scaling.ensure_fixture("approx_distinct")
    ensure_cluster()
    zip_path = build_zip()
    levels = {}
    for cores in LEVELS:
        jar = os.path.join(REPO, "hllspark", "jars", "hllspark-jvm.jar")
        jar_args = (
            ["--jars", jar, "--driver-class-path", jar]
            if os.path.exists(jar)
            else []
        )
        cmd = [
            f"{SPARK_HOME}/bin/spark-submit",
            "--master", MASTER,
            "--deploy-mode", "client",
            "--py-files", zip_path,
            *jar_args,
            "--conf", f"spark.cores.max={cores}",
            "--conf", "spark.executor.cores=8",
            "--conf", "spark.executor.memory=16g",
            "--conf", f"spark.sql.shuffle.partitions={cores}",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false",
            os.path.abspath(__file__), "--job", str(cores),
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=3600,
            env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"),
        )
        line = [
            ln for ln in proc.stdout.splitlines() if ln.startswith("WORKER_RESULT ")
        ]
        if not line:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
            raise SystemExit(f"cluster job cores.max={cores} failed")
        levels[cores] = json.loads(line[0][len("WORKER_RESULT "):])
        print(f"cores.max={cores}: {levels[cores]}", file=sys.stderr)
    tp_n = levels[8]["grouped_by_lang"]["rows_per_sec"]
    tp_4n = levels[32]["grouped_by_lang"]["rows_per_sec"]
    eff = (tp_4n / tp_n) / 4
    report = {
        "mode": "standalone cluster, spark-submit --py-files",
        "executors_n": 1,
        "executors_4n": 4,
        "tp_1_executor": tp_n,
        "tp_4_executors": tp_4n,
        "scaling_efficiency": round(eff, 3),
        "levels": levels,
    }
    if "grouped_jvm" in levels[8] and "grouped_jvm" in levels[32]:
        jn = levels[8]["grouped_jvm"]["rows_per_sec"]
        j4n = levels[32]["grouped_jvm"]["rows_per_sec"]
        report["tp_1_executor_jvm"] = jn
        report["tp_4_executors_jvm"] = j4n
        report["scaling_efficiency_jvm"] = round((j4n / jn) / 4, 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "CLUSTER.json"), "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
