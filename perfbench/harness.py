"""Session lifecycle, timing statistics and the stage-metric collector.

Everything here is benchmark plumbing: nothing in ``hllspark/`` is
traced or modified.  Spans are recorded from outside, around calls into
each layer's public functions, and kept in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import tempfile
import time
import urllib.request

# repository root: the benchmark lives in <root>/perfbench
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sort-fallback counter of ObjectHashAggregateExec in the SQL REST view
_FALLBACK_METRIC = "number of sort fallback tasks"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workdir: str, ui: bool):
    """local[N] session, N = usable cores, shuffle partitions = N.  The
    hllspark JVM aggregator jar goes on the JVM classpath at launch;
    every scratch path (shuffle, spill, JVM and Python temp files) points
    into ``workdir`` so a run writes nothing outside its checkout.  The UI
    (and so the /api/v1 status store) is on only for traced runs."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp  # py4j's connection file; cached after first use
    os.environ.update(
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    from pyspark.sql import SparkSession

    from hllspark import jvmagg

    n = cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("hllspark-perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.extraClassPath", jvmagg.jar_path())
        .config("spark.jars", jvmagg.jar_path())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not jvmagg.is_available(spark):
        stop_session(spark)
        raise RuntimeError(
            "hllspark JVM aggregator is not on the session classpath "
            f"({jvmagg.jar_path()}): refusing to benchmark the sql fallback"
        )
    return spark


def jvm_process(spark) -> subprocess.Popen:
    return spark.sparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_process(spark).pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile of
    ``xs`` that still has at least ten samples above it.  With ten or
    fewer samples no such percentile exists and the maximum is reported,
    with zero samples beyond it."""
    s = sorted(xs)
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


# ---------------------------------------------------------------------------
# stage-metric collector (Spark /api/v1 status REST API)
# ---------------------------------------------------------------------------


class Collector:
    """Before/after diffs of completed-stage metrics and SQL metrics.

    ``mark()`` remembers which stages and SQL executions exist;
    ``since()`` sums the counters of everything completed after the
    mark.  Needs the UI (traced runs only)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_stages: set = set()
        self.last_sql = -1

    def _get(self, path: str):
        self.spark._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _stages(self):
        return self._get("/stages?status=complete")

    def _sql(self):
        return self._get("/sql?details=true&offset=0&length=100000")

    def mark(self) -> None:
        self.seen_stages = {(s["stageId"], s["attemptId"]) for s in self._stages()}
        execs = self._sql()
        self.last_sql = max((e["id"] for e in execs), default=-1)

    def since(self) -> dict:
        new = [
            s for s in self._stages()
            if (s["stageId"], s["attemptId"]) not in self.seen_stages
        ]
        fallback = 0
        for e in self._sql():
            if e["id"] <= self.last_sql:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == _FALLBACK_METRIC:
                        fallback += int(re.sub(r"[^0-9]", "", m["value"]) or 0)
        mb = 1024.0 * 1024.0
        return {
            "cpu_s": sum(s["executorCpuTime"] for s in new) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in new) / 1e3,
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in new) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in new) / mb,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in new
            ) / mb,
            "sort_fallback_tasks": fallback,
        }


class Tracer:
    """In-memory spans: each ``span(name, fn)`` runs ``fn`` once, timing it
    and diffing the collector around it.  Records stay in ``records``
    until the run writes them out."""

    def __init__(self, spark):
        self.collector = Collector(spark)
        self.records: list[dict] = []

    def span(self, name: str, fn):
        self.collector.mark()
        t0 = time.perf_counter()
        out = fn()
        s = time.perf_counter() - t0
        rec = {"span": name, "s": s, **self.collector.since()}
        self.records.append(rec)
        return out, rec
