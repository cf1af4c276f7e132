"""The benchmark workloads.

Each workload builds its input from the run's seed with
``hllspark.io.generate_pages(seed=...)``, computes its reference answers
once in set-up, and checks every timed operation's output against them.
The program under test only ever sees the generated input.

| workload              | timed operation and the layers it stresses     |
|-----------------------|------------------------------------------------|
| ``sketch_build``      | approx_distinct(url) by 6 langs, jvm plan:     |
|                       | io scan, hashing, jvmagg; no Python            |
| ``sketch_rollup``     | sketch_by(host, day) -> parquet -> merge by    |
|                       | host -> estimate: jvmagg sort fallback, agg    |
|                       | encode/merge/estimate UDFs, sketch kernels     |
| ``curation_pipeline`` | one staged 8-stage pass: dedup, curation,      |
|                       | decontam, sampling; no sketch code             |

BENCHMARK.json registers ``sketch_build`` and ``sketch_rollup``.
``curation_pipeline`` runs with the same command but is not registered:
one pass takes ~13 s and moves 15-22% between identical runs, too slow
to repeat until steady within a run's time.  ``sketch_build``'s traced
run also traces one curation pass, so every layer is measured on a
registered workload.

``MOVES`` records, for every per-layer metric, the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from statistics import median

import numpy as np
import pyspark.sql.functions as F

from hllspark import agg, hll, hlll, jvmagg, sketch
from hllspark import io as hio

from harness import cpus

# Per-group 5-sigma gate: a correct sketch exceeds it with probability
# 5.7e-7 per group, so a run over 100 groups flags a correct program less
# than once in 10^4 seeds; a 3-sigma gate would flag ~1.6% of seeds at 6
# groups and ~24% at 100.
Z = 5.0
# the per-group relative error gate, plus the linear-counting slack of
# two whole register collisions that __spark_entry__._within_bound uses
_ABS_SLACK = 2.0
# estimates from two plans of the same registers agree to float rounding
_REL_TOL = 1e-9

SIZES = {
    "sketch_build": {"full": dict(rows=1_000_000, hosts=100), "tiny": dict(rows=20_000, hosts=10)},
    "sketch_rollup": {"full": dict(rows=1_000_000, hosts=100), "tiny": dict(rows=20_000, hosts=10)},
    "curation_pipeline": {"full": dict(rows=2_000), "tiny": dict(rows=300)},
}

# rows_out per stage for curation_pipeline at its full size and seed 0
DEFAULT_SEED = 0
EXPECTED_ROWS_OUT = {
    "canonical_dedup": 1600, "quality_filter": 1600, "line_dedup": 1600,
    "near_dedup": 1600, "decontam": 1514, "mixture": 880, "shuffle": 880,
    "pack": 880,
}

BUILD_P = 14
ROLLUP_P = 12
ROLLUP_ALGO = "hlll"

# pipeline stage name in bench_pipeline -> the public function it calls
STAGE_SPANS = {
    "canonical_dedup": "dedup.deduplicate_exact",
    "quality_filter": "curation.quality_filter",
    "line_dedup": "curation.dedup_lines",
    "near_dedup": "dedup.deduplicate_near",
    "decontam": "decontam.decontaminate",
    "mixture": "sampling.mixture_sample",
    "shuffle": "sampling.shuffle_rows",
    "pack": "curation.pack_sequences",
}
BUILD_SPANS = [
    "io.scan", "hashing.xxhash64", "jvmagg.regs_build", "jvmagg.estimate",
    "agg.encode_udf",
]
ROLLUP_SPANS = [
    "jvmagg.regs_build_host_day", "agg.encode_udf_host_day",
    "io.sketch_write", "agg.merge_sketches", "agg.with_estimate",
]
SPAN_COUNTERS = {"s": "s", "cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}
KERNELS = [
    "sketch.encode_hlll_us", "sketch.decode_hlll_us", "hll.estimate_us",
    "hlll.choose_base_us", "hll.merge_us",
]


def _per_layer_units() -> dict[str, str]:
    units = {}
    for span in BUILD_SPANS + ROLLUP_SPANS + list(STAGE_SPANS.values()):
        for c, u in SPAN_COUNTERS.items():
            units[f"{span}.{c}"] = u
    for span in STAGE_SPANS.values():
        units[f"{span}.rows_out"] = "count"
    units.update({k: "us" for k in KERNELS})
    units.update({
        "jvmagg.sort_fallback_tasks": "count",
        "agg.merge_fan_in": "ratio",
        "sketch.bytes_per_group": "B",
        "hll.rel_err_mean": "ratio",
        "spark.gc_s": "s",
        "spark.fetch_wait_s": "s",
        "spark.jvm_peak_rss_mb": "MB",
        "trace.op_s": "s",
        "trace.unexplained_s": "s",
    })
    return units


# every per-layer metric a traced run prints, with its unit; a workload
# reports 0 for a layer it does not run
PER_LAYER = _per_layer_units()

# per-layer metric name or prefix -> the end-to-end metric and workload
# it should move; the longest matching prefix applies
MOVES = {
    "io.": ("vs_builtin", "sketch_build"),
    "hashing.": ("vs_builtin", "sketch_build"),
    "jvmagg.": ("vs_builtin", "sketch_build"),
    "agg.encode_udf": ("vs_builtin", "sketch_rollup"),
    "jvmagg.regs_build_host_day": ("vs_builtin", "sketch_rollup"),
    "jvmagg.sort_fallback_tasks": ("vs_builtin", "sketch_rollup"),
    "io.sketch_write": ("vs_builtin", "sketch_rollup"),
    "agg.": ("vs_builtin", "sketch_rollup"),
    "sketch.": ("vs_builtin", "sketch_rollup"),
    "hll.": ("vs_builtin", "sketch_rollup"),
    "hlll.": ("vs_builtin", "sketch_rollup"),
    "dedup.": ("items_per_s", "curation_pipeline"),
    "curation.": ("items_per_s", "curation_pipeline"),
    "decontam.": ("items_per_s", "curation_pipeline"),
    "sampling.": ("items_per_s", "curation_pipeline"),
    "spark.": ("vs_builtin, vs_builtin_tail", "every workload"),
    "trace.": ("none: tracing bookkeeping", "every workload"),
}


def moves(metric: str):
    return MOVES[max((p for p in MOVES if metric.startswith(p)), key=len)]


def _within(est: float, exact: int, p: int) -> bool:
    bound = max(Z * hll.error_bound(p) * exact, _ABS_SLACK)
    return abs(est - exact) <= bound


def _same(a: float, b: float) -> bool:
    return abs(a - b) <= _REL_TOL * max(abs(a), abs(b), 1.0)


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024 * 1024)


def _kernel_us(fn, args_list, loops: int = 3) -> float:
    """Median over ``loops`` passes of the mean per-call microseconds."""
    per = []
    for _ in range(loops):
        t0 = time.perf_counter()
        for a in args_list:
            fn(*a)
        per.append((time.perf_counter() - t0) / len(args_list) * 1e6)
    return median(per)


class Workload:
    """Set-up writes the seeded fixture and computes reference answers;
    ``op`` is the timed operation; ``check`` lists what is wrong with one
    output (empty when correct)."""

    name = ""
    item = ""
    warmup_ops = 1
    # Spark's own equivalent of the operation, run beside it (or None)
    builtin = None

    def __init__(self, spark, seed: int, workdir: str, size_name: str = "full"):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.size_name = size_name
        self.size = SIZES[self.name][size_name]
        self.facts: dict = {}
        self.attempts: list[list[str]] = []  # one error list per operation
        self.last = None  # the last output, kept for the self-test

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self):
        for _ in range(self.warmup_ops):
            out = self.attempt()
        if self.builtin is not None:
            self.builtin()
        return out

    def op(self):
        """Run the operation once; return (output, seconds)."""
        raise NotImplementedError

    def attempt(self, fn=None):
        """Run the operation (or ``fn``, a traced variant of it) once and
        log its check; an exception counts as a failed operation."""
        try:
            out = (fn or self.op)()
            errs = self.check(out)
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc()
            out, errs = None, [repr(e)]
        self.attempts.append(errs)
        self.last = out
        return out

    def check(self, out) -> list[str]:
        raise NotImplementedError

    @property
    def items(self) -> int:
        raise NotImplementedError

    def report(self, outs: list, lat: list[float]) -> dict:
        """Workload-specific figures printed beside the gated metrics."""
        return {}

    def trace(self, tracer, seconds: float) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# sketch_build / sketch_rollup share one fixture layout
# ---------------------------------------------------------------------------


def write_pages(spark, path: str, rows: int, hosts: int, seed: int):
    """Seeded pages projected to the sketch columns: url, lang, host, day."""
    (
        hio.generate_pages(
            spark, rows, n_hosts=hosts, seed=seed, num_partitions=cpus()
        )
        .select(
            "url",
            "lang",
            F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
            F.to_date("warc_ts").alias("day"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


class SketchBuild(Workload):
    """approx_distinct(url) by lang on the jvm plan: scan -> xxhash64 ->
    dense register aggregate -> estimate.  Six groups: register state
    stays in cache, there is no sort fallback and Python never runs."""

    name = "sketch_build"
    item = "input rows"
    warmup_ops = 5  # the query's JIT keeps warming over its first runs

    def setup(self) -> None:
        path = os.path.join(self.workdir, "pages")
        self.pages = write_pages(
            self.spark, path, self.size["rows"], self.size["hosts"], self.seed
        )
        self.exact = {
            r["lang"]: r["n"]
            for r in self.pages.groupBy("lang")
            .agg(F.countDistinct("url").alias("n"))
            .collect()
        }
        # the sql plan builds the same registers without the JVM aggregator
        self.ref = {
            r["lang"]: r["distinct_estimate"]
            for r in agg.approx_distinct(
                self.pages, "url", ["lang"], p=BUILD_P, impl="sql"
            ).collect()
        }
        self.facts = {
            "rows": self.size["rows"],
            "distinct_urls": sum(self.exact.values()),
            "groups": len(self.exact),
            "parquet_mb": round(_dir_mb(path), 2),
            "p": BUILD_P,
        }

    @property
    def items(self) -> int:
        return self.size["rows"]

    def _ours(self):
        return {
            r["lang"]: r["distinct_estimate"]
            for r in agg.approx_distinct(
                self.pages, "url", ["lang"], p=BUILD_P
            ).collect()
        }

    def builtin(self):
        """Spark's HLL++ on the same grouping."""
        self.pages.groupBy("lang").agg(F.approx_count_distinct("url")).collect()

    def op(self):
        t0 = time.perf_counter()
        out = self._ours()
        return out, time.perf_counter() - t0

    def check(self, out) -> list[str]:
        est = out[0]
        errs = []
        if set(est) != set(self.exact):
            errs.append(f"groups {sorted(est)} != {sorted(self.exact)}")
        for lang, e in est.items():
            if lang not in self.exact:
                continue
            if not _same(e, self.ref[lang]):
                errs.append(f"{lang}: estimate {e} != sql plan {self.ref[lang]}")
            if not _within(e, self.exact[lang], BUILD_P):
                errs.append(f"{lang}: estimate {e} outside bound of {self.exact[lang]}")
        return errs

    def report(self, outs, lat):
        return {"build_rows_per_s": (self.items / median(lat), "1/s")}

    def trace(self, tracer, seconds):
        """Cumulative prefix chain on the same fixture, each prefix its own
        action; a layer's self time is the delta to the previous prefix."""
        spark, pages = self.spark, self.pages
        h = F.xxhash64("url").alias("h")
        chain = [
            # one-row results, so neither prefix pays for emitting rows
            ("io.scan", lambda: pages.select(F.count("url")).collect()),
            ("hashing.xxhash64", lambda: pages.select(F.bit_xor(h)).collect()),
            (
                "jvmagg.regs_build",
                lambda: _noop(
                    pages.where(F.col("url").isNotNull()).select("lang", h)
                    .groupBy("lang").agg(jvmagg.regs_agg_column(spark, BUILD_P, "h"))
                ),
            ),
            (
                "jvmagg.estimate",
                lambda: _noop(agg.approx_distinct(pages, "url", ["lang"], p=BUILD_P)),
            ),
        ]
        encode = (
            "agg.encode_udf",
            lambda: _noop(agg.sketch_by(pages, "url", ["lang"], p=BUILD_P, algo="hlll")),
        )
        recs = _run_rounds(tracer, chain + [encode], seconds)
        layer = _self_times(recs, [n for n, _ in chain])
        # encode_udf extends the regs_build prefix, not the estimate one
        layer["agg.encode_udf"] = _delta(recs["agg.encode_udf"], recs["jvmagg.regs_build"])
        op_rec = _op_span(tracer, self)
        metrics = _span_metrics(layer)
        metrics["trace.op_s"] = op_rec["s"]
        metrics["trace.unexplained_s"] = op_rec["s"] - sum(
            layer[n]["s"] for n, _ in chain
        )
        # one traced curation pass, so the pipeline-stage layers are traced
        # on a registered workload too; its passes are checked and counted
        # in this run
        cur = CurationPipeline(self.spark, self.seed, self.workdir, self.size_name)
        cur.setup()
        cur.warmup()
        metrics.update({
            k: v for k, v in cur.trace(tracer, seconds).items()
            if not k.startswith("trace.")
        })
        self.attempts += cur.attempts
        return metrics


class SketchRollup(Workload):
    """Write: sketch_by(host, day) -> parquet sketch table.  Read: that
    table -> merge_sketches(host) -> with_estimate.  ~3000 small, mostly
    sparse day-grain sketches overflow ObjectHashAggregate's map (sort
    fallback) and put the Python encode/merge/estimate UDFs on the path."""

    name = "sketch_rollup"
    item = "day-grain sketches"
    warmup_ops = 2

    def setup(self) -> None:
        path = os.path.join(self.workdir, "pages")
        self.pages = write_pages(
            self.spark, path, self.size["rows"], self.size["hosts"], self.seed
        )
        self.table = os.path.join(self.workdir, "sketches")
        self.exact = {
            r["host"]: r["n"]
            for r in self.pages.groupBy("host")
            .agg(F.countDistinct("url").alias("n"))
            .collect()
        }
        self.day_groups = self.pages.select("host", "day").distinct().count()
        # direct host-grain sketches: merging day sketches must give the
        # same bytes (register max is order-free and the encoding is a
        # function of the registers)
        direct = agg.with_estimate(
            agg.sketch_by(self.pages, "url", ["host"], p=ROLLUP_P, algo=ROLLUP_ALGO)
        ).collect()
        self.ref = {r["host"]: (bytes(r["sketch"]), r["distinct_estimate"]) for r in direct}
        self.facts = {
            "rows": self.size["rows"],
            # host is a function of url, so per-host counts partition them
            "distinct_urls": sum(self.exact.values()),
            "hosts": len(self.exact),
            "day_groups": self.day_groups,
            "parquet_mb": round(_dir_mb(path), 2),
            "p": ROLLUP_P,
            "algo": ROLLUP_ALGO,
        }
        self.phases: list[tuple[float, float]] = []

    @property
    def items(self) -> int:
        return self.day_groups

    def _write(self):
        agg.sketch_by(
            self.pages, "url", ["host", "day"], p=ROLLUP_P, algo=ROLLUP_ALGO
        ).write.mode("overwrite").parquet(self.table)

    def _merged(self):
        return agg.merge_sketches(
            self.spark.read.parquet(self.table), ["host"], algo=ROLLUP_ALGO
        )

    def _read(self):
        return {
            r["host"]: (bytes(r["sketch"]), r["distinct_estimate"])
            for r in agg.with_estimate(self._merged()).collect()
        }

    def builtin(self):
        """The same write / merge / estimate job with Spark's DataSketches
        HLL functions at the same lgConfigK."""
        path = os.path.join(self.workdir, "builtin_sketches")
        self.pages.groupBy("host", "day").agg(
            F.hll_sketch_agg("url", ROLLUP_P).alias("sk")
        ).write.mode("overwrite").parquet(path)
        self.spark.read.parquet(path).groupBy("host").agg(
            F.hll_union_agg("sk").alias("sk")
        ).select("host", F.hll_sketch_estimate("sk")).collect()

    def warmup(self):
        out = super().warmup()
        self.facts["sketch_bytes_per_group"] = (
            self.spark.read.parquet(self.table)
            .select(F.avg(F.length("sketch")))
            .first()[0]
        )
        return out

    def op(self):
        t0 = time.perf_counter()
        self._write()
        t1 = time.perf_counter()
        out = self._read()
        t2 = time.perf_counter()
        self.phases.append((t1 - t0, t2 - t1))
        return out, t2 - t0

    def check(self, out) -> list[str]:
        got = out[0]
        errs = []
        if set(got) != set(self.ref):
            errs.append(f"{len(got)} hosts != {len(self.ref)}")
        for host, (buf, est) in got.items():
            if host not in self.ref:
                continue
            ref_buf, ref_est = self.ref[host]
            if buf != ref_buf:
                errs.append(f"{host}: merged sketch differs from direct sketch_by")
            if not _same(est, ref_est):
                errs.append(f"{host}: estimate {est} != direct {ref_est}")
            if not _within(est, self.exact[host], ROLLUP_P):
                errs.append(f"{host}: estimate {est} outside bound of {self.exact[host]}")
        return errs

    def rel_err_mean(self, out) -> float:
        got = out[0]
        return statistics.fmean(
            abs(got[h][1] - n) / n for h, n in self.exact.items() if h in got
        )

    def report(self, outs, lat):
        return {
            "sketch_write_per_s": (self.day_groups / median([w for w, _ in self.phases]), "1/s"),
            "sketch_merge_per_s": (self.day_groups / median([r for _, r in self.phases]), "1/s"),
            "sketch_bytes_per_group": (self.facts["sketch_bytes_per_group"], "B"),
            "rel_err_mean": (self.rel_err_mean(outs[-1]), "ratio"),
        }

    def trace(self, tracer, seconds):
        """Write chain (register build, + encode, + parquet write) and read
        chain (merge, + estimate) as cumulative prefixes, then the
        Python kernels, in this process, on real day-grain registers."""
        spark, pages = self.spark, self.pages
        h = F.xxhash64("url").alias("h")
        regs = (
            pages.where(F.col("url").isNotNull())
            .select("host", "day", h)
            .groupBy("host", "day")
            .agg(jvmagg.regs_agg_column(spark, ROLLUP_P, "h").alias("regs"))
        )
        sk = lambda: agg.sketch_by(pages, "url", ["host", "day"], p=ROLLUP_P, algo=ROLLUP_ALGO)
        write_chain = [
            ("jvmagg.regs_build_host_day", lambda: _noop(regs)),
            ("agg.encode_udf_host_day", lambda: _noop(sk())),
            ("io.sketch_write", self._write),
        ]
        read_chain = [
            ("agg.merge_sketches", lambda: _noop(self._merged())),
            ("agg.with_estimate", self._read),
        ]
        recs = _run_rounds(tracer, write_chain + read_chain, seconds)
        layer = _self_times(recs, [n for n, _ in write_chain])
        layer.update(_self_times(recs, [n for n, _ in read_chain]))
        metrics = _span_metrics(layer)
        metrics["jvmagg.sort_fallback_tasks"] = median(
            [r["sort_fallback_tasks"] for r in recs["jvmagg.regs_build_host_day"]]
        )
        metrics["agg.merge_fan_in"] = self.day_groups / len(self.exact)
        metrics["sketch.bytes_per_group"] = self.facts["sketch_bytes_per_group"]
        metrics["hll.rel_err_mean"] = self.rel_err_mean(self.last)
        metrics.update(self._kernels(regs))
        op_rec = _op_span(tracer, self)
        metrics["trace.op_s"] = op_rec["s"]
        metrics["trace.unexplained_s"] = op_rec["s"] - sum(
            metrics[f"{n}.s"] for n in ROLLUP_SPANS
        )
        return metrics

    def _kernels(self, regs) -> dict:
        """Python kernel costs on 64 real day-grain register arrays."""
        Ms = [np.frombuffer(bytes(r["regs"]), dtype=np.uint8) for r in regs.limit(64).collect()]
        bufs = [sketch.encode_hlll(M, 3) for M in Ms]
        return {
            "sketch.encode_hlll_us": _kernel_us(sketch.encode_hlll, [(M, 3) for M in Ms]),
            "sketch.decode_hlll_us": _kernel_us(sketch.decode, [(b,) for b in bufs]),
            "hll.estimate_us": _kernel_us(hll.estimate, [(M,) for M in Ms]),
            "hlll.choose_base_us": _kernel_us(hlll.choose_base, [(M, 3) for M in Ms]),
            "hll.merge_us": _kernel_us(hll.merge, list(zip(Ms, Ms[1:] + Ms[:1]))),
        }


class CurationPipeline(Workload):
    """One staged pass of bench_pipeline.pipeline_stages, each stage
    localCheckpoint()ed.  No sketch code runs."""

    name = "curation_pipeline"
    item = "input docs"

    def setup(self) -> None:
        path = os.path.join(self.workdir, "pipeline_pages")
        hio.generate_pages(
            self.spark, self.size["rows"], seed=self.seed,
            num_partitions=cpus(), vocab_scale=256,
        ).select("url", "warc_ts", "text", "lang").write.mode("overwrite").parquet(path)
        self.pages = self.spark.read.parquet(path)
        # the held-out eval slice decontamination guards against, as in
        # bench_pipeline.run_pipeline
        self.eval_docs = (
            self.pages.where(F.pmod(F.xxhash64("url"), F.lit(20)) == 0)
            .select("url", "text")
            .localCheckpoint(eager=True)
        )
        urls, langs = self.pages.select(
            F.countDistinct("url"), F.countDistinct("lang")
        ).first()
        self.facts = {
            "rows": self.size["rows"],
            "distinct_urls": urls,
            "langs": langs,
            "eval_docs": self.eval_docs.count(),
            "parquet_mb": round(_dir_mb(path), 2),
        }
        self.ref_rows = None

    @property
    def items(self) -> int:
        return self.size["rows"]

    def stages(self):
        from bench_pipeline import pipeline_stages

        return pipeline_stages(self.eval_docs)

    def run_pass(self, run_stage):
        df = self.pages.select("url", "warc_ts", "text", "lang")
        rows = {}
        for name, fn in self.stages():
            df = run_stage(STAGE_SPANS[name], lambda: fn(df).localCheckpoint(eager=True))
            rows[name] = df.count()
        return rows

    def op(self):
        t0 = time.perf_counter()
        rows = self.run_pass(lambda _, fn: fn())
        return rows, time.perf_counter() - t0

    def warmup(self):
        out = super().warmup()
        if out is not None:
            self.ref_rows = dict(out[0])
            self.facts["rows_out"] = ",".join(str(n) for n in out[0].values())
        return out

    def check(self, out) -> list[str]:
        rows = out[0]
        errs = []
        if self.ref_rows is not None and rows != self.ref_rows:
            errs.append(f"rows_out {rows} != first pass {self.ref_rows}")
        if (
            self.seed == DEFAULT_SEED
            and self.size_name == "full"
            and rows != EXPECTED_ROWS_OUT
        ):
            errs.append(f"rows_out {rows} != recorded {EXPECTED_ROWS_OUT}")
        return errs

    def report(self, outs, lat):
        return {"pipeline_docs_per_s": (self.items / median(lat), "1/s")}

    def trace(self, tracer, seconds):
        layer = {}

        def run_stage(span, fn):
            out, rec = tracer.span(span, fn)
            layer[span] = rec
            return out

        def traced_pass():
            t0 = time.perf_counter()
            return self.run_pass(run_stage), time.perf_counter() - t0

        rows, op_s = self.attempt(traced_pass)
        metrics = _span_metrics(layer)
        for name, span in STAGE_SPANS.items():
            metrics[f"{span}.rows_out"] = rows[name]
        metrics["trace.op_s"] = op_s
        metrics["trace.unexplained_s"] = op_s - sum(r["s"] for r in layer.values())
        return metrics


WORKLOADS = {w.name: w for w in (SketchBuild, SketchRollup, CurationPipeline)}


# ---------------------------------------------------------------------------
# traced-run helpers
# ---------------------------------------------------------------------------


def _run_rounds(tracer, spans, seconds: float) -> dict[str, list[dict]]:
    """Run every span once per round, rounds back to back until
    ``seconds`` have passed (at least one round)."""
    recs: dict[str, list[dict]] = {n: [] for n, _ in spans}
    end = time.perf_counter() + seconds
    while True:
        for name, fn in spans:
            recs[name].append(tracer.span(name, fn)[1])
        if time.perf_counter() >= end:
            return recs


def _noop(df) -> None:
    """Run ``df`` to completion and discard its rows inside the JVM."""
    df.write.format("noop").mode("overwrite").save()


def _med(recs: list[dict]) -> dict:
    return {k: median([r[k] for r in recs]) for k in recs[0] if k != "span"}


def _delta(recs: list[dict], prev: list[dict]) -> dict:
    """Median over rounds of the per-round difference: both spans ran
    back to back in each round, so host drift cancels."""
    return {
        k: median([a[k] - b[k] for a, b in zip(recs, prev)])
        for k in recs[0] if k != "span"
    }


def _self_times(recs, chain: list[str]) -> dict[str, dict]:
    """Self cost of each prefix in a cumulative chain: its difference to
    the previous prefix (the first prefix is its own self).  A layer whose
    cost is within the noise can read slightly negative."""
    out = {chain[0]: _med(recs[chain[0]])}
    for prev, name in zip(chain, chain[1:]):
        out[name] = _delta(recs[name], recs[prev])
    return out


def _op_span(tracer, wl) -> dict:
    """One checked operation inside a span; ``s`` is the operation's own
    timing, without the collector's bookkeeping around it."""
    out, rec = tracer.span("op", wl.attempt)
    rec["s"] = out[1]
    return rec


def _span_metrics(layer: dict[str, dict]) -> dict:
    out = {}
    for span, rec in layer.items():
        for c in SPAN_COUNTERS:
            out[f"{span}.{c}"] = rec[c]
    return out
