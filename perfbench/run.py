"""hllspark benchmark: one workload per run, against the public API.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 12 --trace 0
    python3 perfbench/selftest.py      # tiny runs + output-check self-test

Workloads (see workloads.py): ``sketch_build``, ``sketch_rollup``,
``curation_pipeline``.  Load model: a closed loop with one client -- this
process issues the workload's operation back to back on local[N], N =
usable cores, for ``--seconds`` seconds and at least three operations.
Where Spark has its own equivalent of the operation, each operation is
paired with one run of it, and the gated metrics are ``vs_builtin`` and
``vs_builtin_tail``: median and tail of the per-pair time ratios.

Set-up is timed as ``setup_s``: session start, fixture generation with
its reference answers, and the warm-up operations, once per run (the cold
set-up is the one a user pays).  Every operation's output is checked; a
wrong or failed output counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload with the Spark UI on and prints per-layer metrics instead,
timed from outside around calls into each layer.  Every line before the
last is for people; the last line is one JSON object.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a median needs a few samples even when one operation outlasts the
# run's seconds (a curation pass does)
MIN_OPS = 3


def _say(*parts) -> None:
    print(*parts, flush=True)


def measure(wl, seconds: float) -> dict:
    """Closed loop: operations back to back until ``seconds`` pass and
    at least MIN_OPS have run.  When the workload has a Spark-builtin
    equivalent, each operation is paired with one run of it, alternating
    which goes first; the per-pair ratio cancels the host's drift, which
    moves raw times on this kind of shared VM by tens of percent from run
    to run."""
    from harness import tail

    lat, ref, outs = [], [], []
    has_ref = wl.builtin is not None
    end = time.perf_counter() + seconds
    for n in itertools.count(1):
        if has_ref and n % 2 == 0:
            b = _timed(wl.builtin)
        out = wl.attempt()
        if has_ref and n % 2 == 1:
            b = _timed(wl.builtin)
        if out is not None:
            outs.append(out)
            lat.append(out[1])
            if has_ref:
                ref.append(b)
        if time.perf_counter() >= end and n >= MIN_OPS:
            break
    if not lat:
        raise RuntimeError("every timed operation failed")
    value, pct, beyond = tail(lat)
    _say(f"ops {len(lat)} latency median {median(lat):.4f} s, "
         f"p{pct:.1f} {value:.4f} s with {beyond} samples beyond it")
    _say("latencies " + " ".join(f"{x:.4f}" for x in lat))
    _say(f"metric items_per_s = {wl.items / median(lat):.6g} 1/s ({wl.item})")
    _say(f"metric op_tail_s = {value:.6g} s")
    for name, (v, unit) in wl.report(outs, lat).items():
        _say(f"metric {name} = {v:.6g} {unit}")
    if not has_ref:
        return {
            "items_per_s": (wl.items / median(lat), "1/s"),
            "op_tail_s": (value, "s"),
        }
    ratios = [a / b for a, b in zip(lat, ref)]
    _say("builtin latencies " + " ".join(f"{x:.4f}" for x in ref))
    r_tail, r_pct, r_beyond = tail(ratios)
    _say(f"builtin latency median {median(ref):.4f} s; ratio p{r_pct:.1f} "
         f"with {r_beyond} pairs beyond it")
    return {
        "vs_builtin": (median(ratios), "ratio"),
        "vs_builtin_tail": (r_tail, "ratio"),
    }


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def trace(wl, spark, seconds: float) -> dict:
    from harness import Tracer, jvm_peak_rss_mb
    from workloads import PER_LAYER, moves

    tracer = Tracer(spark)
    got = wl.trace(tracer, seconds)
    unknown = set(got) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update(got)
    layer["spark.gc_s"] = sum(r["gc_s"] for r in tracer.records)
    layer["spark.fetch_wait_s"] = sum(r["fetch_wait_s"] for r in tracer.records)
    layer["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    # spans are kept in memory until here
    for r in tracer.records:
        _say("span " + " ".join(
            f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
            for k, v in r.items()
        ))
    op_s = layer["trace.op_s"]
    for name in sorted(k[:-2] for k in got if k.endswith(".s")):
        s = layer[f"{name}.s"]
        metric, workload = moves(name)
        share = f" ({100 * s / op_s:.1f}% of op)" if workload == wl.name else ""
        _say(f"self {name} {s:.4f} s{share} moves {metric} on {workload}")
    _say(f"self unexplained {layer['trace.unexplained_s']:.4f} s of op {op_s:.4f} s")
    return {k: (v, PER_LAYER[k]) for k, v in layer.items()}


def run(name: str, seed: int, seconds: float, traced: bool, size: str = "full"):
    """Start a session, set the workload up, measure or trace it, stop.
    Returns (result dict for the last line, the workload)."""
    from harness import start_session, stop_session
    from workloads import WORKLOADS

    workdir = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, ui=traced)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[name](spark, seed, workdir, size)
            t0 = time.perf_counter()
            wl.setup()
            fixture_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + fixture_s + warmup_s
            _say(f"workload {name} seed {seed} seconds {seconds} trace {int(traced)}")
            _say("fixture " + " ".join(f"{k}={v}" for k, v in wl.facts.items()))
            _say(f"setup session {session_s:.3f} s, fixture+oracle {fixture_s:.3f} s, "
                 f"warm-up {warmup_s:.3f} s")
            if traced:
                metrics = trace(wl, spark, seconds)
            else:
                metrics = measure(wl, seconds)
                metrics["setup_s"] = (setup_s, "s")
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's directory is still there
    failed = sum(1 for errs in wl.attempts if errs)
    for i, errs in enumerate(wl.attempts):
        for e in errs[:5]:
            _say(f"check failed: operation {i}: {e}")
    _say(f"metric failed_frac = {failed / len(wl.attempts):.6g} "
         f"({failed}/{len(wl.attempts)} operations)")
    result = {
        "correct": failed == 0,
        "attempted": len(wl.attempts),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, wl


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["sketch_build", "sketch_rollup", "curation_pipeline"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for need in ("hllspark/__init__.py", "hllspark/jars/hllspark-jvm.jar", "bench_pipeline.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    result, _ = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if not args.trace:
        for k, m in result["metrics"].items():
            _say(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
