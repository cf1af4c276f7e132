"""Interleaved A/B of a perfbench workload: a parent ref against the working tree.

For every seed, ``perfbench/run.py --trace 0`` runs once on each side, back
to back, and the side that goes first alternates from seed to seed, so a
slow phase of the host hits both sides alike.  The parent side runs in a
temporary export of ``--parent`` (``git archive``: exactly the committed
files, as the benchmark itself runs them, and nothing registered in this
repository's .git if the run is cut short).  The change side runs in this
working tree, uncommitted edits included.

Every run goes to ``BENCH/ab_<name>.json`` as ``{"what", "runs"}``, one run
per ``runs`` entry with ``workload``, ``side``, ``seed``, ``correct``,
``attempted``, ``failed`` and ``metrics`` (perfbench's last stdout line).
An existing file is extended, so workloads can be added in separate
invocations.  Per metric, the medians, quartiles and ranges of both sides
and the number of pairs in which the change is better are printed.  Each
run's output is kept in ``.perfbench_work/ab_<name>/``.

Usage:
    python tools/ab_perfbench.py --name NAME --parent REF --workload W \\
        --seeds 5-10 [--seconds 12] [--what TEXT]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def schedule(seeds) -> list[tuple[int, str]]:
    """(seed, side) in run order: parent first on even positions, change
    first on odd ones."""
    order = []
    for i, seed in enumerate(seeds):
        first, second = SIDES if i % 2 == 0 else SIDES[::-1]
        order += [(seed, first), (seed, second)]
    return order


def parse_seeds(text: str) -> list[int]:
    """'5-10' or '1,3,7' (or a mix) -> seeds in order."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export_ref(ref: str, dest: str) -> str:
    """The committed files of ``ref`` under ``dest``."""
    archive = os.path.join(dest, "ref.tar")
    subprocess.run(["git", "archive", "-o", archive, ref], cwd=ROOT, check=True)
    tree = os.path.join(dest, "tree")
    with tarfile.open(archive) as tar:
        tar.extractall(tree, filter="data")
    os.remove(archive)
    return tree


def run_perfbench(tree: str, workload: str, seed: int, seconds: float,
                  log_path: str) -> dict:
    """One untraced perfbench run in ``tree``; its last stdout line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    with open(log_path, "w") as log:
        proc = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                              stderr=log, text=True)
        log.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"perfbench exited {proc.returncode}; see {log_path}")
    return json.loads(lines[-1])


def ab(workload: str, seeds, seconds: float, run):
    """Runs ``run(side, workload, seed, seconds)`` in schedule order and
    yields each run as a BENCH record."""
    for seed, side in schedule(seeds):
        out = run(side, workload, seed, seconds)
        print(f"{workload} seed {seed} {side}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()
        ), flush=True)
        yield {"workload": workload, "side": side, "seed": seed, **out}


def _spread(values: list[float]) -> str:
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return f"{med:.3f} ({q1:.3f}-{q3:.3f}) [{min(values):.3f}-{max(values):.3f}]"


def summary(runs: list[dict], better: dict[str, str]) -> list[str]:
    """Per workload and metric: both sides' median (quartiles) [range] and
    the pairs in which the change is better (``better[metric]`` is
    'lower' or 'higher')."""
    lines = []
    for workload in dict.fromkeys(r["workload"] for r in runs):
        by = {(r["seed"], r["side"]): r for r in runs if r["workload"] == workload}
        seeds = sorted({s for s, _ in by if (s, "parent") in by and (s, "change") in by})
        if len(seeds) < 2:
            continue
        failed = sum(by[s, side]["failed"] for s in seeds for side in SIDES)
        lines.append(f"{workload}: {len(seeds)} pairs, {failed} failed operations")
        for metric, direction in better.items():
            vals = {side: [by[s, side]["metrics"][metric]["value"] for s in seeds]
                    for side in SIDES}
            sign = 1 if direction == "lower" else -1
            wins = sum(sign * (c - p) < 0 for p, c in zip(vals["parent"], vals["change"]))
            lines.append(f"  {metric}: parent {_spread(vals['parent'])} -> change "
                         f"{_spread(vals['change'])}, change better {wins}/{len(seeds)}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--name", required=True, help="record: BENCH/ab_<name>.json")
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--what", default=None, help="description stored in the record")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    out_path = os.path.join(ROOT, "BENCH", f"ab_{args.name}.json")
    doc = {"what": args.what, "runs": []}
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
    doc["what"] = args.what or doc.get("what") or (
        f"interleaved parent/change runs of perfbench/run.py --seconds "
        f"{args.seconds:g} --trace 0, parent {args.parent} against the working "
        f"tree, back to back per seed with alternating order"
    )
    logs = os.path.join(ROOT, ".perfbench_work", f"ab_{args.name}")
    os.makedirs(logs, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="ab_perfbench_") as tmp:
        trees = {"parent": export_ref(args.parent, tmp), "change": ROOT}

        def run(side, workload, seed, seconds):
            log = os.path.join(logs, f"{workload}-{seed}-{side}.log")
            return run_perfbench(trees[side], workload, seed, seconds, log)

        for rec in ab(args.workload, args.seeds, args.seconds, run):
            doc["runs"].append(rec)
            with open(out_path, "w") as f:  # after every run: a cut keeps the rest
                json.dump(doc, f, indent=1)
                f.write("\n")
    for line in summary(doc["runs"], better):
        print(line)
    print(f"wrote {os.path.relpath(out_path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
