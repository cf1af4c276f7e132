"""Benchmark self-test.

    python3 perfbench/selftest.py

Runs every workload at a tiny size through both the measured and the
traced path, checks that each prints exactly the metrics BENCHMARK.json
names (with their units), and shows that every output check rejects a
deliberately corrupted result.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def corruptions(name: str, out):
    """(label, corrupted output) pairs for one correct output."""
    res, secs = out
    if name == "sketch_build":
        lang = sorted(res)[0]
        yield "perturbed estimate", ({**res, lang: res[lang] * 1.001}, secs)
        yield "estimate outside bound", ({**res, lang: res[lang] * 1.5}, secs)
        yield "missing group", ({k: v for k, v in res.items() if k != lang}, secs)
    elif name == "sketch_rollup":
        host = sorted(res)[0]
        buf, est = res[host]
        flipped = bytearray(buf)
        flipped[len(flipped) // 2] ^= 0x01
        yield "flipped register byte", ({**res, host: (bytes(flipped), est)}, secs)
        yield "perturbed estimate", ({**res, host: (buf, est * 1.001)}, secs)
        yield "missing host", ({k: v for k, v in res.items() if k != host}, secs)
    else:
        stage = sorted(res)[0]
        yield "changed rows_out", ({**res, stage: res[stage] + 1}, secs)


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}", flush=True)


def check_one(name: str, traced: bool) -> None:
    """One workload through one path.  Each runs in its own process: a
    stopped JVM cannot be replaced in-process, because hllspark's
    module-level UDFs keep their handle to the first one."""
    sys.path.insert(0, ROOT)
    from run import run
    from workloads import PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    key = "per_layer" if traced else "end_to_end"
    want = {m["name"]: m["unit"] for m in bench[key]}
    if traced:
        _expect(want == PER_LAYER, "BENCHMARK.json per_layer matches workloads.PER_LAYER")
    result, wl = run(name, seed=1, seconds=1, traced=traced, size="tiny")
    mode = "traced" if traced else "measured"
    _expect(result["correct"] and result["failed"] == 0, f"{name}: tiny {mode} run correct")
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    if traced or name in {w["name"] for w in bench["workloads"]}:
        _expect(got == want, f"{name}: {mode} run prints every {key} metric with its unit")
    if traced:
        return
    _expect(all(m["value"] > 0 for m in result["metrics"].values()),
            f"{name}: end-to-end metrics are non-zero")
    _expect(wl.check(wl.last) == [], f"{name}: last output passes its check")
    for label, bad in corruptions(name, wl.last):
        _expect(wl.check(bad) != [], f"{name}: check rejects {label}")


def main(argv) -> int:
    if argv:
        check_one(argv[0], argv[1] == "1")
        return 0
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {w["name"] for w in json.load(f)["workloads"]}
    _expect(names <= set(WORKLOADS), "BENCHMARK.json names only workloads.WORKLOADS")
    for name in WORKLOADS:
        for traced in ("0", "1"):
            rc = subprocess.run([sys.executable, __file__, name, traced]).returncode
            _expect(rc == 0, f"{name} trace={traced} exited 0")
    print("selftest passed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
