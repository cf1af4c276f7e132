"""Numpy-core accuracy and size sweep (no Spark) -> BENCH/accuracy_sweep.json.

For p in (10, 14) and n = 2^8 .. 2^24: relative error of the HLL estimate
against the published 1.04/sqrt(m) standard error (RMSE/sigma should be
~1 and ~100% of runs within 3 sigma), and HLLL's minimum_bits against
dense HLL's 6m bits.  1.04/sqrt(m) is the estimator's standard error
(Flajolet'07); the transition-region hump near n ~ 2.5m is a property of
the reference estimator itself (HyperLogLog.hpp:95-113).

Usage:
  python tools/accuracy_sweep.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def sweep() -> dict:
    """Numpy-core accuracy + size sweep (no Spark): mirrors the reference
    grid (experiments.py:13-18) at reduced n."""
    import numpy as np

    from hllspark import hll, hlll

    rng = np.random.default_rng(0x11E3EA10)
    rows = []
    for p in (10, 14):
        m = 1 << p
        sigma = 1.04 / (m**0.5)  # the published standard-error constant
        for logn in range(8, 25, 2):
            n = 1 << logn
            reps = 20 if logn < 20 else (8 if logn < 23 else 3)
            errs, ratios = [], []
            for _ in range(reps):
                hashes = rng.integers(0, 2**64, size=n, dtype=np.uint64)
                M = hll.build_from_hashes(hashes, p)
                est = float(hll.estimate(M))
                errs.append(est / n - 1.0)
                ratios.append(hlll.minimum_bits(M) / (6 * m))
            errs = np.array(errs)
            rows.append(
                {
                    "p": p,
                    "n": n,
                    "reps": reps,
                    "rmse": round(float(np.sqrt(np.mean(errs**2))), 5),
                    "sigma_1.04/sqrt(m)": round(sigma, 5),
                    "rmse_over_sigma": round(
                        float(np.sqrt(np.mean(errs**2))) / sigma, 3
                    ),
                    "frac_within_3sigma": round(
                        float(np.mean(np.abs(errs) <= 3 * sigma)), 3
                    ),
                    "hlll_bits_ratio": round(float(np.mean(ratios)), 4),
                }
            )
    return {
        "rows": rows,
        "max_rmse_over_sigma": max(r["rmse_over_sigma"] for r in rows),
        "min_frac_within_3sigma": min(r["frac_within_3sigma"] for r in rows),
        "hlll_ratio_at_saturation": min(r["hlll_bits_ratio"] for r in rows),
    }


def main() -> None:
    sw = sweep()
    path = os.path.join(REPO, "BENCH", "accuracy_sweep.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(sw, fh, indent=2)
        fh.write("\n")
    print(json.dumps({k: v for k, v in sw.items() if k != "rows"}))


if __name__ == "__main__":
    main()
