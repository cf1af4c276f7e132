"""Flatten benchmark JSON results to one tidy CSV.

Reference analogue: data_export.py:9-29 walks results/*.hdf5 and flattens
each measurement matrix + its attrs into a single CSV row stream.  Ours
walks BENCH/*.json plus any BENCH_r*.json at the repo root and emits one
row per (file, query) with the run-level metadata repeated per row.  A
BENCH_r*.json driver record's bench line is unwrapped from ``parsed``
(null when it overflowed the captured stdout ``tail``, which is dropped).

Usage: python tools/export_metrics.py [out.csv]   (default BENCH/metrics.csv)
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def collect(root: str = ROOT) -> pd.DataFrame:
    rows = []
    paths = sorted(
        glob.glob(os.path.join(root, "BENCH", "*.json"))
        + glob.glob(os.path.join(root, "BENCH_r*.json"))
    )
    for path in paths:
        try:
            with open(path) as f:
                doc = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        doc.pop("tail", None)
        parsed = doc.pop("parsed", None)
        if isinstance(parsed, dict):
            doc.update(parsed)
        base = {"file": os.path.relpath(path, root)}
        for k, v in doc.items():
            if isinstance(v, (str, int, float, bool)):
                base[k] = v
        for k, v in (doc.get("extra") or {}).items():
            if isinstance(v, (str, int, float, bool)):
                base[f"extra.{k}"] = v
        queries = doc.get("queries")
        if isinstance(queries, dict) and queries:
            for q, sec in queries.items():
                rows.append({**base, "query": q, "seconds": sec})
        else:
            rows.append(base)
    return pd.DataFrame(rows)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "BENCH", "metrics.csv")
    df = collect()
    df.to_csv(out, index=False)
    print(f"{len(df)} rows -> {out}")


if __name__ == "__main__":
    main()
