"""tools/export_metrics.py: a driver record (``BENCH_r*.json``) wraps the
bench line under ``parsed`` and flattens like a ``BENCH/`` record of it."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
import export_metrics  # noqa: E402

LINE = {"metric": "wall", "queries": {"q0": 0.5, "q1": 1.0}, "extra": {"cpus": 4}}


def test_driver_record_unwraps_parsed(tmp_path):
    (tmp_path / "BENCH").mkdir()
    for name, doc in {
        "BENCH/bench_local.json": LINE,
        "BENCH_r01.json": {"n": 1, "tail": json.dumps(LINE), "parsed": LINE},
        "BENCH_r02.json": {"n": 2, "tail": "x" * 2000, "parsed": None},
    }.items():
        (tmp_path / name).write_text(json.dumps(doc))
    df = export_metrics.collect(str(tmp_path)).set_index(["file", "query"])
    assert "tail" not in df.columns and "parsed" not in df.columns
    for f in ("BENCH/bench_local.json", "BENCH_r01.json"):
        assert df.loc[f]["seconds"].to_dict() == {"q0": 0.5, "q1": 1.0}
        assert set(df.loc[f]["extra.cpus"]) == {4}
    # an unparsed driver record keeps its one metadata row
    assert df.loc["BENCH_r02.json"]["n"].tolist() == [2]
