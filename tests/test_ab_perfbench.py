"""tools/ab_perfbench.py: run order, records and summary, without Spark."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "ab_perfbench", os.path.join(ROOT, "tools", "ab_perfbench.py")
)
ab_perfbench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_perfbench)


def test_parse_seeds():
    assert ab_perfbench.parse_seeds("5-8") == [5, 6, 7, 8]
    assert ab_perfbench.parse_seeds("1,3-4,9") == [1, 3, 4, 9]


def test_runs_alternate_which_side_goes_first():
    calls = []

    def fake_run(side, workload, seed, seconds):
        calls.append((seed, side))
        value = 1.0 if side == "parent" else 0.9
        return {"correct": True, "attempted": 4, "failed": 0,
                "metrics": {"vs_builtin": {"value": value + seed / 100, "unit": "ratio"}}}

    runs = list(ab_perfbench.ab("sketch_rollup", [5, 6, 7], 12, fake_run))
    assert calls == [
        (5, "parent"), (5, "change"),
        (6, "change"), (6, "parent"),
        (7, "parent"), (7, "change"),
    ]
    assert [(r["seed"], r["side"]) for r in runs] == calls
    assert runs[0] == {
        "workload": "sketch_rollup", "side": "parent", "seed": 5, "correct": True,
        "attempted": 4, "failed": 0,
        "metrics": {"vs_builtin": {"value": 1.05, "unit": "ratio"}},
    }
    lines = ab_perfbench.summary(runs, {"vs_builtin": "lower"})
    assert lines[0] == "sketch_rollup: 3 pairs, 0 failed operations"
    assert lines[1].endswith("change better 3/3")
    assert ab_perfbench.summary(runs, {"vs_builtin": "higher"})[1].endswith(
        "change better 0/3"
    )
