"""tools/scaling.py, the N -> 4N scaling probe: the host-derived level
rule, the timer and efficiency report, and every op body in the op
table run once at a tiny size on the shared session."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
import scaling  # noqa: E402


def test_levels_from_host_vcpus():
    assert scaling.levels("html_extract", 4) == (1, 4)
    assert scaling.levels("html_extract", 32) == (8, 32)
    # two threads per task: the pair halves to stay below the knee
    assert scaling.levels("y4m", 32) == (4, 16)
    with pytest.raises(SystemExit, match="y4m.*at least 8 vCPUs.*has 4"):
        scaling.levels("y4m", 4)


def test_measure_and_report():
    m = scaling.measure({"j": (lambda: None, 10)}, reps=3)["j"]
    assert len(m["reps_s"]) == 3 and m["reps_s"] == sorted(m["reps_s"])
    assert m["median_s"] == pytest.approx(m["reps_s"][1], abs=1e-4)
    by_level = {
        1: {"ceiling": {"rows_per_sec": 100}, "pagerank": {"rows_per_sec": 10}},
        4: {"ceiling": {"rows_per_sec": 300}, "pagerank": {"rows_per_sec": 36}},
    }
    r = scaling.report("pagerank", by_level, 4)
    assert r["metric"] == "pagerank N->4N scaling (local[1] vs local[4])"
    assert r["raw_efficiency"] == 0.9
    assert r["ceiling_efficiency"] == 0.75
    assert r["engine_relative_efficiency"] == 1.2


def _tiny(op):
    return 4 if op == "y4m" else 200


@pytest.fixture(scope="module")
def tiny_fixtures(spark, tmp_path_factory):
    """Each fixture kind written once at its tiny size, shared by ops;
    coalesced so a tiny fixture is not 256 files."""
    root = tmp_path_factory.mktemp("scaling")
    paths = {}
    for op, o in scaling.OPS.items():
        path = str(root / f"{o.fixture.__name__}_{_tiny(op)}")
        if path not in paths.values():
            o.fixture(spark, _tiny(op)).coalesce(2).write.parquet(path)
        paths[op] = path
    return paths


@pytest.mark.parametrize("op", sorted(scaling.OPS))
def test_op_body_runs_tiny(spark, tiny_fixtures, op):
    jobs = scaling.OPS[op].jobs(spark, tiny_fixtures[op], _tiny(op), 2)
    assert jobs
    for name, (fn, rows) in jobs.items():
        assert rows > 0, name
        assert fn(), name
