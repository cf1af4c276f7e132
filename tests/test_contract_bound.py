"""__spark_entry__._within_bound: the relative 3-sigma HLL bound plus a
per-group linear-counting slack taken from the exact count, capped at 2."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as contract  # noqa: E402

# key -> (estimate, exact, within_bound); E = n^2/2m collisions at m = 4096
CASES = {
    "n3_off1": (4, 3, 1), "n3_off2": (5, 3, 0),  # E ~ 0.001: slack 1
    "n15_off1": (14, 15, 1), "n15_off2": (13, 15, 0),  # E ~ 0.03: slack 1
    "n100_off4": (104, 100, 1), "n100_off5": (95, 100, 0),  # slack capped at 2
}


def test_within_bound_per_group_slack(spark):
    est = spark.createDataFrame(
        [(k, float(e)) for k, (e, _, _) in CASES.items()], "k string, distinct_estimate double"
    )
    exact = spark.createDataFrame(
        [(k, n) for k, (_, n, _) in CASES.items()], "k string, exact long"
    )
    got = contract._within_bound(est, exact, "k").collect()
    assert {r["k"]: r["within_bound"] for r in got} == {k: c[2] for k, c in CASES.items()}
