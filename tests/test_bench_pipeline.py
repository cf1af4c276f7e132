"""bench_pipeline.pipeline_stages is the chain perfbench's curation_pipeline
times: its stage names are, in order, the keys of perfbench's STAGE_SPANS,
and neither importing it nor building the chain starts Spark."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path[:0] = [{root!r}, {root!r} + "/perfbench"]
from pyspark import SparkContext
import bench_pipeline, workloads
stages = bench_pipeline.pipeline_stages(eval_docs=None)
assert [n for n, _ in stages] == list(workloads.STAGE_SPANS), stages
assert all(callable(fn) for _, fn in stages)
assert SparkContext._active_spark_context is None, "Spark started"
print(len(stages))
"""


def test_pipeline_stages_match_perfbench_spans():
    # a fresh interpreter: the suite's shared session would hide one started here
    r = subprocess.run([sys.executable, "-c", PROBE.format(root=ROOT)],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split() == ["8"]
