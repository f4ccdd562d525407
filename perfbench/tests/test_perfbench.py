"""The benchmark's own tests: tiny seeded data through every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
sys.path.insert(0, BENCH)
import workloads  # noqa: E402

# Each run is its own process, as the benchmark is run: the traced run's
# wrappers must be installed before the package's pipeline and corpus
# modules are imported.
RUN_TINY = """
import json, sys
sys.path.insert(0, {bench!r})
import run, workloads
for cls in workloads.WORKLOADS.values():
    cls.sf = 0.002
hook = None
if {corrupt!r}:
    from pyspark.sql import functions as F

    def hook(wl):
        good = wl.queries["grouped_stats_q1"]
        wl.queries["grouped_stats_q1"] = lambda spark, sf: good(
            spark, sf).withColumn("sum_qty", F.col("sum_qty") + 1)
print(json.dumps(run.run({workload!r}, 3, 0, {trace!r}, root={root!r}, hook=hook)))
"""


def run_tiny(workload: str, trace: bool, root, corrupt: bool = False) -> dict:
    code = RUN_TINY.format(bench=BENCH, corrupt=corrupt, workload=workload,
                           trace=trace, root=str(root))
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_its_unit(workload, trace, tmp_path):
    res = run_tiny(workload, trace, tmp_path)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if trace:
        assert res["metrics"]["trace.span_coverage"]["value"] >= 0.9
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_wrong_query_result_counts_as_failed(tmp_path):
    res = run_tiny("lake_batch", False, tmp_path, corrupt=True)
    # every pass, the warm-up and at least one measured pass, ran the
    # corrupted query once and nothing else failed
    per_pass = 1 + len(workloads.QUERIES)
    assert res["failed"] == res["attempted"] // per_pass >= 2
    assert not res["correct"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
