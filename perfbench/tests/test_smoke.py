"""Tiny-scale smoke of each workload through the benchmark command.

Each workload runs on 500 docs (the sf0.001 fixture size) for one measured
operation, untraced and traced, and must print every metric BENCHMARK.json
names, with its unit, and no failed operation. About three minutes.
"""

import contextlib
import io
import json
import os
import tempfile

import pytest

import run
import workloads
from conftest import ROOT


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_prints_every_metric(workload, trace, spec, monkeypatch):
    monkeypatch.setattr(workloads.WORKLOADS[workload], "n_docs", 500)
    monkeypatch.chdir(ROOT)
    # the command sets these for its JVM; restore them after each run
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYSPARK_PYTHON",
                "TMPDIR", "JAVA_TOOL_OPTIONS", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", None)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace)])
    assert rc == 0
    result = json.loads(out.getvalue().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in names
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
