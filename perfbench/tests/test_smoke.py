"""A tiny-size traced run of each workload: every output check passes
and the run reports every metric BENCHMARK.json names. Starts Spark once
per workload (about half a minute each on 4 cores)."""

import argparse
import json
import os

import pytest

import run as R

SPEC = json.load(open(os.path.join(R.ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module", autouse=True)
def env():
    saved = dict(os.environ)
    R.prepare_env(R.WORK)
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_benchmark_json_names_the_workloads():
    import workloads

    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run(workload):
    import workloads

    args = argparse.Namespace(workload=workload, seed=3, seconds=0, trace=1)
    result, report = R.run(args, sizes=workloads.TINY)
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 5
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert set(report["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in report["end_to_end"].values()), report
    assert report["host"]["nproc"] >= 1
    assert report["tracing"]["bookkeeping_s"] > 0
