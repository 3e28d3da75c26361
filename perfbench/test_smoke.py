"""Smoke test of the benchmark at toy sizes (about three minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Runs ``run.py`` as the benchmark's user does and checks its contract:
every end-to-end and per-layer metric is printed with its unit, the
output checks pass, and a deliberately wrong expected value fails them.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import metric_units  # noqa: E402

E2E_UNITS = metric_units("end_to_end")
LAYER_UNITS = metric_units("per_layer")


def bench(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "toy", *extra],
        cwd=os.path.dirname(HERE),
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=180,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, units: dict) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in res["metrics"].items()} == units
    assert all(isinstance(m["value"], float) for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["closure_neardup", "kg_live"])
def test_end_to_end_metrics(workload):
    res = bench(workload, 0)
    assert_metrics(res, E2E_UNITS)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_layer_metrics():
    res = bench("kg_live", 1)
    assert_metrics(res, LAYER_UNITS)
    assert res["correct"]
    m = {n: v["value"] for n, v in res["metrics"].items()}
    # layers that run on kg_live report, those that do not read 0
    for n in ("extract.jobs", "infer.rounds", "streaming.insert_jobs", "retract.jobs", "sparql.query_jobs"):
        assert m[n] > 0, n
    assert m["tc.rounds"] == 0 and m["dedup.clusters_jobs"] == 0


def test_wrong_expectation_fails():
    res = bench("closure_neardup", 0, "--skew-expected", "1")
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0
