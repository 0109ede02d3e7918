"""Smoke self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Runs every workload once untraced and once traced for one second, and
checks that the result line names exactly the metrics ``BENCHMARK.json``
declares, each with its unit. A corrupted expected digest must be counted
as a failure. About seven minutes on a 4-core machine.
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
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
#: the listed workloads plus olap_headline, which runs with the same
#: command but is left out of BENCHMARK.json for the run budget
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["olap_headline"]


def _run(workload: str, trace: int, **env) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env={**os.environ, "PERFBENCH_SF": "0.001", **env},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_corrupted_digest_is_a_failure():
    bad = os.path.join(ROOT, ".bench_build", "perfbench", "smoke-expected")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(os.path.join(BENCH, "expected"), bad)
    path = os.path.join(bad, "dataprep_digests.json")
    with open(path) as f:
        spec = json.load(f)
    digests = spec["digests"]["0.001"]
    victim = sorted(digests)[0]
    digests[victim] = "0" * 64
    with open(path, "w") as f:
        json.dump(spec, f)
    try:
        res = _run("dataprep_pipeline", 0, PERFBENCH_EXPECTED=bad)
    finally:
        shutil.rmtree(bad, ignore_errors=True)
    assert res["correct"] is False
    assert res["failed"] >= 1
