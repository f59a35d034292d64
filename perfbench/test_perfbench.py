"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench -q

Every workload runs once untraced and once traced: each must print every
metric of ``BENCHMARK.json`` with its unit, check its outputs clean, and
in the traced run construction + Catalyst + execution must account for
the measured pass time.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS


def test_declared_metrics_match_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, units in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == units
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _bench(cwd, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def test_without_the_engine_it_fails_and_prints_nothing(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.dirname(run.__file__), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(tmp_path, "--workload", "headline", "--seed", "1",
                 "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload, trace):
    out = _bench(run.ROOT, "--workload", workload, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record, result = out.stdout.splitlines()
    record, result = json.loads(record)["record"], json.loads(result)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units
    values = {k: m["value"] for k, m in result["metrics"].items()}
    assert all(math.isfinite(v) for v in values.values())
    if trace:
        layers = (values["plans.construct_s"]
                  + (values["catalyst.optimization_ms"]
                     + values["catalyst.planning_ms"]) / 1000
                  + values["exec.s"])
        assert layers == pytest.approx(values["trace.pass_s"], rel=0.15)
        assert values["exec.jobs"] > 0 and values["exec.tasks"] > 0
    else:
        assert values["pass_s"] > 0 and values["setup_s"] > 0
