"""The benchmark's own tests: a tiny-size smoke run of every workload, a
traced run, proof that the output gate can fail, and the refusal to run
without the program. Each test starts Spark in a subprocess; run with

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

WORKLOADS = ["extract-raw", "ckpt-resume"]


def bench(state, workload, trace=0, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    # the benchmark finds the program from its own location, not the caller's path
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny", "--state", str(state)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 else None
    return proc, result


@pytest.fixture(scope="module")
def state(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench-state")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_and_passes_the_gate(state, workload):
    proc, result = bench(state, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert "fail_frac 0.000000" in proc.stdout
    assert {m: v["unit"] for m, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_layer(state):
    proc, result = bench(state, "extract-raw", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] is True
    metrics = result["metrics"]
    assert {m: v["unit"] for m, v in metrics.items()} == run.PER_LAYER
    for m in ("pipeline.ocr_stage_s", "pipeline.py_sent_mb", "pipeline.sink_mb",
              "kernel.page_ms", "kernel.lanms_ms"):
        assert metrics[m]["value"] > 0, m
    assert metrics["ckpt.job_s"]["value"] == 0


def _tamper(path):
    """Change the text of one expected span of one document."""
    with open(path) as f:
        expected = json.load(f)
    key = next(k for k in sorted(expected) if expected[k])
    expected[key][0][1] += " tampered"
    with open(path, "w") as f:
        json.dump(expected, f)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tampered_expected_output_fails_the_gate(tmp_path, workload):
    proc, result = bench(tmp_path, workload)
    assert proc.returncode == 0 and result["failed"] == 0, proc.stderr[-3000:]
    (path,) = glob.glob(os.path.join(str(tmp_path), "inputs", "*", "expected.json"))
    _tamper(path)
    proc, result = bench(tmp_path, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] is False
    assert 0 < result["failed"] <= result["attempted"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, _ = bench(tmp_path / "state", "extract-raw", cwd=tmp_path,
                    script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
