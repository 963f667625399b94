"""Smoke tests for the repository benchmark.

Each workload runs at smoke size (the sf0.01 tables for core50, replication
factor 1 for dedup_scale, 500 subjects for clinical_pipeline) in its own
process, exactly as the benchmark is invoked.

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
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_spec_names_gated_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_every_metric_emitted_and_every_output_correct(workload, trace):
    code, out = run_bench("--workload", workload, "--trace", trace, "--smoke")
    assert code == 0
    res = result(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace == "0":
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)
    else:
        outputs = res["metrics"]["io.output_bytes"]["value"]
        assert (outputs > 0) == (workload == "clinical_pipeline")
        assert res["metrics"]["sched.jobs"]["value"] > 0


def test_corrupted_expected_hash_is_one_failure(tmp_path):
    expected = W.load_expected()
    expected["dedup_scale@1"]["bleu_near_dup_pairs"]["hash"] = "0" * 64
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    code, out = run_bench("--workload", "dedup_scale", "--smoke", "--expected", str(path))
    assert code == 0
    res = result(out)
    assert res["correct"] is False
    assert res["failed"] == 1
    assert res["attempted"] == len(W.DEDUP12)
    info = json.loads(out.strip().splitlines()[-2].split(" ", 1)[1])
    assert info["failures"][0].startswith("bleu_near_dup_pairs: hash")


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    code, out = run_bench("--workload", "core50", "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert '"correct"' not in out
