"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced; each run must print every
metric ``BENCHMARK.json`` names, with its unit, and pass its gate.  A
perturbed pinned row count must make the query gate fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    rc, result = _run(workload, trace)
    assert rc == 0 and result["correct"], result
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_perturbed_expected_count_fails_the_gate(tmp_path):
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        counts = json.load(f)
    first = next(iter(counts))
    counts[first] += 1
    path = tmp_path / "counts.json"
    path.write_text(json.dumps(counts))
    rc, result = _run("query_suite", 0, "--expected", str(path))
    assert rc != 0
    assert not result["correct"] and result["failed"] >= 1
