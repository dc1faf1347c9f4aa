"""Smoke tests for the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced; every metric the
benchmark declares must be printed with its unit, and every
correctness check must pass.  Slow (a few Spark sessions): not part of
the repository's tier-1 suite.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import WORKLOAD_NAMES  # noqa: E402
from perfbench.trace import per_layer_names  # noqa: E402
from perfbench.workloads import END_TO_END  # noqa: E402


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.3"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
        [(n, u, b) for n, u, b, _ in END_TO_END]
    assert [m["bound"] for m in spec["end_to_end"]] == [b for *_, b in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        per_layer_names()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_prints_every_metric_and_passes_its_checks(workload, trace):
    r = _run(ROOT, workload, trace)
    assert r.returncode == 0, r.stderr[-4000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, r.stderr[-4000:]
    assert result["attempted"] >= 1
    if trace:
        expected = [(n, u) for n, u, _ in per_layer_names()]
    else:
        expected = [(n, u) for n, u, _, _ in END_TO_END]
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == expected
    for name, m in result["metrics"].items():
        assert math.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, name


def test_fails_without_the_engine(tmp_path):
    """Run from a directory holding only the benchmark: no result line,
    non-zero exit."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(tmp_path, "images_pipeline", 0)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
