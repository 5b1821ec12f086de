"""Smoke test of the benchmark: every workload (the two in BENCHMARK.json
and the two run on demand) runs a minimal measurement at the default
tables, prints every metric name with its unit, and no call fails.

    python3 -m pytest perfbench/test_smoke.py -q

Takes about six minutes on 4 cores (one Spark session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def _check(result: dict, spec_metrics: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec_metrics}
    for m in spec_metrics:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    result, text = _run(workload, 0)
    _check(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
        assert m["name"] in text
    assert "call_p50_s" in text and "peak_rss_mb" in text
    assert "failed_frac" in text and " 0.0000 fraction" in text


def test_traced_run_emits_every_layer_metric():
    result, _ = _run("ingest_load", 1)
    _check(result, SPEC["per_layer"])
    metrics = result["metrics"]
    assert metrics["loader.rows_written"]["value"] > 0
    assert metrics["session.tasks"]["value"] > 0
    assert metrics["trace.overhead_frac"]["value"] > 0


def test_refuses_without_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero, no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
