"""Smoke test of the benchmark on tiny inputs (sf0.001-sized).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once, traced, for two seconds, and checks that the
end-to-end metrics are printed with their units, that no output check
failed, and that every span's parent resolves.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import WORKLOADS, metric_units  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, "tiny")
    b = gen.generate(str(tmp_path / "b"), 7, "tiny")
    c = gen.generate(str(tmp_path / "c"), 8, "tiny")
    assert a == b != c


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_clean(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["failed"] == 0 and result["correct"], out.stderr[-3000:]
    for name, unit in metric_units("end_to_end").items():
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)
    assert any(line.startswith("error_rate 0 ") for line in lines)
    assert set(result["metrics"]) == set(metric_units("per_layer"))
    assert result["metrics"]["tracing.overhead_ratio"]["value"] != 0

    with open(os.path.join(ROOT, ".perfbench_work", workload, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)
