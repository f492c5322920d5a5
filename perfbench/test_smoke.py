"""Smoke test of the benchmark: every workload at the tiny size, in both
modes, prints every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark process (about a minute each).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from probes import window_stats
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_harness():
    import run

    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_window_stats_attributes_by_submission_time():
    jobs = [
        {"id": 0, "submit_ms": 1_000},
        {"id": 1, "submit_ms": 2_500},
        {"id": 2, "submit_ms": 9_000},  # outside every window
    ]
    stages = {
        0: {"submit_ms": 1_000, "complete_ms": 1_400, "task_ms": [100, 100, 400], "shuffle_b": 2 << 20, "spill_b": 0},
        1: {"submit_ms": 2_500, "complete_ms": 2_600, "task_ms": [50], "shuffle_b": 0, "spill_b": 1 << 20},
        2: {"submit_ms": 9_000, "complete_ms": 9_100, "task_ms": [70], "shuffle_b": 0, "spill_b": 0},
    }
    out = window_stats(jobs, stages, [("a.", 0.5, 2.0), ("b.", 2.0, 3.0)])
    assert out["a."] == {"jobs": 1, "task_busy_s": 0.6, "shuffle_write_mb": 2.0, "spill_mb": 0.0, "task_skew": 4.0}
    assert out["b."]["jobs"] == 1 and out["b."]["spill_mb"] == 1.0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in got.items()}
    assert all(isinstance(v["value"], float) for v in got.values())
