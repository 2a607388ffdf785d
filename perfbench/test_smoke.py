"""Smoke test of the benchmark itself (not collected by the tier-1 run
of ``tests/``):

    python3 -m pytest perfbench/test_smoke.py -q

For every workload in BENCHMARK.json it checks that an untraced run
prints every end-to-end metric with its unit, that a traced run prints
every per-layer metric with its unit, and that the count metrics of two
traced runs at the same seed are equal. About fifteen minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
COUNTS = (".rows_out", ".pairs_scored", ".lsh_candidates", ".hot_blocks", ".store_rows")


def run(workload: str, trace: int, seed: int = 7) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:] + p.stdout[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def _check_names(metrics: dict, spec: list[dict]) -> None:
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    metrics = run(workload, trace=0)
    _check_names(metrics, SPEC["end_to_end"])
    assert all(metrics[m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat(workload):
    first, second = run(workload, trace=1), run(workload, trace=1)
    _check_names(first, SPEC["per_layer"])
    counts = [k for k in first if k.endswith(COUNTS)]
    assert any(first[k]["value"] > 0 for k in counts)
    assert {k: first[k]["value"] for k in counts} == {
        k: second[k]["value"] for k in counts
    }


def test_fails_without_program(tmp_path):
    """Outside a checkout of the program the benchmark prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(ROOT, "perfbench", name), "rb").read()
            )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and '"metrics"' not in p.stdout
