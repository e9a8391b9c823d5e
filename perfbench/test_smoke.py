"""Smoke test of the benchmark itself at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload in BENCHMARK.json once untraced and once traced over
sf0.001 tables and a few hundred ingest records, and asserts that every
metric named in BENCHMARK.json prints with its unit, every output check
passes and error_rate is 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_unit(workload: str, trace: int) -> None:
    lines = _run(workload, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    # the human-readable lines name every end-to-end metric per workload
    named = {line.split()[0]: line.split()[1:] for line in lines[:-1] if " " in line}
    assert named[f"{workload}.error_rate"] == ["0", "ratio"]
    for key in ("setup_s", "peak_rss_mb"):
        assert f"{workload}.{key}" in named
    assert sum(name.startswith(f"{workload}.") for name in named) >= len(SPEC["end_to_end"]) + 1
