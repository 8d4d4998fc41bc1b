"""Benchmark self-test: every workload once at scale factor 0.001, traced.

Asserts that each end-to-end and per-layer metric name is printed with its
unit, that the final line is the result JSON, and that no op failed.
Run from the repository root:

    python3 -m pytest perfbench/test_selftest.py -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from run import WORKLOADS  # noqa: E402


def printed(out: str, name: str, unit: str) -> re.Match | None:
    return re.search(rf"^\s+{re.escape(name)}\s+(\S+)\s+{re.escape(unit)}\b", out, re.M)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = p.stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(metrics.PER_LAYER)

    for name in metrics.WORKLOAD_E2E[workload]:
        assert printed(out, name, metrics.WORKLOAD_UNITS[name]), f"{name} not printed"
    for name, unit in metrics.E2E.items():
        assert printed(out, name, unit), f"{name} not printed"
    for name, (unit, _moves) in metrics.PER_LAYER.items():
        assert printed(out, name, unit), f"{name} not printed"
    assert float(printed(out, "failed_op_ratio", "ratio").group(1)) == 0.0
