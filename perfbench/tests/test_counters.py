"""The benchmark's own checks: work counters repeat exactly for a seed,
and another seed (other row order and row-group split of the same
tables) leaves every output unchanged.

Each case runs the traced benchmark command in fresh processes, about a
minute per run:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SECONDS = "1"


def traced_run(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", SECONDS, "--trace", "1"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["correct"] and summary["failed"] == 0
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-{seed}-t1.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counters_repeat_and_outputs_ignore_seed(workload):
    first = traced_run(workload, 3)
    again = traced_run(workload, 3)
    other = traced_run(workload, 4)

    assert first["counters"] == again["counters"]
    assert all(v > 0 for k, v in first["counters"].items() if k in ("output_rows", "spark.tasks"))
    hashes = {name: r["hash"] for name, r in first["gate"].items()}
    assert hashes == {name: r["hash"] for name, r in other["gate"].items()}
