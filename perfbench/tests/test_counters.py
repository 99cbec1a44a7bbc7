"""Job and stage counters repeat exactly across two traced runs of the same
code and seed, so a change in them is a change in the program, not the host."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parents[1] / "run.py"


def _counters(workload: str, seed: int = 7) -> dict[str, int]:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=RUN.parents[1], capture_output=True, text=True, timeout=900, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    return {k: v["value"] for k, v in result["metrics"].items()
            if k.endswith((".jobs", ".stages"))}


@pytest.mark.parametrize("workload", ["batch_medallion", "incremental_medallion"])
def test_job_and_stage_counters_repeat(workload):
    first = _counters(workload)
    assert any(first.values()), "the traced op recorded no jobs"
    assert _counters(workload) == first
