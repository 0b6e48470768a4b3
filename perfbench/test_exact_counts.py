"""The per-layer counts listed under ``exact_counts`` in config.json
repeat exactly between two traced runs with the same seed.

Two traced runs per workload, about four minutes in all:

    python3 -m pytest perfbench/test_exact_counts.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
CONFIG = json.loads((HERE / "config.json").read_text())


def traced_run(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "15", "--trace", "1"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=180, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(CONFIG["workloads"]))
def test_exact_counts_repeat(workload):
    first, second = traced_run(workload), traced_run(workload)
    assert first["correct"] and second["correct"]
    for name in CONFIG["exact_counts"]:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
