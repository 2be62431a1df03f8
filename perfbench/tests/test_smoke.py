"""Smoke test of the benchmark itself: every workload once, tiny inputs,
untraced and traced (three to five minutes on four cores).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


def test_smoke_prints_every_metric_and_runs_every_check():
    out = subprocess.run([sys.executable, os.path.join(PERFBENCH, "run.py"), "--smoke"],
                         cwd=ROOT, capture_output=True, text=True, timeout=1200)
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "smoke ok"


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "docs_canon",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""
