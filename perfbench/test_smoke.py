"""Benchmark self-test: ``python3 -m pytest perfbench/test_smoke.py``.

Runs the smoke mode (smoke.py): every workload of BENCHMARK.json once on a
tiny corpus, traced and untraced, checking the printed metric names and
units, the correctness of each run and the gate's negative control.
"""

import subprocess
import sys
from pathlib import Path


def test_smoke_mode():
    run = Path(__file__).resolve().parent / "run.py"
    p = subprocess.run([sys.executable, str(run), "--smoke"],
                       capture_output=True, text=True, timeout=1800)
    assert p.returncode == 0, p.stderr[-4000:]
    assert "[smoke] all workloads ok" in p.stderr
