"""The benchmark's own test: every workload in both modes at the tiny
size, each correct and printing exactly the metrics BENCHMARK.json names.

    python3 -m pytest perfbench/test_selfcheck.py
"""

import os
import subprocess
import sys


def test_selfcheck():
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    proc = subprocess.run([sys.executable, run, "--selfcheck"],
                          timeout=2400)
    assert proc.returncode == 0
