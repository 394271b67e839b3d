"""The benchmark's own self-test (input digests, output checks that
reject corrupted outputs, metric names against BENCHMARK.json) runs as
part of the suite."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest():
    r = subprocess.run([sys.executable, "perfbench/selftest.py"], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
