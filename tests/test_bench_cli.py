"""bench.py has exactly one mode: removed modes fail loudly, and each
measured rep runs in a fresh process."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("flag", ["--one", "--scaling", "--scaling-cluster"])
def test_removed_mode_flag_exits_2(flag):
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), flag],
        cwd=ROOT, capture_output=True, text=True, timeout=30,
    )
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr


def test_rep_runs_in_a_different_process():
    assert bench.in_fresh_process(os.getpid) != os.getpid()


def test_failing_rep_raises_in_parent():
    from concurrent.futures.process import BrokenProcessPool

    with pytest.raises(ValueError):
        bench.in_fresh_process(int, "not a number")
    with pytest.raises(BrokenProcessPool):
        bench.in_fresh_process(os._exit, 1)
