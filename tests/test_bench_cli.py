"""Command-line contract of ``bench.py``: a mode's final JSON line keeps
the keys earlier BENCH_r*.json results were written with, ``--skewed``
reaches every mode, and mode combinations that cannot run are refused
before any Spark session starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1] / "bench.py"

# the --patterns final-line keys of the results already on record
PATTERNS_KEYS = {
    "metric", "value", "unit", "queries", "sf", "cores", "n_edges", "reps",
    "rep_times", "rep_converged", "converged", "counts",
    "clique4_edges_per_sec", "cycle4_edges_per_sec",
}


def run_bench(tmp_path, *flags: str, timeout: float) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "2g"}
    return subprocess.run(
        [sys.executable, str(BENCH), *flags],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=tmp_path,
    )


def test_patterns_mode_runs_on_the_skewed_input(tmp_path):
    proc = run_bench(tmp_path, "--patterns", "--skewed", "--sf", "0.002", "--reps", "1",
                     timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert PATTERNS_KEYS <= out.keys()
    assert out["metric"].startswith("skewed (power-law hub) ")
    # the power-law input at 2,000 samples, not the 9,380-edge source-repo graph
    assert out["n_edges"] == 1895
    assert set(out["counts"]) == {"clique4", "cycle4"}


@pytest.mark.parametrize(
    "flags, message",
    [
        (("--fsm", "--skewed"), "vertex labels"),
        (("--bucketed", "--patterns"), "not allowed with argument"),
        (("--scaling", "--fsm"), "--scaling"),
        (("--scaling", "--bucketed"), "--scaling"),
    ],
)
def test_mode_combinations_that_cannot_run_are_usage_errors(tmp_path, flags, message):
    # argparse exits with status 2 while parsing, before the prelude opens
    # a session
    proc = run_bench(tmp_path, *flags, timeout=30)
    assert proc.returncode == 2, proc.stderr[-3000:]
    assert message in proc.stderr
    assert proc.stdout == ""
