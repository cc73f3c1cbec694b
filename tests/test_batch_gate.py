"""Batch correctness-and-speed gate: ``perfbench/run.py --workload
batch_analytics`` checks the 17 headline queries plus
``redis_envelope_decode`` against their DuckDB oracles and every timed
pass's hashes against that check. Run as a subprocess with its own
session, it must report no wrong answer and keep one pass within 2x
the floor below."""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # a full benchmark run, about a minute

REPO = Path(__file__).resolve().parent.parent

#: ``pass_s`` floor: the median over seeds 1-7 of ``--seconds 20`` runs
#: on 4 cores, measured 2026-10-17 (10.2-12.0 s across the seeds).
PASS_FLOOR_S = 10.5


def _wait_for_trough(max_wait_s: int = 300, threshold: float = 1.0) -> None:
    """Best-effort: delay a retry until the host's 1-min load drops
    under ``threshold``, so the retry does not launch into the same
    spike of other tenants' load. Gives up after ``max_wait_s`` and
    runs anyway: the gate must never hang on a busy host."""
    deadline = time.monotonic() + max_wait_s
    while time.monotonic() < deadline:
        try:
            load1 = float(Path("/proc/loadavg").read_text().split()[0])
        except (OSError, ValueError, IndexError):
            return
        if load1 < threshold:
            return
        time.sleep(15)


def _run_once() -> dict:
    out = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "batch_analytics",
            "--seed", "1", "--seconds", "20", "--trace", "0",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["correct"] and rec["failed"] == 0, (rec, out.stderr[-2000:])
    return rec


def test_batch_analytics_correct_and_within_2x_floor():
    rec = _run_once()
    if rec["metrics"]["pass_s"]["value"] > 2 * PASS_FLOOR_S:
        # One retry: other tenants' load can inflate identical plans
        # 2-3x run to run. A real regression fails both runs; a
        # transient spike fails one, so wait it out before retrying.
        _wait_for_trough()
        rec = _run_once()
    pass_s = rec["metrics"]["pass_s"]["value"]
    assert pass_s <= 2 * PASS_FLOOR_S, (
        f"batch regression: pass_s {pass_s:.2f} s > 2x floor ({PASS_FLOOR_S} s)"
    )
