"""Event-time-timer TWS ports (round 10, VERDICT r9 ask #3):
sessionized_tws differentially pinned against the built-in
session_window aggregation (including early same-key-gap closure and
no-data-batch watermark closure), interval_join_tws pinned against the
built-in stream-stream interval join (no duplicate emissions), and the
EventTime/TTL platform gate. Subprocess for the same reason as
tests/test_tws.py (protobuf shim must precede the JVM).
See tools/tws_timers_probe.py for the scenarios."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"

pytestmark = pytest.mark.cluster


def test_tws_timer_ports_match_builtin_operators():
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "tws_timers_probe.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.stdout.strip(), proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if "skip" in result:
        pytest.skip(result["skip"])
    assert result["sessions_parity"] is True, result
    assert result["ij_parity"] is True and result["ij_no_duplicates"] is True, result
    assert result["ttl_gate_typed"] is True, result
    assert result["ok"] is True
