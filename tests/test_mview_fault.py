"""SIGKILL fault injection for incremental materialized views — see
tools/mv_fault_probe.py. The kill is ADAPTIVE: the parent polls the
view's manifest count and kills the writer JVM the instant it reaches
a target fold depth, so the crash provably lands mid-drain (right
after a fold's table commit — the window where the streaming
checkpoint may not have recorded the batch). The resumed query must
leave the view EXACTLY equal to a pure-Python replay of GROUP BY over
every source row; a double-fold of the replayed epoch flips the sums."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"

pytestmark = pytest.mark.cluster


def test_mv_fold_survives_sigkill_mid_drain():
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "mv_fault_probe.py")],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ok"], out
    for r in out["rounds"]:
        assert r["killed_mid_run"], r
        assert r["commits_at_kill"] >= r["kill_at_commits"], r
        assert r["chain_ok"] and r["values_ok"] and r["resume_rc"] == 0, r


def test_cdf_mv_fold_survives_sigkill_mid_mutation_window():
    """--cdf mode: the source history interleaves a keyed upsert and a
    delete; the view folds SIGNED partials. The kill points bracket the
    mutation window (fold commits 7/8 are the upsert's retraction+
    postimage and the delete's tombstones) — a replayed epoch after the
    kill would double both the adds and the retractions."""
    proc = subprocess.run(
        [sys.executable, str(TOOLS / "mv_fault_probe.py"), "--cdf"],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ok"] and out["mode"] == "cdf", out
    for r in out["rounds"]:
        assert r["killed_mid_run"], r
        assert r["chain_ok"] and r["values_ok"] and r["resume_rc"] == 0, r
