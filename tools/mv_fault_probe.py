"""SIGKILL fault injection for incremental materialized views
(sif_spark/mview.py) — the crash window that matters is BETWEEN the
view table's txn-upsert commit and the fold loop's commit record: on
restart the loop re-runs that epoch over the same window, and a broken
idempotence guard would fold it into the sums twice.

Protocol per round:

1. the parent builds a deterministic source table (CREATE + 12
   appends, one committed version each);
2. a WRITER process starts the MV query with
   max_versions_per_trigger=1 (one fold commit per source version —
   maximizes commit/checkpoint interleavings) and drains it;
3. the parent polls the VIEW's manifest count and SIGKILLs the whole
   writer JVM the instant it reaches a target commit depth — the kill
   provably lands mid-drain, right after a fold's table commit (the
   window where the checkpoint may not have recorded the batch yet);
   a fresh writer resumes from the same checkpoint to completion;
4. the verifier proves, from the surviving files alone, that the
   final view equals a pure-Python replay of GROUP BY over every
   source row (any double-fold or dropped window flips a sum), and
   that the view's manifest chain is contiguous.

Round 11 adds ``--cdf``: the same adaptive-kill protocol over a
MUTATING source — the history interleaves a keyed UPSERT (replacing
live keys) and a DELETE among the appends, the view folds the
change-data feed with SIGNED partials (preimage/delete subtract), and
the verifier replays the mutations through a pure-Python keyed state
dict. A replayed epoch after the kill would double BOTH the adds and
the retractions; either corrupts a sum.

Prints one JSON line; tests/test_mview_fault.py asserts.

Run directly:  python tools/mv_fault_probe.py [--cdf]
Writer mode:   python tools/mv_fault_probe.py --writer <src> <view> <ckpt> <mode>
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_APPENDS = 12
KEYS_PER_APPEND = 60
SUMS = {"n": "1", "sum_val": "val"}


def _rows_for(slice_id: int):
    """Deterministic source rows: create is slice 0, appends 1..N."""
    if slice_id == 0:
        lo, hi = 0, 100
    else:
        lo, hi = 100 * slice_id + 40, 100 * slice_id + 40 + KEYS_PER_APPEND
    return [(k, k % 7, 3 * k) for k in range(lo, hi)]


def expected_view() -> dict[int, tuple[int, int]]:
    agg: dict[int, tuple[int, int]] = {}
    for s in range(0, N_APPENDS + 1):
        for _k, b, v in _rows_for(s):
            n, sv = agg.get(b, (0, 0))
            agg[b] = (n + 1, sv + v)
    return agg


def build_source(spark, src_dir: str) -> None:
    from sif_spark.table import SifTable

    def frame(slice_id):
        return spark.createDataFrame(
            _rows_for(slice_id), "k bigint, bucket bigint, val bigint"
        )

    t = SifTable.create(spark, src_dir, frame(0), key_col="k")
    for s in range(1, N_APPENDS + 1):
        t.append(frame(s))


# --- the cdf-mode mutating history ------------------------------------------
# appends 0..6, then an UPSERT replacing every live k%5==0 (and
# inserting the same-rule keys in the inter-slice gaps), a DELETE of
# k%9==0, then appends 9..12. All arithmetic is deterministic, so the
# verifier replays it through a plain dict.

CDF_UPSERT_AT = 7   # after slices 0..6
CDF_DELETE_AT = 8


def _cdf_upsert_rows():
    return [(k, k % 7, 3 * k + 1000) for k in range(0, 700, 5)]


def cdf_build_source(spark, src_dir: str) -> None:
    from sif_spark.table import SifTable

    def frame(rows):
        return spark.createDataFrame(
            rows, "k bigint, bucket bigint, val bigint"
        )

    t = SifTable.create(spark, src_dir, frame(_rows_for(0)), key_col="k",
                        cdf=True)
    for s in range(1, 7):
        t.append(frame(_rows_for(s)))
    t.upsert(frame(_cdf_upsert_rows()))
    t.delete("k % 9 = 0")
    for s in range(9, N_APPENDS + 1):
        t.append(frame(_rows_for(s)))


def cdf_expected_view() -> dict[int, tuple[int, int]]:
    state: dict[int, tuple[int, int]] = {}
    for s in range(0, 7):
        for k, b, v in _rows_for(s):
            state[k] = (b, v)
    for k, b, v in _cdf_upsert_rows():
        state[k] = (b, v)
    for k in [k for k in state if k % 9 == 0]:
        del state[k]
    for s in range(9, N_APPENDS + 1):
        for k, b, v in _rows_for(s):
            state[k] = (b, v)
    agg: dict[int, tuple[int, int]] = {}
    for _k, (b, v) in state.items():
        n, sv = agg.get(b, (0, 0))
        agg[b] = (n + 1, sv + v)
    return agg


def writer(src_dir: str, view_dir: str, ckpt: str, mode: str) -> None:
    from sif_spark.mview import incremental_aggregate_view
    from sif_spark.session import get_session

    spark = get_session("mv_fault_writer")
    q = incremental_aggregate_view(
        spark, src_dir, view_dir, key="bucket", sums=SUMS,
        checkpoint_dir=ckpt, app_id="mvprobe", max_versions_per_trigger=1,
        cdf=(mode == "cdf"),
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    print("drained", flush=True)


def verify(spark, view_dir: str, mode: str) -> dict:
    from sif_spark.table import SifTable

    t = SifTable(spark, view_dir)
    versions = t._versions()
    chain_ok = versions == list(range(1, versions[-1] + 1)) if versions else False
    got = {
        r["bucket"]: (r["n"], r["sum_val"]) for r in t.read().collect()
    }
    want = cdf_expected_view() if mode == "cdf" else expected_view()
    return {
        "view_versions": versions[-1] if versions else 0,
        "chain_ok": chain_ok,
        "values_ok": got == want,
    }


def _view_commits(view_dir: str) -> int:
    mdir = os.path.join(view_dir, "_manifests")
    if not os.path.isdir(mdir):
        return 0
    return sum(
        1 for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")
    )


def one_round(spark, kill_at_commits: int, workdir: str,
              mode: str = "append") -> dict:
    src, view, ckpt = f"{workdir}/src", f"{workdir}/view", f"{workdir}/ckpt"
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    (cdf_build_source if mode == "cdf" else build_source)(spark, src)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--writer", src, view,
         ckpt, mode],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # adaptive kill: the moment the view has committed `kill_at_commits`
    # fold versions, the writer dies — provably mid-drain, in or right
    # after the commit-vs-checkpoint window
    deadline = time.time() + 300
    while (
        child.poll() is None
        and _view_commits(view) < kill_at_commits
        and time.time() < deadline
    ):
        time.sleep(0.05)
    killed_running = child.poll() is None
    commits_at_kill = _view_commits(view)
    if killed_running:
        os.kill(child.pid, signal.SIGKILL)
    child.wait()
    rc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--writer", src, view,
         ckpt, mode],
        capture_output=True,
        text=True,
        timeout=600,
    )
    res = verify(spark, view, mode)
    res["killed_mid_run"] = killed_running
    res["commits_at_kill"] = commits_at_kill
    res["resume_rc"] = rc.returncode
    res["kill_at_commits"] = kill_at_commits
    return res


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        mode = sys.argv[5] if len(sys.argv) > 5 else "append"
        writer(sys.argv[2], sys.argv[3], sys.argv[4], mode)
        return 0
    from sif_spark.session import get_session

    mode = "cdf" if "--cdf" in sys.argv[1:] else "append"
    spark = get_session("mv_fault_parent")
    rounds = []
    # cdf kill points bracket the mutation window: fold commits 7/8
    # are the upsert's signed fold and the delete's retraction
    kill_points = (3, 8) if mode == "cdf" else (2, 6, 11)
    for kill_at in kill_points:
        rounds.append(
            one_round(
                spark, kill_at, f"/tmp/sif_mv_fault_{mode}_{kill_at}", mode
            )
        )
        print(f"  [{mode}] kill_at {kill_at}: {rounds[-1]}", file=sys.stderr)
    ok = all(
        r["chain_ok"] and r["values_ok"] and r["resume_rc"] == 0
        and r["killed_mid_run"] and r["commits_at_kill"] >= r["kill_at_commits"]
        for r in rounds
    )
    print(json.dumps({"ok": ok, "mode": mode, "rounds": rounds}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
