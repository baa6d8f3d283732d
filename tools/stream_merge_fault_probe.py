"""SIGKILL mid-stream on the CDC-apply loop (VERDICT r12 "Next round"
#7): a child process streams a cdf SifTable's change feed into a
target table via merge_changes_into_table (one table version per
micro-batch, each batch ONE merge with txn=(app, epoch)); the parent
SIGKILLs the whole streaming JVM mid-flight, then RESUMES the stream
from the same checkpoint. Verification: the target's content equals
the source's final snapshot row-for-row — the fold loop's replay of
the in-flight epoch after the kill must land as a committed no-op (the
txn high-water), never a double-apply, and the interrupted merge's
orphan files must stay invisible.

Run directly:  python tools/stream_merge_fault_probe.py
Modes:         --setup <dir> | --stream <dir> | --verify <dir>
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

N_KEYS = 400


def _session(name):
    from sif_spark.session import get_session

    return get_session(name)


def setup(workdir: str) -> None:
    """Source: create + 8 deterministic keyed ops; target: the v1
    snapshot. The stream then has 8 versions to apply."""
    from pyspark.sql import functions as F

    from sif_spark.table import SifTable

    spark = _session("cdc_fault_setup")

    def frame(pred, val):
        return (
            spark.range(0, N_KEYS)
            .filter(pred)
            .select(
                F.col("id").alias("k"),
                F.lit(int(val)).cast("int").alias("v"),
            )
        )

    src = f"{workdir}/source"
    s = SifTable.create(
        spark, src, frame(F.col("id") % 2 == 0, 0), key_col="k", cdf=True
    )
    for op in range(2, 10):
        if op % 2 == 1:
            s.upsert(frame((F.col("id") % 3) == (op % 3), op))
        else:
            s.delete_keys(
                frame(F.col("id") % (7 + op) == 0, 0).select("k")
            )
    SifTable.create(
        spark, f"{workdir}/target", s.read(version=1), key_col="k"
    )


def stream(workdir: str) -> None:
    from sif_spark.streaming.stream import merge_changes_into_table

    spark = _session("cdc_fault_stream")
    q = merge_changes_into_table(
        spark,
        f"{workdir}/source",
        f"{workdir}/target",
        app_id="cdc-fault",
        checkpoint_dir=f"{workdir}/ckpt",
        starting_version=1,
        max_versions_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    print("stream drained", flush=True)


def verify(workdir: str) -> dict:
    from sif_spark.table import SifTable

    spark = _session("cdc_fault_verify")
    s = SifTable(spark, f"{workdir}/source")
    t = SifTable(spark, f"{workdir}/target")
    sv = sorted(tuple(r) for r in s.read().collect())
    tv = sorted(tuple(r) for r in t.read().collect())
    versions = t._versions()
    return {
        "content_ok": sv == tv,
        "rows": len(tv),
        "target_versions": len(versions),
        "chain_ok": versions == list(range(1, len(versions) + 1)),
    }


def one_round(delay: float, workdir: str) -> dict:
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    me = os.path.abspath(__file__)
    subprocess.run(
        [sys.executable, me, "--setup", workdir], check=True,
        capture_output=True, timeout=600,
    )
    child = subprocess.Popen(
        [sys.executable, me, "--stream", workdir],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    time.sleep(delay)
    killed = child.poll() is None
    if killed:
        os.kill(child.pid, signal.SIGKILL)
    child.wait()
    resume = subprocess.run(
        [sys.executable, me, "--stream", workdir],
        capture_output=True, text=True, timeout=900,
    )
    out = subprocess.run(
        [sys.executable, me, "--verify", workdir],
        capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res.update(
        {"delay": delay, "killed_mid_run": killed,
         "resume_rc": resume.returncode}
    )
    return res


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] in ("--setup", "--stream", "--verify"):
        mode, workdir = sys.argv[1], sys.argv[2]
        if mode == "--setup":
            setup(workdir)
        elif mode == "--stream":
            stream(workdir)
        else:
            print(json.dumps(verify(workdir)))
        return 0
    rounds = []
    # JVM startup ~13-15 s, then ~2-4 s per 1-version micro-batch (8
    # batches): 18 s lands in the early batches, 27 s mid/late
    for delay in (18.0, 27.0):
        rounds.append(one_round(delay, f"/tmp/sif_cdc_fault_{delay}"))
        print(f"  delay {delay}: {rounds[-1]}", file=sys.stderr)
    ok = all(
        r["content_ok"] and r["chain_ok"] and r["resume_rc"] == 0
        for r in rounds
    )
    print(json.dumps({"ok": ok, "rounds": rounds}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
