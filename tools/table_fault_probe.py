"""SIGKILL-mid-commit fault injection for the snapshot table layer
(VERDICT r9 "Next round" #2): a writer process runs a deterministic
CREATE + 20-upsert sequence against a SifTable; the parent SIGKILLs
the WHOLE writer JVM at a random point mid-flight (possibly mid data
write, mid manifest write, or between the two). The verifier then
proves the snapshot-isolation contract from the surviving files alone:

  1. the committed manifest chain is contiguous (v1..vN, parent links
     intact) — no torn or skipped version is visible;
  2. every committed version's read() returns EXACTLY the state the
     deterministic op sequence predicts after that many ops — a
     half-applied upsert (new group committed without its rewrite, or
     vice versa) would fail the value check, not just a count;
  3. a fresh writer RESUMES from the committed version and completes
     the remaining ops, landing bit-identical to a never-crashed run.

Three kill delays probe different phases (JVM startup ~8-15 s, then
~0.5 s/op). Prints one JSON line; tests/test_table_fault.py asserts.

Run directly:  python tools/table_fault_probe.py
Writer mode:   python tools/table_fault_probe.py --writer <dir> [from_op]
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

N_OPS = 20  # op s (1-based), keys [5s, 5s+50): odd s = whole-row
# upsert val=s; s%4==2 = conditional MERGE (matched & k%13==0 →
# DELETE, other matched → update val=s, unmatched → insert); s%4==0 =
# dv DELETE_KEYS of keys [5(s-2), 5(s-2)+20) — the table is dv=True,
# so those ops write a key-tombstone SIDECAR + the cdc change file
# and rewrite NOTHING; the kill windows therefore cover the
# sidecar-write → cdc-write → manifest one-way door (round 13).
# All ops run on a cdf=True table, so every kill window also covers
# the change-file write that precedes the manifest (round 12).
# The table is keyed on the COMPOSITE tuple (k1, k2) = (k // 7,
# k % 7) with key_bloom=True (round 13): every kill window also
# covers the tuple-bloom build, and every op pair-joins on the real
# two-column key.
BASE_ROWS = 100  # create: keys [0, 100) val=0


def expected_state(ops_done: int) -> dict[int, int]:
    """Pure-Python replay: table content after CREATE + ops_done ops."""
    state = {k: 0 for k in range(BASE_ROWS)}
    for s in range(1, ops_done + 1):
        if s % 4 == 0:
            for k in range(5 * (s - 2), 5 * (s - 2) + 20):
                state.pop(k, None)  # dv delete_keys (sidecar, no rewrite)
            continue
        for k in range(5 * s, 5 * s + 50):
            if s % 2 == 1 or k not in state:
                state[k] = s  # upsert, or merge-insert of a new key
            elif k % 13 == 0:
                del state[k]  # merge: matched + delete condition
            else:
                state[k] = s  # merge: matched + update
    return state


def _store(kind: str, spark):
    if kind == "excl":
        from sif_spark.logstore import PosixExclLogStore

        return PosixExclLogStore()
    # "rename" must be EXPLICIT: since round 11 SifTable's default for
    # local paths is the link(2) store, so log_store=None would test
    # the same protocol as --logstore=excl and the Hadoop rename-CAS
    # path (still the default for hdfs:// tables) would silently lose
    # its SIGKILL coverage
    from sif_spark.logstore import HadoopRenameLogStore

    return HadoopRenameLogStore(spark)


def writer(table_dir: str, from_op: int, store_kind: str = "rename") -> None:
    from pyspark.sql import functions as F

    from sif_spark.session import get_session
    from sif_spark.table import SifTable

    spark = get_session("table_fault_writer")

    def frame(lo, hi, val):
        # bijection k <-> (k1, k2): the composite key IS the identity
        return spark.range(lo, hi).select(
            (F.col("id") / 7).cast("long").alias("k1"),
            (F.col("id") % 7).alias("k2"),
            F.lit(val).cast("int").alias("v"),
        )

    store = _store(store_kind, spark)
    if from_op == 0:
        t = SifTable.create(spark, table_dir, frame(0, BASE_ROWS, 0),
                            key_cols=["k1", "k2"], key_bloom=True,
                            log_store=store, cdf=True, dv=True)
        start = 1
    else:
        t = SifTable(spark, table_dir, log_store=store)
        start = from_op
    for s in range(start, N_OPS + 1):
        if s % 2 == 1:
            t.upsert(frame(5 * s, 5 * s + 50, s))
        elif s % 4 == 0:
            t.delete_keys(
                frame(5 * (s - 2), 5 * (s - 2) + 20, s).select("k1", "k2")
            )
        else:
            t.merge(
                frame(5 * s, 5 * s + 50, s),
                when_matched_delete="(t.k1 * 7 + t.k2) % 13 = 0",
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=True,
            )
        print(f"op {s} committed", flush=True)


def verify(table_dir: str) -> dict:
    from sif_spark.session import get_session
    from sif_spark.table import SifTable

    spark = get_session("table_fault_verify")
    t = SifTable(spark, table_dir)
    versions = t._versions()
    if not versions:
        return {"committed_ops": -1, "chain_ok": True, "values_ok": True}
    # 1. contiguous chain with intact parent links
    chain_ok = versions == list(range(1, versions[-1] + 1))
    for v in versions:
        m = t._load(v)
        chain_ok &= m["version"] == v and m["parent"] == (v - 1 if v > 1 else None)
    # 2. every committed snapshot matches the deterministic replay
    values_ok = True
    for v in versions:
        got = {
            r["k1"] * 7 + r["k2"]: r["v"] for r in t.read(v).collect()
        }
        if got != expected_state(v - 1):  # version 1 = create = 0 ops
            values_ok = False
            break
    # 2b. every committed version's change file balances its manifest
    # counters (the change file is written BEFORE the manifest — a
    # torn pair would show up as an imbalance here)
    cdc_ok = True
    for v in versions:
        m = t._load(v)
        if not m.get("cdc"):
            continue
        by_type = {
            r["_change_type"]: r["n"]
            for r in spark.read.parquet(m["cdc"]["path"])
            .groupBy("_change_type")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        if by_type.get("delete", 0) != m.get("deleted_rows", 0):
            cdc_ok = False
        if by_type.get("update_postimage", 0) != m.get(
            "replaced_rows", 0
        ) or by_type.get("update_preimage", 0) != m.get("replaced_rows", 0):
            cdc_ok = False
    return {
        "committed_ops": versions[-1] - 1,
        "chain_ok": chain_ok,
        "values_ok": values_ok and cdc_ok,
    }


def one_round(delay: float, workdir: str, store_kind: str = "rename") -> dict:
    table_dir = f"{workdir}/table"
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--writer", table_dir, "0",
         store_kind],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    time.sleep(delay)
    killed_running = child.poll() is None
    if killed_running:
        os.kill(child.pid, signal.SIGKILL)
    child.wait()
    res = verify(table_dir)
    res["killed_mid_run"] = killed_running
    # 3. resume: a fresh writer completes the remaining ops
    from_op = res["committed_ops"] + 1
    rc = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--writer",
            table_dir,
            str(max(from_op, 0)),
            store_kind,
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    res["resume_rc"] = rc.returncode
    final = verify(table_dir)
    res["final_ops"] = final["committed_ops"]
    res["final_values_ok"] = final["values_ok"] and final["chain_ok"]
    res["delay"] = delay
    return res


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        writer(sys.argv[2], int(sys.argv[3]),
               sys.argv[4] if len(sys.argv) > 4 else "rename")
        return 0
    # --logstore excl: same kill windows through the conditional-put
    # (link(2)) store — the object-store-shaped commit protocol must
    # survive SIGKILL exactly like the rename CAS (VERDICT r10 #1)
    store_kind = "excl" if "--logstore=excl" in sys.argv[1:] else "rename"
    rounds = []
    # delays chosen to land the SIGKILL around ops 1-6 (~13 s JVM
    # startup + cdf ops at ~3-5 s each): ops 2/4/6 are MERGEs on a
    # cdf table, so the later windows cover the change-file write
    # that precedes the manifest (round 12)
    # 26 s aims the kill at op 4 — the first dv delete_keys — so the
    # sidecar-write -> cdc-write -> manifest door gets direct coverage
    for delay in (13.0, 22.0, 26.0, 31.0):
        rounds.append(one_round(delay, f"/tmp/sif_table_fault_{delay}",
                                store_kind))
        print(f"  delay {delay}: {rounds[-1]}", file=sys.stderr)
    ok = all(
        r["chain_ok"] and r["values_ok"] and r["resume_rc"] == 0
        and r["final_ops"] == N_OPS and r["final_values_ok"]
        for r in rounds
    )
    print(json.dumps({"ok": ok, "rounds": rounds}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
