"""transformWithStateInPandas probe (round 9, VERDICT r8 ask #6): the
q106 stateful shape ported to Spark 4's new stateful API with state
TTL — the unbounded-key eviction story the reference lacks entirely
(its reduce index grows forever, plan_executor.go:193-210, SURVEY
§3.3).

Scenarios (own session — TWS env must be set before the JVM starts):

  1. parity: with no TTL, running_zscore_tws's (key, id, value,
     is_outlier) equals legacy running_zscore exactly on two
     micro-batches, and state_n reports the CUMULATIVE count.
  2. ttl: with a 1.5s TTL and a 3s idle gap, the key's statistics are
     evicted — the next batch's state_n restarts at that batch's own
     count (eviction observable in the output, not inferred).
  3. provider gate: the HDFS-backed provider must REFUSE the operator
     (a Spark platform constraint — TWS is RocksDB-only, which is
     also the provider the 100 TB deployment wants, SCALE.md).

Environment note: Spark's TWS state protocol needs the `protobuf`
Python package (a standard Spark dependency). This sandbox has no pip
and no installed protobuf, but ships a pure-Python protobuf 6.32
inside the google-cloud-sdk; the probe packages it as a PYTHONPATH
shim, relaxing ONLY its advisory gencode-version gate (6.33 gencode
on a 6.32 runtime is wire-compatible; nothing in the library itself
is patched). With a real protobuf installed the shim is skipped.
Prints one JSON line; tests/test_tws.py asserts on it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The shim builder moved into the library in round 10 (session.py now
# applies it before every JVM start so TWS catalog entries q167/q168
# run in driver sessions); the probes keep their original contract.
from sif_spark.streaming.tws_env import SDK_PB, SHIM, build_shim  # noqa: E402,F401


def _ensure_protobuf_env() -> str | None:
    """'' if protobuf already imports, shim path if built, None if
    impossible — the original probe contract, now library-backed."""
    return build_shim()


def main() -> int:
    shim = _ensure_protobuf_env()
    if shim is None:
        print(json.dumps({"skip": "no protobuf available in this environment"}))
        return 0
    if shim and SHIM not in os.environ.get("PYTHONPATH", ""):
        # re-exec with the shim on PYTHONPATH so the JVM (and the TWS
        # driver/executor python workers it spawns) inherit it
        env = dict(os.environ)
        env["PYTHONPATH"] = f"{shim}:{REPO}:" + env.get("PYTHONPATH", "")
        return subprocess.call([sys.executable, os.path.abspath(__file__)], env=env)

    sys.path.insert(0, REPO)
    from sif_spark.session import get_session
    from sif_spark.streaming.stream import running_zscore, running_zscore_tws

    spark = get_session("tws_probe", master="local[4]", shuffle_partitions=4)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    result: dict = {}
    work = tempfile.mkdtemp(prefix="tws_probe_")

    def drain(q, name: str, expected: int, deadline_s: float = 90.0) -> None:
        # TWS keeps running empty cleanup batches under ProcessingTime
        # time mode, so processAllAvailable() never quiesces — poll the
        # sink count with a hard deadline instead.
        end = time.time() + deadline_s
        while time.time() < end:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:500])
            if spark.table(name).count() >= expected:
                return
            time.sleep(0.3)
        raise TimeoutError(f"{name} drained {spark.table(name).count()}/{expected}")

    # --- scenario 1: parity with the legacy API + cumulative state ---
    src = f"{work}/src1"
    rows = [(i, "a", 10.0) for i in range(10)] + [(10, "a", 1000.0), (11, "b", 5.0)]
    b1 = spark.createDataFrame(rows, "event_id long, grp string, v double")
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = (
        running_zscore_tws(stream, "grp", "v", "event_id", threshold=2.0)
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/cp1")
        .format("memory")
        .queryName("tws_par")
        .start()
    )
    try:
        drain(q, "tws_par", 12)
        spark.createDataFrame(
            [(12, "a", 11.0)], "event_id long, grp string, v double"
        ).coalesce(1).write.mode("append").parquet(src)
        drain(q, "tws_par", 13)
        got = {
            r["event_id"]: (r["is_outlier"], r["state_n"])
            for r in spark.table("tws_par").collect()
        }
    finally:
        q.stop()
    # legacy truth over the same two batches
    stream2 = spark.readStream.schema(b1.schema).parquet(src)
    q2 = (
        running_zscore(stream2, "grp", "v", "event_id", threshold=2.0)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_ref")
        .start()
    )
    try:
        q2.processAllAvailable()
        want = {
            r["event_id"]: r["is_outlier"] for r in spark.table("tws_ref").collect()
        }
    finally:
        q2.stop()
    result["parity_identical"] = {k: v[0] for k, v in got.items()} == want
    result["outlier_flagged"] = got[10][0] is True and got[12][0] is False
    result["cumulative_state_n"] = got[12][1] == 12  # 11 'a' rows + this one

    # --- scenario 2: TTL evicts idle keys ----------------------------
    src2 = f"{work}/src2"
    spark.createDataFrame(
        [(i, "a", 10.0 + i) for i in range(8)], "event_id long, grp string, v double"
    ).coalesce(1).write.mode("append").parquet(src2)
    s2 = spark.readStream.schema(b1.schema).parquet(src2)
    q3 = (
        running_zscore_tws(
            s2, "grp", "v", "event_id", threshold=2.0, state_ttl_ms=1500
        )
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/cp2")
        .format("memory")
        .queryName("tws_ttl")
        .start()
    )
    try:
        drain(q3, "tws_ttl", 8)
        time.sleep(3.5)  # idle past the 1.5s TTL
        spark.createDataFrame(
            [(100, "a", 50.0), (101, "a", 51.0)],
            "event_id long, grp string, v double",
        ).coalesce(1).write.mode("append").parquet(src2)
        drain(q3, "tws_ttl", 10)
        ttl_got = {
            r["event_id"]: r["state_n"] for r in spark.table("tws_ttl").collect()
        }
    finally:
        q3.stop()
    result["ttl_batch1_n"] = ttl_got.get(0)
    result["ttl_batch2_n"] = ttl_got.get(100)
    result["ttl_evicted"] = ttl_got.get(0) == 8 and ttl_got.get(100) == 2

    # --- scenario 3: HDFS provider refuses TWS (platform gate) -------
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    s3 = spark.readStream.schema(b1.schema).parquet(src)
    q4 = (
        running_zscore_tws(s3, "grp", "v", "event_id", threshold=2.0)
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/cp3")
        .format("memory")
        .queryName("tws_hdfs")
        .start()
    )
    try:
        end = time.time() + 60
        err = None
        while time.time() < end and err is None:
            err = q4.exception()
            time.sleep(0.3)
        result["hdfs_provider_refused"] = err is not None and (
            "STATE_STORE" in str(err) or "RocksDB" in str(err)
        )
        result["hdfs_error_head"] = str(err)[:160] if err else None
    finally:
        q4.stop()

    result["ok"] = bool(
        result["parity_identical"]
        and result["outlier_flagged"]
        and result["cumulative_state_n"]
        and result["ttl_evicted"]
        and result["hdfs_provider_refused"]
    )
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
