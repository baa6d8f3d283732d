"""Event-time-timer TWS ports probe (round 10, VERDICT r9 ask #3):
`sessionized_tws` (session close via timers, no watermark polling) and
`interval_join_tws` (custom two-input stateful join with timer-pruned
buffers) differentially pinned against the legacy/built-in operators
they port — `sessionized` (session_window agg) and `interval_join`
(stream-stream join) — plus session-state TTL coverage.

Scenarios (own session; protobuf shim as in tools/tws_probe.py):

  1. sessions parity: the same 4-batch keyed event sequence through
     both operators; the CLOSED-session sets (key, start, end, n)
     must be identical — including a session closed EARLY by a
     same-key gap inside one batch and sessions closed by watermark.
  2. interval-join parity: same two-sided sequence through both; the
     matched-pair sets (key, left_ts, right_ts) must be identical and
     free of duplicate emissions.
  3. platform gate: Spark forbids state TTL in EventTime time mode
     (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL) — the
     operator raises the typed ValueError at plan time; no TTL is
     needed because each open session's timer clears its state when
     the watermark passes (scenario 1's c-session proves it).

Prints one JSON line; tests/test_tws_timers.py asserts on it.
Run directly:  python tools/tws_timers_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tws_probe import SHIM, _ensure_protobuf_env  # noqa: E402


def main() -> int:
    shim = _ensure_protobuf_env()
    if shim is None:
        print(json.dumps({"skip": "no protobuf available in this environment"}))
        return 0
    if shim and SHIM not in os.environ.get("PYTHONPATH", ""):
        env = dict(os.environ)
        env["PYTHONPATH"] = f"{shim}:{REPO}:" + env.get("PYTHONPATH", "")
        return subprocess.call([sys.executable, os.path.abspath(__file__)], env=env)

    from pyspark.sql import functions as F

    from sif_spark.session import get_session
    from sif_spark.streaming.stream import (
        interval_join,
        interval_join_tws,
        sessionized,
        sessionized_tws,
    )

    spark = get_session("tws_timers_probe", master="local[4]", shuffle_partitions=4)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    result: dict = {}
    work = tempfile.mkdtemp(prefix="tws_timers_")

    def drain(q, name: str, expected: int, deadline_s: float = 120.0) -> int:
        end = time.time() + deadline_s
        while time.time() < end:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:800])
            n = spark.table(name).count()
            if n >= expected:
                return n
            time.sleep(0.4)
        return spark.table(name).count()

    def ev(eid: int, key: str, sec: int):
        import datetime

        return (eid, key, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec))

    SCHEMA = "event_id long, k string, ts timestamp"
    GAP_MS = 10_000

    # --- scenario 1: session parity ----------------------------------
    # batch1: a@0,5,8 (one session), b@100, d@0 & d@50 (intra-batch gap
    #         closes d's first session with no watermark help)
    # batch2: a@200 (wm -> 190 closes a[0..18] and b[100..110])
    # batch3: c@500 (wm -> 490 closes a[200..210], d[50..60])
    # batch4: z@2000 (wm -> 1990; the no-data batch Spark triggers on a
    #         watermark advance closes c[500..510]); z stays open.
    # closed total: a(0,18,3) b(100,110,1) d(0,10,1) d(50,60,1)
    #               a(200,210,1) c(500,510,1) = 6
    batches = [
        [ev(1, "a", 0), ev(2, "a", 5), ev(3, "a", 8), ev(4, "b", 100),
         ev(5, "d", 0), ev(6, "d", 50)],
        [ev(7, "a", 200)],
        [ev(8, "c", 500)],
        [ev(9, "z", 2000)],
    ]
    src = f"{work}/sess_src"

    def feed(batch):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    feed(batches[0])
    stream = spark.readStream.schema(SCHEMA).parquet(src).withColumn(
        "ts", F.col("ts")
    )
    q_tws = (
        sessionized_tws(stream, "ts", "k", GAP_MS, watermark="10 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{work}/cp_tws")
        .format("memory")
        .queryName("sess_tws")
        .start()
    )
    q_ref = (
        sessionized(
            spark.readStream.schema(SCHEMA).parquet(src),
            "ts",
            "10 seconds",
            ["k"],
            [F.count(F.lit(1)).alias("n")],
            watermark="10 seconds",
        )
        .select(
            "k",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{work}/cp_ref")
        .format("memory")
        .queryName("sess_ref")
        .start()
    )
    try:
        drain(q_tws, "sess_tws", 1)
        for b in batches[1:]:
            feed(b)
            time.sleep(1.0)
        n_tws = drain(q_tws, "sess_tws", 6)
        n_ref = drain(q_ref, "sess_ref", 6)

        def rows(name):
            return sorted(
                (r["k"], r["session_start"].isoformat(),
                 r["session_end"].isoformat(), r["n"])
                for r in spark.table(name).collect()
            )

        got, want = rows("sess_tws"), rows("sess_ref")
        result["sessions_tws"] = got
        result["sessions_ref"] = want
        result["sessions_parity"] = got == want and len(got) == 6
    finally:
        q_tws.stop()
        q_ref.stop()

    # --- scenario 2: interval-join parity -----------------------------
    lsrc, rsrc = f"{work}/ij_l", f"{work}/ij_r"
    L = "lid long, k string, lts timestamp"
    R = "rid long, k string, rts timestamp"

    def evt(i, k, sec):
        import datetime

        return (i, k, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec))

    def feed2(path, schema, batch):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    feed2(lsrc, L, [evt(1, "k1", 20), evt(2, "k1", 100), evt(3, "k2", 50)])
    feed2(rsrc, R, [evt(11, "k1", 15), evt(12, "k1", 19), evt(13, "k2", 70)])
    lstream = spark.readStream.schema(L).parquet(lsrc)
    rstream = spark.readStream.schema(R).parquet(rsrc)
    q_ij_tws = (
        interval_join_tws(
            lstream, rstream, "k", "lts", "rts",
            lower_ms=0, upper_ms=10_000, watermark="10 seconds",
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{work}/cp_ij_tws")
        .format("memory")
        .queryName("ij_tws")
        .start()
    )
    lref = spark.readStream.schema(L).parquet(lsrc)
    rref = spark.readStream.schema(R).parquet(rsrc)
    q_ij_ref = (
        interval_join(
            lref,
            rref,
            ["k"],
            "lts",
            "rts",
            lower="interval 0 seconds",
            upper="interval 10 seconds",
            watermark="10 seconds",
        )
        .select(lref["k"], "lts", "rts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{work}/cp_ij_ref")
        .format("memory")
        .queryName("ij_ref")
        .start()
    )
    try:
        # second wave: R@95 matches L@100 across batches; L@300 pushes wm
        time.sleep(2.0)
        feed2(rsrc, R, [evt(14, "k1", 95)])
        feed2(lsrc, L, [evt(4, "zz", 300)])
        n1 = drain(q_ij_tws, "ij_tws", 3)
        n2 = drain(q_ij_ref, "ij_ref", 3)

        def pairs(name):
            return sorted(
                (r["k"], r["lts" if "lts" in r.asDict() else "left_ts"].isoformat(),
                 r["rts" if "rts" in r.asDict() else "right_ts"].isoformat())
                for r in spark.table(name).collect()
            )

        got, want = pairs("ij_tws"), pairs("ij_ref")
        result["ij_tws"] = got
        result["ij_ref"] = want
        result["ij_parity"] = got == want and len(got) == 3
        result["ij_no_duplicates"] = len(got) == len(set(got))
    finally:
        q_ij_tws.stop()
        q_ij_ref.stop()

    # --- scenario 3: the EventTime/TTL platform gate -------------------
    # Spark forbids state TTL in EventTime time mode
    # (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL); the
    # operator gates it loudly at plan time — and needs no TTL anyway:
    # scenario 1's c-session proves timers clear idle state on
    # watermark passage. The ProcessingTime TTL story is tws_probe.py.
    s3 = spark.readStream.schema(SCHEMA).parquet(src)
    try:
        sessionized_tws(s3, "ts", "k", GAP_MS, state_ttl_ms=1500)
        result["ttl_gate_typed"] = False
    except ValueError as e:
        result["ttl_gate_typed"] = "EventTime" in str(e)

    result["ok"] = bool(
        result.get("sessions_parity")
        and result.get("ij_parity")
        and result.get("ij_no_duplicates")
        and result.get("ttl_gate_typed")
    )
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
