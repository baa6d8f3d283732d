"""Deterministic per-entry instrument: run catalog entries once in a
fresh session and report the Spark JOB COUNT plus wall seconds. Job
counts are weather-immune — the round-14/15 adjudication pin for
streaming entries whose wall-clock swings 2-15x with external host load
on identical code.

Usage: python tools/entry_job_probe.py ENTRY [ENTRY ...] [--sf-dir D]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("entries", nargs="+")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = p.parse_args()

    from sif_spark.queries import QUERIES
    from sif_spark.session import get_session

    spark = get_session("entry-job-probe")
    spark.range(1).count()  # warm the session
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    out = {}
    for name in args.entries:
        # count ALL jobs (streams run theirs in their own groups) by the
        # scheduler's job-id counter: the status store's job list stops
        # growing at spark.ui.retainedJobs, which a multi-entry run passes
        jids0 = scheduler.nextJobId()
        t0 = time.time()
        QUERIES[name](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        jids1 = scheduler.nextJobId()
        out[name] = {"jobs": jids1 - jids0, "sec": round(dt, 3)}
        print(f"{name}: jobs={jids1 - jids0} sec={dt:.3f}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
