"""Memory-pressure sweep of the heavy catalog tail (round 9, VERDICT
r8 ask #7): run q69/q71/q98/q130 under local-cluster with deliberately
starved executors so Spark's unified memory manager must SPILL, and
assert the results still match the DuckDB oracle exactly — the
pcache/disk-spill discipline the reference implements by hand
(internal/pcache/cache.go:19-127, SURVEY §4.2) that this rebuild
inherits from Spark, now exercised rather than taken on faith.

Pressure levers: 2 single-core executor JVMs x 450 MB (Spark's
launch floor) with spark.memory.fraction=0.15 — execution+storage get
~22 MB per executor, so the cleaning pipelines' sorts/aggregations/
joins at sf0.1 must go through ExternalSorter spill files. (0.06 was
too far: pages stop fitting at all and tasks die with
UNABLE_TO_ACQUIRE_MEMORY before they can spill — the floor is "a few
pages per running task", not zero.) Spill bytes are read from the
driver's status REST API (task metrics aggregated per stage). Prints
one JSON line; recorded in SCALE.md.

Run:  python tools/spill_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa

SF = "/root/testdata/sf0.1"
ENTRIES = [
    "q69_corpus_clean",
    "q71_corpus_clean_containment",
    "q98_pipeline_declarative",
    "q130_span_dedup",
]


def _spill_totals(ui_port: int) -> tuple[int, int]:
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages?status=complete", timeout=30)
    )
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return mem, disk


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from check_oracle import compare_tables  # tools/ is on sys.path via __main__

    spark = (
        SparkSession.builder.master("local-cluster[2,1,450]")
        .appName("spill_probe")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "450m")
        .config("spark.memory.fraction", "0.15")
        .config("spark.executor.pyspark.memory", "1g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    from sif_spark.sources.parquet import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    result: dict = {"master": "local-cluster[2,1,450]", "memory_fraction": 0.15}
    failures = []
    for name in ENTRIES:
        t0 = time.time()
        try:
            atbl = qs[name](spark, SF).toArrow()
            dtbl = con.execute(oracles[name]).arrow()
            problems = compare_tables(atbl, dtbl)
        except Exception as e:  # noqa: BLE001
            problems = [f"error: {e}"]
        result[name] = {
            "rows": atbl.num_rows if isinstance(atbl, pa.Table) else None,
            "seconds": round(time.time() - t0, 1),
            "pass": not problems,
        }
        if problems:
            failures.append(name)
            result[name]["problems"] = [str(p)[:200] for p in problems]

    mem, disk = _spill_totals(4049)
    result["memory_bytes_spilled"] = mem
    result["disk_bytes_spilled"] = disk
    result["spilled"] = disk > 0 or mem > 0
    result["ok"] = not failures and result["spilled"]
    print(json.dumps(result))
    spark.stop()
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
