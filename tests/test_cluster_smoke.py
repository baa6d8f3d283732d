"""In-suite guard for the round-6 local-cluster fix (CLUSTER.md).

The bug class: closures referencing sif_spark modules pickle the
module by REFERENCE, which resolves fine in local[n] (forked workers
inherit the driver's sys.path) and explodes with ModuleNotFoundError
on any real multi-process master unless `session._ship_package` ships
the package zip. 16 catalog entries hit this before the fix; the
zip-layout unit test (test_frame.py) pins the archive shape, and THIS
test pins the actual cross-process execution: a subprocess (one JVM
per process — the suite's local[8] session can't be re-mastered)
starts `local-cluster[2,2,1024]` and runs a mapInPandas job whose
closure calls a sif_spark module function, forcing the executor-side
unpickle + module import on a worker that never saw the checkout.

Costs ~20 s (worker JVM spin-up) and guards the single
highest-impact regression class the repo has had.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.cluster

import os
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from sif_spark.session import get_session

spark = get_session("cluster_smoke_child", shuffle_partitions=4)
assert spark.sparkContext.master.startswith("local-cluster"), spark.sparkContext.master

# module-referencing closure: text.tokenize runs INSIDE mapInPandas on
# the executor, so the worker must import sif_spark from the shipped zip
def count_tokens(batches):
    from sif_spark.operators import multimodal as mm  # executor-side import
    import pandas as pd
    for pdf in batches:
        yield pd.DataFrame({
            "n": [len(mm.decode_ppm(mm.encode_ppm(
                __import__("numpy").zeros((4, 4, 3), dtype="uint8")))) ]
            * len(pdf)
        })

df = spark.range(0, 64, 1, 8).mapInPandas(count_tokens, "n long")
got = df.groupBy().sum("n").collect()[0][0]
assert got == 64 * 4, got
print("CLUSTER_SMOKE_OK")
spark.stop()
"""


def test_module_closure_executes_on_real_executors():
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local-cluster[2,2,1024]",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, ROOT],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CLUSTER_SMOKE_OK" in proc.stdout
