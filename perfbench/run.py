"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_clean|ann_ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout and removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a JSON
object of details (per-pass walls, CPU and jobs, tail percentiles and
sample counts, index lag, recall@10). See ``perfbench/SPEC.md`` for what
each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_clean", "ann_ingest")
DRIVER_MEM = "2g"


def pin_env(work: str) -> None:
    """The environment the Spark JVM and its Python workers start with."""
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Spark's Python workers import sif_spark from PYTHONPATH; a
    # sys.path insert in the driver does not reach them.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for name in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, name), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher and the driver): temp files in the
    # checkout, and no hsperfdata files, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sif_spark", "session.py")):
        print("sif_spark is not in this checkout: nothing to benchmark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        pin_env(work)
        sys.path.insert(0, ROOT)
        from perfbench.measure import measure

        res = measure(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(res.pop("details"), sort_keys=True))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
