"""One benchmark run: generate inputs, start Spark, warm up, run passes
for the measured window, stop Spark, and turn the passes into metrics.

With tracing on, at least two passes run, every second one traced;
the status store is read after each traced pass (outside its timing),
and ``trace.overhead_s`` is the median over traced passes of the traced
pass's wall time minus that of the untraced pass that follows it.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from perfbench import procstat
from perfbench.trace import OTHER, JobReader, Tracer, attribute
from perfbench.workloads import WORKLOADS, recall_at_k, run_one_pass

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_PASSES = 1
# one untimed pass: a second does not fit the run-time budget, so the
# timed pass is the process's second, still on the JIT slope (SPEC.md)
WARMUP_PASSES = 1
# past this many seconds since the process started, only the passes a
# result needs are started (one; two when tracing), so a slow host
# still ends the run inside its time limit
LATE_S = 110

# Per-layer catalog: span -> its metrics. A span a workload never enters
# reads 0 there.
BASE = ("wall_s", "jobs", "driver_s", "exec_cpu_s")
SPANS: dict[str, tuple[str, ...]] = {
    **{s: BASE + ("shuffle_write_mb", "slot_util") for s in (
        "pipeline.quality_filter", "pipeline.language_filter", "pipeline.exact_dedup",
        "pipeline.near_dup_dedup", "pipeline.mixture")},
    "frame.reduce": BASE, "frame.accumulate": BASE, "frame.map_rows": BASE,
    "table.create": BASE + ("output_mb",),
    "table.append": BASE + ("output_mb",),
    "table.upsert": BASE + ("output_mb",),
    "table.read": BASE + ("input_mb",),
    "similarity.build_ivf_index": BASE,
    "stream.start": BASE,
    "stream.catch_up": BASE + ("shuffle_write_mb",),
    "similarity.ivf_knn": BASE + ("shuffle_write_mb", "slot_util"),
    OTHER: ("jobs", "exec_cpu_s"),
}
COUNTERS = (
    "stream.batches", "stream.trigger_s", "stream.add_batch_s", "stream.latest_offset_s",
    "stream.query_planning_s", "stream.wal_commit_s",
)
PROC = {"proc.driver_cpu_s": "driver", "proc.jvm_cpu_s": "jvm",
        "proc.pyworker_cpu_s": "pyworker"}
SESSION = ("session.start_s", "session.first_job_s", "session.warmup_s")
# Wall-clock metrics (pass time, op latencies) are in the details line, not
# here: on a shared 4-core host their spread over ten seeds (IQR / median)
# was 0.26-0.42, above any bound a comparison could use (SPEC.md).
END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb", "space_amp")


QUALITY = ("stream.index_lag_s", "similarity.recall_at_10")


def per_layer_names() -> list[str]:
    names = [f"{s}.{m}" for s, ms in SPANS.items() for m in ms]
    return (names + list(COUNTERS) + list(QUALITY) + list(PROC) + list(SESSION)
            + ["trace.overhead_s"])


def unit(name: str) -> str:
    if name == "cpu_s":
        return "CPU-s"
    if name.endswith(("_amp", "slot_util", "recall_at_10")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of TAIL_LADDER with at
    least ten samples beyond it (nearest-rank), else the median."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return p, xs[rank - 1]
    return 50.0, statistics.median(xs)


class _Pass:
    """One pass with its wall time, CPU by process class and jobs."""

    def __init__(self, res, wall: float, cpu: dict[str, float], jobs: int):
        self.res, self.wall, self.cpu, self.jobs = res, wall, cpu, jobs
        self.layers: dict[str, dict[str, float]] | None = None


def start_session(work: str):
    """Session up and first trivial job done (JVM + a Python worker)."""
    import sif_spark.streaming.tws_env as tws_env

    # the protobuf shim for transformWithState writes under /tmp; no
    # workload here uses transformWithState
    tws_env.ensure_protobuf_env = lambda: False
    from sif_spark.session import get_session

    t0 = time.time()
    spark = get_session("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    t1 = time.time()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()
    return spark, t1 - t0, time.time() - t1


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    exited. The JVM exits when its stdin closes."""
    me = os.getpid()
    spawned = [pid for pid in procstat.tree(me) if pid != me]
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except Exception:  # still running: killed below
        pass
    procstat.wait_gone(spawned)
    jvm.poll()


def measure(a, work: str) -> dict:
    wl = WORKLOADS[a.workload]
    t_gen = time.time()
    plan = wl.make_inputs(a.seed, os.path.join(work, "inputs"))
    gen_s = time.time() - t_gen
    spark, start_s, first_job_s = start_session(work)
    try:
        setup_s = procstat.since_start() - gen_s
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        reader = JobReader(spark)
        tracer = Tracer()
        n = 0

        def one(traced: bool) -> _Pass:
            nonlocal n
            n += 1
            tracer.reset()
            j0 = reader.job_count()
            c0 = procstat.cpu_by_class()
            t0 = time.time()
            res = run_one_pass(wl, spark, tracer, plan, os.path.join(work, f"pass{n:03d}"),
                               traced)
            wall = time.time() - t0 - res.untimed_s
            c1 = procstat.cpu_by_class()
            p = _Pass(res, wall, {k: c1[k] - c0[k] for k in c0}, reader.job_count() - j0)
            if traced:
                p.layers = attribute(tracer.spans, reader.new_jobs(), cores)
            elif a.trace:
                reader.new_jobs()  # skip this pass's jobs
            return p

        min_passes = 2 if a.trace else MIN_PASSES
        t_warm = time.time()
        warm = [one(False) for _ in range(WARMUP_PASSES)]
        warmup_s = time.time() - t_warm
        passes: list[_Pass] = []
        t_start = time.time()
        with procstat.PeakRss() as rss:
            while (time.time() - t_start < a.seconds or len(passes) < min_passes) and not (
                    procstat.since_start() > LATE_S and len(passes) >= min_passes):
                # traced runs go traced, untraced, traced, ...: each traced
                # pass is compared with the untraced pass after it
                passes.append(one(bool(a.trace) and len(passes) % 2 == 0))
    finally:
        stop_session(spark)

    ops = [o for p in passes for o in p.res.ops]
    failed = sum(p.res.failed for p in warm + passes)
    writes = [o.latency_s for o in ops if o.kind == "write" and o.ok]
    reads = [o.latency_s for o in ops if o.kind == "read" and o.ok]
    lags = [x for p in passes for x in p.res.lags]
    details = {
        "workload": a.workload, "seed": a.seed, "passes": len(passes),
        "input_gen_s": gen_s, "warmup_passes": WARMUP_PASSES,
        # the untimed warm-up pass first, then the timed passes
        "pass_walls_s": [p.wall for p in warm + passes],
        "pass_cpu_s": [sum(p.cpu.values()) for p in warm + passes],
        "pass_jobs": [p.jobs for p in warm + passes],
    }
    med = statistics.median
    recalls = [recall_at_k(plan, p.res.knn) for p in passes if p.res.knn]
    quality = {"stream.index_lag_s": med(lags) if lags else 0.0,
               "similarity.recall_at_10": med(r for r, _ in recalls) if recalls else 0.0}
    if recalls:
        details.update(recall_at_10=quality["similarity.recall_at_10"],
                       recall_queries=recalls[0][1], index_lag_s=quality["stream.index_lag_s"],
                       index_lag_samples=len(lags))
    if not a.trace:
        for kind, xs in (("write", writes), ("read", reads)):
            pct, val = tail(xs) if xs else (0.0, 0.0)
            details.update({f"{kind}_p50_s": med(xs) if xs else 0.0, f"{kind}_tail_pct": pct,
                            f"{kind}_tail_s": val, f"{kind}_samples": len(xs)})
        details["pass_s"] = med(p.wall for p in passes)
        metrics = {
            "setup_s": setup_s,
            "cpu_s": med(sum(p.cpu.values()) for p in passes),
            "peak_rss_mb": rss.peak,
            "space_amp": med(p.res.disk_bytes / max(1, p.res.live_bytes) for p in passes),
        }
    else:
        traced = [i for i, p in enumerate(passes) if p.layers is not None]
        metrics = {}
        for span, names in SPANS.items():
            for m in names:
                metrics[f"{span}.{m}"] = med(passes[i].layers.get(span, {}).get(m, 0.0)
                                             for i in traced)
        for c in COUNTERS:
            metrics[c] = med(passes[i].res.counters.get(c, 0.0) for i in traced)
        metrics.update(quality)
        for name, cls in PROC.items():
            metrics[name] = med(passes[i].cpu[cls] for i in traced)
        metrics.update({"session.start_s": start_s, "session.first_job_s": first_job_s,
                        "session.warmup_s": warmup_s,
                        "trace.overhead_s": med(passes[i].wall - passes[i + 1].wall
                                                for i in traced if i + 1 < len(passes))})
        details["span_jobs_match"] = all(
            sum(m["jobs"] for m in passes[i].layers.values()) == passes[i].jobs
            for i in traced)
        details["traced_passes"] = [i + WARMUP_PASSES for i in traced]
    return {
        "correct": failed == 0,
        "attempted": sum(len(p.res.ops) for p in warm + passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        "details": details,
    }
