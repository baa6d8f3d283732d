"""Spans around the benchmark's calls into sif_spark, and the Spark jobs
each span started.

Spans are recorded by the benchmark's own code on the driver thread
(name, start, end; flat and never overlapping), in traced and untraced
runs alike: op latencies come from them. A traced run additionally
reads Spark's status store after each pass and assigns every job of the
pass to the span whose interval holds the job's submission time. Job
groups are not used: the table layer's pool threads drop local
properties and streaming batches run on the query's own thread, but a
submission time is always recorded. Jobs submitted outside every span
go to the span ``other``.
"""

from __future__ import annotations

import bisect
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

OTHER = "other"


@dataclass
class Span:
    name: str
    t0: float
    t1: float


@dataclass
class Job:
    job_id: int
    t0: float                 # submission, epoch seconds
    t1: float                 # completion (t0 when still unknown)
    run_s: float = 0.0        # executor run time of its stages
    cpu_s: float = 0.0        # executor CPU time of its stages
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time()))

    def mark(self, name: str, t0: float, t1: float) -> None:
        self.spans.append(Span(name, t0, t1))

    def reset(self) -> None:
        self.spans = []


def _items(seq):
    """Iterate a Scala collection returned over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobReader:
    """Reads jobs and their stage metrics from the SparkContext's status
    store (kept with the UI disabled). ``new_jobs`` returns the jobs
    submitted since the previous call."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._last_job = self.job_count() - 1
        self._seen_stages: set[int] = set()
        self._last_stage = -1

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def job_count(self) -> int:
        """Jobs ever submitted in this context (the next job id)."""
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def new_jobs(self) -> list[Job]:
        store = self._store()
        gw = self._sc._gateway
        stage_rows = {}
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        for sd in _items(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                                          None)):
            sid = int(sd.stageId())
            if sid <= self._last_stage:
                continue
            m = stage_rows.setdefault(sid, [0.0, 0.0, 0.0, 0.0, 0.0])
            m[0] += sd.executorRunTime() / 1e3
            m[1] += sd.executorCpuTime() / 1e9
            m[2] += sd.inputBytes() / 1e6
            m[3] += sd.outputBytes() / 1e6
            m[4] += sd.shuffleWriteBytes() / 1e6
        jobs = []
        for jd in _items(store.jobsList(None)):
            jid = int(jd.jobId())
            if jid <= self._last_job:
                continue
            t0 = _opt_ms(jd.submissionTime())
            t1 = _opt_ms(jd.completionTime())
            job = Job(jid, t0 or 0.0, t1 or t0 or 0.0)
            for sid in _items(jd.stageIds()):
                sid = int(sid)
                # a shuffle stage shared by several jobs runs once: the
                # first job that lists it is charged for it
                if sid in self._seen_stages or sid not in stage_rows:
                    continue
                self._seen_stages.add(sid)
                m = stage_rows[sid]
                job.run_s += m[0]
                job.cpu_s += m[1]
                job.input_mb += m[2]
                job.output_mb += m[3]
                job.shuffle_write_mb += m[4]
            jobs.append(job)
        jobs.sort(key=lambda j: j.job_id)
        if jobs:
            self._last_job = jobs[-1].job_id
        if stage_rows:
            self._last_stage = max(stage_rows)
        return jobs


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[Span], jobs: list[Job], cores: int) -> dict[str, dict[str, float]]:
    """Per span name: wall_s, calls, jobs, driver_s, exec_cpu_s,
    slot_util, input_mb, output_mb, shuffle_write_mb — summed over the
    span's calls. ``driver_s`` is span wall minus the union of its jobs'
    intervals (clipped to the span); ``slot_util`` is executor run time
    over ``cores`` x that union."""
    out: dict[str, dict[str, float]] = {}
    ordered = sorted(spans, key=lambda s: s.t0)
    starts = [s.t0 for s in ordered]
    owned: dict[int, list[Job]] = {i: [] for i in range(len(ordered))}
    other: list[Job] = []

    for job in jobs:
        i = bisect.bisect_right(starts, job.t0) - 1
        if i >= 0 and job.t0 <= ordered[i].t1:
            owned[i].append(job)
        else:
            other.append(job)

    def acc(name: str, wall: float, busy: float, js: list[Job]) -> None:
        m = out.setdefault(name, dict.fromkeys(
            ("wall_s", "calls", "jobs", "driver_s", "busy_s", "exec_cpu_s", "run_s",
             "input_mb", "output_mb", "shuffle_write_mb"), 0.0))
        m["wall_s"] += wall
        m["calls"] += 1
        m["jobs"] += len(js)
        m["driver_s"] += max(0.0, wall - busy)
        m["busy_s"] += busy
        for j in js:
            m["exec_cpu_s"] += j.cpu_s
            m["run_s"] += j.run_s
            m["input_mb"] += j.input_mb
            m["output_mb"] += j.output_mb
            m["shuffle_write_mb"] += j.shuffle_write_mb

    for i, sp in enumerate(ordered):
        js = owned[i]
        busy = _union_s([(max(j.t0, sp.t0), min(j.t1, sp.t1)) for j in js if j.t1 > sp.t0])
        acc(sp.name, sp.t1 - sp.t0, busy, js)
    acc(OTHER, 0.0, 0.0, other)
    out[OTHER]["calls"] = 0
    for m in out.values():
        m["slot_util"] = m["run_s"] / (cores * m["busy_s"]) if m["busy_s"] > 0 else 0.0
    return out
