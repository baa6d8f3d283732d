"""The two workloads: one pass each, from generated input to a checked
result, with every call into sif_spark wrapped in a named span.

A pass returns a ``PassResult``: the latency and outcome of each op
(write or read), the bytes it keeps on disk, and per-pass counters that
only the traced run reports. An op that raises or fails its output check
is counted as failed; the pass then stops, because what follows depends
on it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs as I
from perfbench.trace import Tracer


class CheckFailed(AssertionError):
    """An op's output differs from the expected result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    span: str
    kind: str | None   # "write", "read", or None (not a latency sample)
    latency_s: float
    ok: bool


@dataclass
class PassResult:
    ops: list[Op] = field(default_factory=list)
    disk_bytes: int = 0         # bytes left on disk at pass end
    live_bytes: int = 0         # Arrow bytes of the live rows at pass end
    untimed_s: float = 0.0      # benchmark-side analysis inside the pass
    lags: list[float] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    knn: list = field(default_factory=list)   # (qid, nid, rank) rows

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


class PassAborted(Exception):
    pass


class Ctx:
    """What a pass needs: the session, the tracer, a fresh directory."""

    def __init__(self, spark, tracer: Tracer, pass_dir: str, plan, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.dir = pass_dir
        self.plan = plan
        self.traced = traced
        self.result = PassResult()

    @contextmanager
    def op(self, span: str, kind: str | None = None):
        """Run one call into sif_spark as span ``span``; ``kind`` "write"
        or "read" makes its latency an end-to-end sample."""
        t0 = time.time()
        ok = False
        try:
            with self.tracer.span(span):
                yield
            ok = True
        except Exception:  # a raising op and a failed check both count as failed
            print(f"op {span} failed:", file=sys.stderr)
            traceback.print_exc()
        finally:
            self.result.ops.append(Op(span, kind, time.time() - t0, ok))
        if not ok:
            raise PassAborted(span)

    @contextmanager
    def untimed(self):
        t0 = time.time()
        try:
            yield
        finally:
            self.result.untimed_s += time.time() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# corpus_clean
# ---------------------------------------------------------------------------

FRAME_READ_ROUNDS = 3
PIPELINE_SPANS = ("pipeline.quality_filter", "pipeline.language_filter",
                  "pipeline.exact_dedup", "pipeline.near_dup_dedup", "pipeline.mixture")


def _vowels(pdf):
    import pandas as pd

    return pd.DataFrame({"doc_id": pdf["doc_id"],
                         "vowels": pdf["text"].str.count("[aeiou]").astype("int64")})


def _stamped(fn, stamps: list[float]):
    def run(df):
        stamps.append(time.time())
        return fn(df)
    return run


def corpus_clean_pass(ctx: Ctx) -> PassResult:
    from pyspark.sql import functions as F

    from sif_spark.accumulators import Adder, Compose, Counter
    from sif_spark.frame import SifFrame
    from sif_spark.operators.text import token_count
    from sif_spark.pipeline import CorpusPipeline

    plan: I.CorpusPlan = ctx.plan
    res, spark = ctx.result, ctx.spark
    ckpt = os.path.join(ctx.dir, "ckpt")
    pipe = (CorpusPipeline()
            .quality_filter(I.QUALITY_MIN)
            .language_filter()
            .exact_dedup()
            .near_dup_dedup(k=3, threshold=I.NEAR_DUP_THRESHOLD)
            .mixture(I.MIX_WEIGHTS, resolution=I.MIX_RESOLUTION))
    # CorpusPipeline.run calls each stage's fn, then writes its output:
    # stage i runs from its fn call until the next stage's fn call.
    bounds: list[float] = []
    for stage in pipe.stages:
        stage.fn = _stamped(stage.fn, bounds)
    t0 = time.time()
    try:
        out = pipe.run(spark.read.parquet(plan.path), checkpoint_dir=ckpt, input_token=ctx.dir)
        ok = True
    except Exception:  # counted as failed stage commits below
        traceback.print_exc()
        ok = False
    bounds.append(time.time())
    bounds[0] = t0
    for i in range(len(bounds) - 1):
        ctx.tracer.mark(PIPELINE_SPANS[i], bounds[i], bounds[i + 1])
        res.ops.append(Op(PIPELINE_SPANS[i], "write", bounds[i + 1] - bounds[i], ok))
    if not ok:
        raise PassAborted("pipeline")

    frame = SifFrame(out).map(n_tok=token_count("text"))
    # several consumers read the cleaned corpus, and three rounds give the
    # read p50 nine samples rather than three
    for _ in range(FRAME_READ_ROUNDS):
        with ctx.op("frame.reduce", "read"):
            rows = frame.reduce(["source"], F.count(F.lit(1)).alias("docs"),
                                F.sum("n_tok").alias("toks")).collect()
            got = {r["source"]: (r["docs"], r["toks"]) for r in rows}
            expect(got == {s: v for s, v in plan.per_source.items() if v[0]},
                   f"per-source reduce {got} != {plan.per_source}")
        with ctx.op("frame.accumulate", "read"):
            docs, toks = frame.accumulate(Compose(Counter(), Adder("n_tok")))
            expect((docs, int(toks)) == (len(plan.survivors),
                                         sum(t for _, t in plan.per_source.values())),
                   f"accumulate ({docs}, {toks})")
        with ctx.op("frame.map_rows", "read"):
            rows = SifFrame(out).map_rows(_vowels, "doc_id long, vowels long").collect()
            got = {r["doc_id"] for r in rows}
            expect(got == plan.survivors,
                   f"survivors: {len(got)} rows, {len(got ^ plan.survivors)} differ from truth")
            vowels = sum(r["vowels"] for r in rows)
            expect(vowels == plan.vowels, f"map_rows vowels {vowels} != {plan.vowels}")
    with ctx.untimed():
        res.disk_bytes = dir_bytes(ckpt)
    res.live_bytes = plan.live_bytes
    return res


# ---------------------------------------------------------------------------
# ann_ingest
# ---------------------------------------------------------------------------

STREAM_DURATIONS = {"stream.trigger_s": "triggerExecution", "stream.add_batch_s": "addBatch",
                    "stream.latest_offset_s": "latestOffset",
                    "stream.query_planning_s": "queryPlanning", "stream.wal_commit_s": "walCommit"}


def _stream_counters(query) -> dict[str, float]:
    batches = {}
    for p in query.recentProgress:
        if p.get("numInputRows", 0) > 0:
            batches[p["batchId"]] = p.get("durationMs", {})
    out = {"stream.batches": float(len(batches))}
    for name, key in STREAM_DURATIONS.items():
        out[name] = sum(d.get(key, 0) for d in batches.values()) / 1e3
    return out


def ann_ingest_pass(ctx: Ctx) -> PassResult:
    from sif_spark.operators import similarity as sim
    from sif_spark.table import SifTable

    plan: I.AnnPlan = ctx.plan
    res, spark = ctx.result, ctx.spark
    cpath = os.path.join(ctx.dir, "corpus")
    ipath = os.path.join(ctx.dir, "index")
    with ctx.op("table.create", "write"):
        corpus = SifTable.create(spark, cpath, spark.read.parquet(plan.day1), key_col="vec_id")
    with ctx.op("similarity.build_ivf_index"):
        seed_index = sim.build_ivf_index(spark.read.parquet(plan.day1),
                                         n_cells=I.ANN_N_CELLS, max_iter=2)
    with ctx.op("stream.start"):
        query = sim.maintain_ivf_index_table(
            spark, cpath, ipath, seed_index.centroids, os.path.join(ctx.dir, "ckpt"),
            app_id="perfbench")
    try:
        with ctx.op("stream.catch_up"):
            query.processAllAvailable()
        for kind, path in plan.writes:
            with ctx.op(f"table.{kind}", "write"):
                df = spark.read.parquet(path)
                corpus.append(df) if kind == "append" else corpus.upsert(df)
            committed = time.time()
            with ctx.op("stream.catch_up"):
                query.processAllAvailable()
            res.lags.append(time.time() - committed)
        if ctx.traced:
            res.counters.update(_stream_counters(query))
    finally:
        query.stop()
        query.awaitTermination()
    n = len(plan.final_ids)
    with ctx.op("table.read"):
        assigned = SifTable(spark, ipath).read().select("nid", "cell")
        got_ids = {r["nid"] for r in assigned.select("nid").collect()}
        expect(got_ids == set(plan.final_ids.tolist()),
               f"index covers {len(got_ids)} ids, corpus has {n}")
        corpus_df = corpus.read()
    index = sim.IVFIndex(seed_index.centroids, assigned, vec_col="embedding", corpus_rows=n)
    pos = {int(v): i for i, v in enumerate(plan.final_ids)}
    unit = plan.final_vecs / np.linalg.norm(plan.final_vecs, axis=1, keepdims=True)
    qunit = plan.queries / np.linalg.norm(plan.queries, axis=1, keepdims=True)
    for path in plan.query_batches:
        with ctx.op("similarity.ivf_knn", "read"):
            rows = sim.ivf_knn(corpus_df, spark.read.parquet(path), k=I.ANN_K,
                               n_probe=I.ANN_N_PROBE, index=index).collect()
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["qid"], []).append(r)
            expect(len(by_q) == I.ANN_QUERIES_PER_BATCH, f"{len(by_q)} queries answered")
            for qid, rs in by_q.items():
                rs.sort(key=lambda r: r["rank"])
                expect([r["rank"] for r in rs] == list(range(1, I.ANN_K + 1)),
                       f"query {qid}: ranks {[r['rank'] for r in rs]}")
                q = qunit[qid - I.ANN_QID_BASE]
                want = [float(unit[pos[r["nid"]]] @ q) for r in rs]
                expect(np.allclose([r["cosine"] for r in rs], want, atol=1e-4),
                       f"query {qid}: cosines differ from the corpus vectors")
                expect(all(a >= b - 1e-9 for a, b in zip(want, want[1:])),
                       f"query {qid}: results not in cosine order")
                res.knn.extend((qid, r["nid"], r["rank"]) for r in rs)
    with ctx.untimed():
        res.disk_bytes = dir_bytes(cpath) + dir_bytes(ipath)
        res.live_bytes = I.vec_table(plan.final_ids, plan.final_vecs).nbytes
    return res


def recall_at_k(plan: I.AnnPlan, knn: list, k: int = I.ANN_K) -> tuple[float, int]:
    """Mean recall@k of the returned neighbours against numpy exact kNN,
    and the number of queries it averages over."""
    truth = I.exact_top_k(plan, k)
    got: dict[int, set] = {}
    for qid, nid, rank in knn:
        if rank <= k:
            got.setdefault(qid, set()).add(nid)
    hits = [len(got.get(I.ANN_QID_BASE + i, set()) & set(row.tolist())) / k
            for i, row in enumerate(truth)]
    return float(np.mean(hits)), len(hits)


@dataclass
class Workload:
    name: str
    make_inputs: object
    run_pass: object


WORKLOADS = {
    "corpus_clean": Workload("corpus_clean", I.corpus_clean_inputs, corpus_clean_pass),
    "ann_ingest": Workload("ann_ingest", I.ann_ingest_inputs, ann_ingest_pass),
}


def run_one_pass(workload: Workload, spark, tracer: Tracer, plan, pass_dir: str,
                 traced: bool) -> PassResult:
    ctx = Ctx(spark, tracer, pass_dir, plan, traced)
    os.makedirs(pass_dir, exist_ok=True)
    try:
        workload.run_pass(ctx)
    except PassAborted:
        pass
    finally:
        shutil.rmtree(pass_dir, ignore_errors=True)
    return ctx.result

