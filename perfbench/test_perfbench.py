"""Tests of the benchmark itself: seeded inputs, job attribution and
output checks. Run from the repository root:

    python3 -m pytest perfbench -q

The last two tests start one local Spark session (about a minute).
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench.measure import END_TO_END, per_layer_names, tail, unit  # noqa: E402
from perfbench.trace import OTHER, Job, Span, attribute  # noqa: E402

GENERATORS = (I.corpus_clean_inputs, I.ann_ingest_inputs)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("gen", GENERATORS, ids=lambda g: g.__name__)
def test_same_seed_same_bytes_other_seed_differs(gen, tmp_path):
    gen(7, str(tmp_path / "a"))
    gen(7, str(tmp_path / "b"))
    gen(8, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_corpus_truth_is_planted():
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        plan = I.corpus_clean_inputs(3, d)
    # every planted cluster keeps one member before the mixture samples
    assert 0 < len(plan.survivors) < I.CORPUS_BASE_DOCS
    assert sum(n for n, _ in plan.per_source.values()) == len(plan.survivors)


def test_attribute_partitions_jobs_by_submission_time():
    spans = [Span("a", 0.0, 1.0), Span("b", 1.0, 3.0), Span("a", 3.0, 4.0)]
    jobs = [Job(0, 0.2, 0.6, cpu_s=1.0), Job(1, 1.5, 2.5), Job(2, 2.0, 2.2),
            Job(3, 3.5, 3.9), Job(4, 5.0, 5.5)]
    out = attribute(spans, jobs, cores=4)
    assert sum(m["jobs"] for m in out.values()) == len(jobs)
    assert out["a"]["jobs"] == 2 and out["b"]["jobs"] == 2 and out[OTHER]["jobs"] == 1
    assert out["a"]["wall_s"] == pytest.approx(2.0)
    assert out["a"]["calls"] == 2
    # span a: 2.0 s wall, jobs busy 0.4 + 0.4 s
    assert out["a"]["driver_s"] == pytest.approx(1.2)
    # span b: the two overlapping jobs cover 1.0 s of its 2.0 s
    assert out["b"]["driver_s"] == pytest.approx(1.0)
    assert out["a"]["exec_cpu_s"] == pytest.approx(1.0)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 15) == (50.0, 1.0)
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0)
    assert tail(xs * 10) == (99.0, 99.0)


def test_benchmark_json_names_what_the_runs_print():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == unit(m["name"])


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from sif_spark.session import get_session

    s = get_session("perfbench-test")
    yield s
    s.stop()


def test_tracing_keeps_job_count_and_spans_sum_to_it(spark, tmp_path):
    from perfbench.trace import JobReader, Tracer
    from perfbench.workloads import WORKLOADS, run_one_pass

    wl = WORKLOADS["corpus_clean"]
    plan = wl.make_inputs(5, str(tmp_path / "in"))
    reader = JobReader(spark)
    counts = []
    for i, traced in enumerate((False, False, True)):
        tracer = Tracer()
        j0 = reader.job_count()
        res = run_one_pass(wl, spark, tracer, plan, str(tmp_path / f"p{i}"), traced)
        jobs = reader.job_count() - j0
        new = reader.new_jobs()
        assert res.failed == 0
        assert len(new) == jobs
        counts.append(jobs)
        if traced:
            layers = attribute(tracer.spans, new, cores=4)
            assert sum(m["jobs"] for m in layers.values()) == jobs
            assert layers[OTHER]["jobs"] == 0
    # the first pass is the cold one; the warm passes must agree
    assert counts[1] == counts[2]


def test_corrupted_result_is_counted_failed(spark, tmp_path):
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, run_one_pass

    wl = WORKLOADS["corpus_clean"]
    plan = wl.make_inputs(5, str(tmp_path / "in"))
    plan.vowels += 1  # the closure's true total no longer matches
    res = run_one_pass(wl, spark, Tracer(), plan, str(tmp_path / "p"), False)
    assert res.failed == 1
    assert not res.ops[-1].ok and res.ops[-1].span == "frame.map_rows"
