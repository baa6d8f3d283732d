"""Unit tests for the declarative CorpusPipeline builder. The full
composition is oracle-gated end-to-end by q98 (same oracle as q69);
these cover the builder mechanics: ordering, schema preservation,
stage parameterization, and the escape hatch."""

from __future__ import annotations

from pyspark.sql import functions as F

from sif_spark.pipeline import CorpusPipeline


def test_describe_lists_stages_in_order():
    p = (
        CorpusPipeline()
        .quality_filter(min_score=0.4)
        .language_filter(exclude=("und",))
        .exact_dedup()
        .near_dup_dedup(threshold=0.3, containment_threshold=0.8)
        .mixture({"a": 1})
    )
    names = p.describe()
    assert names[0].startswith("quality_filter")
    assert names[1].startswith("language_filter")
    assert names[2].startswith("exact_dedup")
    assert "containment=0.8" in names[3]
    assert names[4].startswith("mixture")


def test_run_applies_stages_in_order_and_preserves_schema(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "s0"),
            (2, "alpha beta gamma delta", "s0"),  # exact dup of 1
            (3, "other words entirely here", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    out = CorpusPipeline().exact_dedup().run(docs)
    assert set(out.columns) == {"doc_id", "text", "source"}
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_line_dedup_stage_keeps_extra_columns(spark):
    docs = spark.createDataFrame(
        [(1, "nav\nbody one", "s0"), (2, "nav\nbody two", "s1")],
        "doc_id long, text string, source string",
    )
    out = CorpusPipeline().line_dedup(mode="drop_common", min_docs=2).run(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["text"] == "body one" and rows[1]["source"] == "s0"
    assert rows[2]["text"] == "body two" and rows[2]["source"] == "s1"


def test_custom_stage_and_gopher_filter(spark):
    long_doc = " ".join(["the", "and", "with"] * 20)
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "too short")], "doc_id long, text string"
    )
    p = (
        CorpusPipeline()
        .gopher_filter(min_words=10)
        .custom("tag", lambda df: df.withColumn("tagged", F.lit(True)))
    )
    out = p.run(docs).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["tagged"] is True
    assert p.describe()[1] == "tag"


def test_mixture_stage_filters_by_rate(spark):
    rows = [(i, "s0" if i < 40 else "s1", "w " * 50) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = CorpusPipeline().mixture({"s0": 1, "s1": 1}).run(docs)
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["s1"] == 20  # scarcer stratum kept fully
    assert 0 < by_src["s0"] < 40  # downsampled


def test_checkpoint_resume_skips_completed_stages(spark, tmp_path):
    """A re-run over an existing checkpoint dir must NOT re-execute
    completed stages (observed via a counting custom stage), must
    invalidate when a stage's parameters change, and must ignore
    uncommitted (no _SUCCESS) checkpoints."""
    import os

    docs = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(10)],
        "doc_id long, text string",
    )
    calls = {"n": 0}

    def counting(df):
        calls["n"] += 1
        return df.filter(F.col("doc_id") < 8)

    ckpt = str(tmp_path / "ck")

    def build(limit):
        return (
            CorpusPipeline()
            .custom("counting", counting)
            .custom(f"limit{limit}", lambda df: df.filter(F.col("doc_id") < limit))
        )

    out1 = build(6).run(docs, checkpoint_dir=ckpt, collect_stats=True)
    assert out1.count() == 6 and calls["n"] == 1
    p1 = build(6)
    assert p1.run(docs, checkpoint_dir=ckpt).count() == 6
    assert calls["n"] == 1  # stage 0 resumed from checkpoint, not re-run
    # changing stage 1's parameter changes its fingerprint: stage 0
    # still resumes, stage 1 recomputes
    out3 = build(4).run(docs, checkpoint_dir=ckpt)
    assert out3.count() == 4 and calls["n"] == 1
    # a checkpoint without _SUCCESS is treated as absent
    stage0 = [d for d in os.listdir(ckpt) if d.startswith("stage_00")][0]
    os.remove(os.path.join(ckpt, stage0, "_SUCCESS"))
    assert build(6).run(docs, checkpoint_dir=ckpt).count() == 6
    assert calls["n"] == 2  # recomputed
    # stats recorded per stage
    p = build(6)
    p.run(docs, checkpoint_dir=str(tmp_path / "ck2"), collect_stats=True)
    assert [n for n, _ in p.last_stats] == ["counting", "limit6"]
    assert [c for _, c in p.last_stats] == [8, 6]


def test_from_config_builds_and_rejects_unknown(spark):
    from sif_spark.pipeline import from_config

    pipe = from_config(
        {
            "stages": [
                {"stage": "quality_filter", "min_score": 0.4},
                {"stage": "language_filter", "exclude": ["und"]},
                {"stage": "exact_dedup"},
                {"stage": "mixture", "weights": {"s0": 1}},
            ]
        }
    )
    names = pipe.describe()
    assert names[0] == "quality_filter(min_score=0.4)"
    assert "exclude=('und',)" in names[1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown pipeline stage"):
        from_config({"stages": [{"stage": "nope"}]})
    # config-built pipeline actually runs
    docs = spark.createDataFrame(
        [(1, "a b", "s0"), (2, "a b", "s0")], "doc_id long, text string, source string"
    )
    out = from_config({"stages": [{"stage": "exact_dedup"}]}).run(docs)
    assert out.count() == 1


def test_checkpoint_run_writes_manifest(spark, tmp_path):
    import json

    docs = spark.createDataFrame(
        [(i, "w " * 5) for i in range(4)], "doc_id long, text string"
    )
    ckpt = str(tmp_path / "m")
    p = CorpusPipeline().custom("noop", lambda df: df)
    p.run(docs, checkpoint_dir=ckpt, collect_stats=True)
    m = json.loads(open(f"{ckpt}/manifest.json").read())
    assert m["stages"] == ["noop"]
    assert len(m["fingerprints"]) == 1
    assert m["stats"] == [["noop", 4]]


def test_near_dup_dedup_with_custom_id_col(spark):
    """ADVICE r5 (medium): near_dup_clusters emits hard-coded
    doc_id/cluster_id — a pipeline built with a non-default id_col
    crashed with UNRESOLVED_COLUMN in the near_dup_dedup stage."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " lambda"),
         (3, "one two three four five six seven eight nine ten")],
        "uid long, text string",
    )
    out = (
        CorpusPipeline(id_col="uid")
        .near_dup_dedup(k=2, threshold=0.3)
        .run(docs)
    )
    kept = sorted(r["uid"] for r in out.collect())
    assert kept == [1, 3]  # keep-min survivor of {1,2}, singleton 3
    assert "uid" in out.columns and "doc_id" not in out.columns


def test_checkpoint_input_token_invalidates(spark, tmp_path):
    """ADVICE r5: same stage names over DIFFERENT input must not
    resume stale parquet — input_token is mixed into the fingerprint
    chain so each input snapshot gets its own stage directories."""
    ckpt = str(tmp_path / "tok")
    d1 = spark.createDataFrame([(i, "x") for i in range(3)], "doc_id long, text string")
    d2 = spark.createDataFrame([(i, "x") for i in range(7)], "doc_id long, text string")
    p = CorpusPipeline().custom("noop", lambda df: df)
    out1 = p.run(d1, checkpoint_dir=ckpt, input_token="snap=2026-08-13")
    assert out1.count() == 3
    out2 = p.run(d2, checkpoint_dir=ckpt, input_token="snap=2026-08-14")
    assert out2.count() == 7, "new input_token must recompute, not resume"
    # same token DOES resume (stale d1 output served despite d2 input —
    # the documented single-snapshot contract)
    out3 = p.run(d2, checkpoint_dir=ckpt, input_token="snap=2026-08-13")
    assert out3.count() == 3


def test_daily_ingest_two_epochs_and_resume(spark, tmp_path):
    """The two-epoch refresh contract (q119's unit shape): day-2
    ingest drops duplicates of day-1 CONTENT via the committed stores,
    and a committed epoch resumes WITHOUT touching its input at all —
    proven by deleting day-1's input files before the re-run."""
    import shutil

    from sif_spark.pipeline import daily_ingest

    day1_src = str(tmp_path / "day1")
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # exact dup -> keep 1
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(day1_src)
    day1 = spark.read.parquet(day1_src)
    s1 = daily_ingest(day1, store, "day1", hash_fn="md5")
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3]

    # epoch committed -> resume must not read the input: delete it
    lazy_day1 = spark.read.parquet(day1_src)
    shutil.rmtree(day1_src)
    resumed = daily_ingest(lazy_day1, store, "day1", hash_fn="md5")
    assert sorted(r["doc_id"] for r in resumed.collect()) == [1, 3]

    day2 = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # dup of day-1 -> dropped
            (11, "totally new content with different words entirely"),
            (12, "totally new content with different words entirely"),  # within-day2 dup -> keep 11
            (13, "one two three four five six seven eight nine TEN"),  # near-dup of 3
        ],
        "doc_id long, text string",
    )
    s2 = daily_ingest(day2, store, "day2", hash_fn="md5")
    got = sorted(r["doc_id"] for r in s2.collect())
    assert 10 not in got          # exact store lookup dropped day-1 content
    assert 11 in got and 12 not in got  # within-day2 exact keep-min
    # doc 13 shares 7/10 trigram shingles with day-1 doc 3 (J = 0.54
    # over the union): above the 0.5 threshold -> dropped by the
    # SIGNATURE store (day-1 text no longer even exists on disk)
    assert 13 not in got
    assert got == [11]


def test_daily_ingest_third_epoch_unions_all_history(spark, tmp_path):
    """Epoch 3 must dedup against the UNION of epochs 1+2's stores
    (the multi-epoch history read path): content first seen on day 1
    AND content first seen on day 2 are both dropped on day 3."""
    from sif_spark.pipeline import daily_ingest

    store = str(tmp_path / "store3")
    day = "doc_id long, text string"
    d1 = spark.createDataFrame([(1, "aa bb cc dd ee ff")], day)
    d2 = spark.createDataFrame([(10, "gg hh ii jj kk ll")], day)
    d3 = spark.createDataFrame(
        [
            (20, "aa bb cc dd ee ff"),   # dup of day-1 content
            (21, "gg hh ii jj kk ll"),   # dup of day-2 content
            (22, "mm nn oo pp qq rr"),   # genuinely new
        ],
        day,
    )
    daily_ingest(d1, store, "e1", hash_fn="md5")
    daily_ingest(d2, store, "e2", hash_fn="md5")
    s3 = daily_ingest(d3, store, "e3", hash_fn="md5")
    assert sorted(r["doc_id"] for r in s3.collect()) == [22]


def test_daily_ingest_rejects_incompatible_history_params(spark, tmp_path):
    """ADVICE r7: a history epoch built with different signature
    params (num_hashes/shingle_k/hash_fn) would silently never
    band-match tonight's batch — near-dup history dedup degrading to
    a no-op. Every epoch persists its sig params; an incompatible (or
    param-less) history epoch fails loudly."""
    import pytest

    from sif_spark.pipeline import daily_ingest

    store = str(tmp_path / "store")
    d1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    daily_ingest(d1, store, "e1", hash_fn="md5", num_hashes=32)
    d2 = spark.createDataFrame(
        [(2, "an entirely different document about ships")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="incompatible"):
        daily_ingest(d2, store, "e2", hash_fn="md5", num_hashes=16)
    with pytest.raises(ValueError, match="incompatible"):
        daily_ingest(d2, store, "e2", hash_fn="md5", shingle_k=5)
    # matching params proceed normally
    out = daily_ingest(d2, store, "e2", hash_fn="md5", num_hashes=32)
    assert out.count() == 1
    # an epoch with its params record deleted is unprovable -> loud
    import glob
    import os
    import shutil

    for p in glob.glob(f"{store}/epoch_*/sig_params"):
        shutil.rmtree(p)
    with pytest.raises(ValueError, match="no sig_params"):
        daily_ingest(
            spark.createDataFrame([(3, "third doc")], "doc_id long, text string"),
            store, "e3", hash_fn="md5", num_hashes=32,
        )
    # a committed (_SUCCESS-marked) but unreadable record is not "no
    # record": the read error propagates
    for p in glob.glob(f"{store}/epoch_*"):
        os.makedirs(f"{p}/sig_params")
        for name, data in (("_SUCCESS", b""), ("part-0.parquet", b"garbage")):
            with open(f"{p}/sig_params/{name}", "wb") as fh:
                fh.write(data)
    with pytest.raises(Exception) as err:
        daily_ingest(
            spark.createDataFrame([(3, "third doc")], "doc_id long, text string"),
            store, "e3", hash_fn="md5", num_hashes=32,
        )
    assert not isinstance(err.value, ValueError), err.value


def _kinds_docs(spark):
    rows = [
        (i, f"the cat and dog sat with the word{i % 7} here\nline {i % 3}",
         f"s{i % 2}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_checkpoint_read_back_schema_equals_inferred(spark, tmp_path):
    """A checkpointed stage is read back under the schema of the frame
    just written (no footer-inference job): for every stage kind that
    schema equals the one Spark infers from the written files."""
    import glob

    ckpt = str(tmp_path / "ck")
    docs = _kinds_docs(spark)
    full = (
        CorpusPipeline()
        .quality_filter(0.0)
        .language_filter(exclude=())
        .gopher_filter(min_words=1)
        .exact_dedup()
        .line_dedup(mode="drop_common", min_docs=100)
        .near_dup_dedup(threshold=0.9)
        .mixture({"s0": 1, "s1": 1})
        .stratified_sample("source", {"s0": 100, "s1": 100})
        .custom("nested", lambda df: df.withColumn(
            "meta", F.struct(F.lit(1).alias("a"), F.array(F.col("doc_id")).alias("b"))
        ))
    )
    for i in range(len(full.stages)):
        # stages < i resume from their checkpoints; stage i is written
        # and read back by this run
        prefix = CorpusPipeline()
        prefix.stages = full.stages[: i + 1]
        out = prefix.run(docs, checkpoint_dir=ckpt)
        (path,) = glob.glob(f"{ckpt}/stage_{i:02d}_*")
        assert out.schema == spark.read.parquet(path).schema, full.stages[i].name


def test_checkpointed_run_job_count(spark, tmp_path):
    """Five checkpointed stages start 17 jobs: each stage's own jobs and
    no schema-inference job for its read-back (a read-back that infers
    the schema from the footers adds one job per stage). The near-dup
    stage's clusters are a LocalTableScan, so no job reads them from a
    Python RDD."""
    docs = _kinds_docs(spark)
    pipe = (
        CorpusPipeline()
        .quality_filter(0.0)
        .language_filter(exclude=())
        .exact_dedup()
        .near_dup_dedup(threshold=0.9)
        .mixture({"s0": 1, "s1": 1})
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    pipe.run(docs, checkpoint_dir=str(tmp_path / "ck"))
    assert sched.nextJobId() - j0 == 17
