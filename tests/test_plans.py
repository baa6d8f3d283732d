"""Plan-audit regression tests: the physical properties that matter at
scale must hold — pushdown, pruning, broadcast, partial aggregation."""

from __future__ import annotations

from pathlib import Path

import pytest

from sif_spark.plans import audit, has_pushed_filter, join_strategies, scans
from sif_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_q02_filter_pushdown_and_pruning(spark):
    df = QUERIES["q02_filter_project"](spark, SF)
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_discount")
    (scan,) = scans(df)
    # projection+filter columns only — never the full 11-column table
    assert set(scan.read_columns) == {
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_timestamp_normalization_keeps_pushdown(spark):
    """Round-4 testdata ships tz-less timestamp[us]; read_table must
    surface plain (LTZ) TimestampType via the read conf, NOT a
    post-scan cast — a cast layer silently kills date-filter pushdown
    (q01 measured 2× slower with NTZ+cast)."""
    from pyspark.sql import types as T

    from sif_spark.sources.parquet import read_table

    for table, col in (("events", "ts"), ("lineitem", "l_shipdate")):
        dt = read_table(spark, SF, table).schema[col].dataType
        assert isinstance(dt, T.TimestampType), (table, col, dt)
    assert has_pushed_filter(QUERIES["q01_pricing_summary"](spark, SF), "l_shipdate")


def test_read_table_tolerates_only_a_refused_conf_write(spark):
    """read_table re-applies its read confs on the caller's session. A
    session that refuses a runtime conf write (CANNOT_MODIFY_CONFIG, an
    AnalysisException) still gets its table, normalized; any other
    error from the conf write raises."""
    from types import SimpleNamespace

    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from sif_spark.sources.parquet import read_table

    with pytest.raises(AnalysisException) as refused:
        spark.conf.set("spark.sql.warehouse.dir", "/elsewhere")

    def session(error):
        def refuse(key, value):
            raise error

        return SimpleNamespace(read=spark.read, conf=SimpleNamespace(set=refuse))

    df = read_table(session(refused.value), SF, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    with pytest.raises(RuntimeError, match="conf store gone"):
        read_table(session(RuntimeError("conf store gone")), SF, "events")


def test_q03_broadcast_joins(spark):
    df = QUERIES["q03_revenue_by_nation"](spark, SF)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in strategies


def test_q01_partial_aggregation(spark):
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q01_pricing_summary"](spark, SF))
    # partial (map-side) + final HashAggregate around one exchange
    assert text.count("HashAggregate") >= 2
    assert "Exchange" in text


def test_audit_summary_shape(spark):
    out = audit(QUERIES["q03_revenue_by_nation"](spark, SF))
    assert len(out["scans"]) == 4
    assert out["codegen_stages"] >= 1


def test_functions_module(spark):
    from sif_spark import functions as SF_fns

    df = spark.createDataFrame([("a", "b", 1.23)], "x string, y string, v double")
    row = df.select(
        SF_fns.key_columns("x", "y").alias("k"),
        SF_fns.cents("v").alias("c"),
        SF_fns.lower(SF_fns.col("x")).alias("lx"),
    ).collect()[0]
    assert isinstance(row["k"], int)
    assert row["c"] == 123
    assert row["lx"] == "a"


def test_salted_key_spreads(spark):
    from sif_spark import functions as SF_fns
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).withColumn("hot", F.lit("same-key"))
    n = (
        df.select(SF_fns.salted_key("hot", buckets=8).alias("b"))
        .select(F.countDistinct("b").alias("n"))
        .collect()[0]["n"]
    )
    assert n == 8


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketed tables: a join on the bucket key must not shuffle
    either side (zero hash-partitioning exchanges in the plan)."""
    import tempfile

    from pyspark.sql import functions as F

    from sif_spark.frame import SifFrame
    from sif_spark.plans import plan_string

    d = tempfile.mkdtemp(prefix="sif_bucket_")
    left = SifFrame(spark.range(0, 1000).withColumn("v", F.col("id") * 2))
    right = SifFrame(spark.range(0, 500).withColumn("w", F.col("id") + 1))
    left.write_bucketed("bkt_left", 4, ["id"], path=f"{d}/l", sort_by=["id"])
    right.write_bucketed("bkt_right", 4, ["id"], path=f"{d}/r", sort_by=["id"])
    joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
    text = plan_string(joined, "simple")
    assert "Exchange hashpartitioning" not in text
    assert joined.count() == 500


@pytest.mark.heavy
def test_no_global_windows_anywhere_in_catalog(spark):
    """Catalog-WIDE invariant (VERDICT r11 "Next round" #5, upgrading
    the r1-era enumerated list the same way r8 upgraded the
    CartesianProduct pin): NO entry may plan a partition-less Window
    (single-task global sort — the round-1 scale-killer in q32),
    except q31_moving_avg, whose window input is pre-aggregated to one
    row per calendar day (cardinality bounded at any corpus size —
    adjudicated in the r1 VERDICT). A NEW entry that plans a global
    window is now auto-caught instead of relying on the author to add
    it to a list."""
    from sif_spark.plans import global_windows

    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        if df.isStreaming:
            continue
        gw = global_windows(df)
        if gw:
            offenders[name] = gw
    assert set(offenders) <= {"q31_moving_avg"}, offenders


def test_ntile_distributed_matches_window_ntile(spark):
    """Distributed ntile must be bit-identical to the window function."""
    from pyspark.sql import Window, functions as F

    from sif_spark.operators.ranking import ntile_distributed

    df = spark.range(0, 1003).withColumn("v", (F.col("id") * 37) % 991)
    order = [F.col("v").desc(), F.col("id")]
    expected = df.withColumn("t", F.ntile(7).over(Window.orderBy(*order)))
    got = ntile_distributed(df, 7, order, tile_col="t")
    exp = {(r["id"], r["t"]) for r in expected.collect()}
    act = {(r["id"], r["t"]) for r in got.collect()}
    assert act == exp


def _vec_df(spark, n, name="vec_id", dim=4):
    """Deterministic non-zero embedding frame for LSH tests."""
    from pyspark.sql import functions as F

    comps = [
        ((F.col("id") * (i + 3)) % 7 - 3 + F.lit(0.5)).cast("float")
        for i in range(dim)
    ]
    return spark.range(0, n).select(
        F.col("id").alias(name), F.array(*comps).alias("embedding")
    )


def test_lsh_knn_shuffle_tier(spark):
    """VERDICT r2 'What's wrong' #1: the large-query tier must NOT force
    a query-side broadcast. With the auto-broadcast threshold disabled
    (emulating a beyond-broadcast query set), broadcast_queries=False
    must plan a shuffle join on the (table, bucket) key — and produce
    the identical result, since the candidate set is join-strategy-
    independent."""
    from sif_spark.operators.similarity import lsh_knn

    corpus = _vec_df(spark, 200)
    queries = _vec_df(spark, 15)
    kw = dict(k=3, dim=4, bits=2, tables=2, seed=7)

    bcast = lsh_knn(corpus, queries, broadcast_queries=True, **kw)
    assert "BroadcastHashJoin" in join_strategies(bcast)

    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        shuffled = lsh_knn(corpus, queries, broadcast_queries=False, **kw)
        strategies = join_strategies(shuffled)
        assert "BroadcastHashJoin" not in strategies, strategies
        assert any(s in strategies for s in ("SortMergeJoin", "ShuffledHashJoin")), strategies
        got = {(r["qid"], r["nid"], r["rank"]) for r in shuffled.collect()}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        if saved_aqe is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved_aqe)
    exp = {(r["qid"], r["nid"], r["rank"]) for r in bcast.collect()}
    assert got == exp


def test_ivf_knn_distributed_query_tier(spark):
    """ivf_knn's large-query tier: probe cells computed distributed
    (no driver collect of queries), candidates flow id-only, and with
    auto-broadcast disabled the cell join plans as a shuffle join.
    Full-probe (n_probe = n_cells) makes both tiers exact, so they
    must agree."""
    from sif_spark.operators.similarity import ivf_knn

    corpus = _vec_df(spark, 200)
    queries = _vec_df(spark, 15)
    kw = dict(k=3, n_cells=4, n_probe=4, max_iter=2, seed=7)

    bcast = ivf_knn(corpus, queries, broadcast_queries=True, **kw)
    exp = {(r["qid"], r["nid"], r["rank"]) for r in bcast.collect()}

    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        dist = ivf_knn(corpus, queries, broadcast_queries=False, **kw)
        strategies = join_strategies(dist)
        assert "BroadcastHashJoin" not in strategies, strategies
        got = {(r["qid"], r["nid"], r["rank"]) for r in dist.collect()}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got == exp


def test_ivf_knn_probe_list_is_a_local_scan(spark, tmp_path):
    """The driver-built query->cell probe list ships as Arrow and plans
    as a LocalTableScan: no ExistingRDD scan (a Python RDD whose tasks
    start Python workers to do no Python work) in the executed plan."""
    from sif_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn,
        load_ivf_index,
        save_ivf_index,
    )

    corpus = _vec_df(spark, 200)
    queries = _vec_df(spark, 15)
    save_ivf_index(build_ivf_index(corpus, n_cells=4, max_iter=2, seed=7), str(tmp_path))
    index = load_ivf_index(spark, str(tmp_path))
    out = ivf_knn(corpus, queries, k=3, n_probe=2, index=index)
    assert len(out.collect()) == 15 * 3
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in executed, executed
    assert "LocalTableScan" in executed, executed


def _write_plans(spark, fn):
    """The physical plans of the SQL executions ``fn`` runs (the status
    store's record, once the listener bus has caught up)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    seen = {e.executionId() for e in _seq(store.executionsList())}
    fn()
    bus.waitUntilEmpty()
    return [
        e.physicalPlanDescription()
        for e in _seq(store.executionsList())
        if e.executionId() not in seen
    ]


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def test_driver_built_records_are_local_scans(spark, tmp_path):
    """save_ivf_index's centroids and meta and daily_ingest's sig_params
    record are written from LocalTableScans: no ExistingRDD scan (a
    Python RDD whose tasks start Python workers) in any write's plan,
    and each record reads back with the values and types it had."""
    import glob

    import numpy as np

    from sif_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from sif_spark.pipeline import daily_ingest

    index = build_ivf_index(_vec_df(spark, 60), n_cells=3, max_iter=2, seed=7)
    ivf = str(tmp_path / "ivf")
    plans = _write_plans(spark, lambda: save_ivf_index(index, ivf))
    cent = spark.read.parquet(f"{ivf}/centroids")
    assert cent.schema.simpleString() == "struct<cell:int,vector:array<double>>"
    got = {r["cell"]: r["vector"] for r in cent.collect()}
    assert got == {i: [float(x) for x in c] for i, c in enumerate(index.centroids)}
    meta = spark.read.parquet(f"{ivf}/meta")
    assert meta.schema.simpleString() == (
        "struct<vec_col:string,dim:int,corpus_rows:bigint>"
    )
    assert [tuple(r) for r in meta.collect()] == [("embedding", 4, 60)]
    back = load_ivf_index(spark, ivf)
    assert np.array_equal(back.centroids, index.centroids)
    assert (back.vec_col, back.dim, back.corpus_rows) == ("embedding", 4, 60)

    docs = spark.range(6).selectExpr("id AS doc_id", "concat('a b c d ', id) AS text")
    store = str(tmp_path / "store")
    plans += _write_plans(
        spark, lambda: daily_ingest(docs, store, "d1", hash_fn="md5", num_hashes=16)
    )
    (params,) = glob.glob(f"{store}/epoch_*/sig_params")
    rec = spark.read.parquet(params)
    assert rec.schema.simpleString() == (
        "struct<num_hashes:int,shingle_k:int,hash_fn:string,"
        "id_type:string,store_buckets:int>"
    )
    assert [tuple(r) for r in rec.collect()] == [(16, 3, "md5", "bigint", 0)]

    records = [
        p for p in plans
        if "InsertIntoHadoopFsRelationCommand" in p
        and any(f"/{n}," in p for n in ("centroids", "meta", "sig_params"))
    ]
    assert len(records) == 3, plans
    for p in records:
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p


def test_driver_tier_clusters_are_a_local_scan(spark):
    """near_dup_clusters' driver union-find tier hands its (doc_id,
    cluster_id) rows to the JVM as Arrow: the result plans as a
    LocalTableScan with no ExistingRDD (a Python RDD whose tasks start
    Spark's RDD worker daemon), keeps the pair ids' type, and holds one
    row per node labelled with its component's minimum id."""
    from sif_spark.operators.dedup import near_dup_clusters
    from sif_spark.sources.memory import local_frame

    edges = {"a": [5, 2, 9, 7, 7], "b": [2, 1, 8, 9, 3]}
    want = {1: 1, 2: 1, 5: 1, 3: 3, 7: 3, 8: 3, 9: 3}
    for typ, conv in (("bigint", int), ("string", str)):
        pairs = local_frame(
            spark, f"a {typ}, b {typ}", {k: [conv(x) for x in v] for k, v in edges.items()}
        )
        out = near_dup_clusters(pairs, id_a="a", id_b="b")
        assert out.schema.simpleString() == (
            f"struct<doc_id:{typ},cluster_id:{typ}>"
        )
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
            conv(d): conv(c) for d, c in want.items()
        }
        assert out.count() == len(want)
        executed = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in executed and "ExistingRDD" not in executed, executed


def test_near_dup_dedup_checkpoint_is_one_file(spark, tmp_path):
    """A checkpointed near_dup_dedup over a 4-partition corpus writes its
    stage as one file: the anti-join against the driver tier's
    LocalTableScan stays a sort-merge join (a broadcast would keep the
    corpus's 4 partitions, one file each), and the write's plan reads no
    ExistingRDD but the stage's own localCheckpoint of the corpus."""
    import glob

    from sif_spark.pipeline import CorpusPipeline

    docs = spark.range(40).repartition(4).selectExpr(
        "id AS doc_id",
        "concat('the cat and the dog sat on the mat near word ', id % 5) AS text",
    )
    ck = str(tmp_path / "ck")
    pipe = CorpusPipeline().near_dup_dedup(threshold=0.9)
    plans = _write_plans(spark, lambda: pipe.run(docs, checkpoint_dir=ck))
    (stage,) = glob.glob(f"{ck}/stage_00_*")
    assert len(glob.glob(f"{stage}/*.parquet")) == 1
    kept = spark.read.parquet(stage).collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 1, 2, 3, 4]
    (write,) = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert "SortMergeJoin" in write and "LocalTableScan" in write, write
    rdds = [
        ln for ln in write.splitlines()
        if ln.startswith("Arguments:") and "ExistingRDD" in ln
    ]
    assert rdds and all(" at localCheckpoint " in ln for ln in rdds), rdds


def test_no_python_row_frames_outside_memory_source():
    """Driver-built frames reach the JVM as Arrow: no module of
    sif_spark/ but sources/memory.py calls createDataFrame (over Python
    rows that is a Python RDD, read by Python tasks)."""
    import ast

    import sif_spark

    root = Path(sif_spark.__file__).parent
    calls = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in sorted(root.rglob("*.py"))
        if f.relative_to(root) != Path("sources/memory.py")
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "createDataFrame"
    ]
    assert calls == []


def test_global_rank_plan_flat_at_high_partition_count(spark):
    """VERDICT r2 'What's wrong' #2: the per-partition rank offsets must
    ship as a broadcast-joined frame, not an O(#partitions) CASE chain —
    plan size must stay flat from 8 to 1000 partitions."""
    from pyspark.sql import functions as F

    from sif_spark.operators.ranking import global_rank
    from sif_spark.plans import plan_string

    df = spark.range(0, 3000).withColumn("v", (F.col("id") * 37) % 991)
    order = [F.col("v"), F.col("id")]

    small = global_rank(df, order, num_partitions=8)
    big = global_rank(df, order, num_partitions=1000)
    assert "BroadcastHashJoin" in join_strategies(big)
    p_small, p_big = plan_string(small), plan_string(big)
    assert "CASE WHEN" not in p_big
    # a when-chain grows the plan ~linearly in partitions (125× here);
    # the joined form must stay within noise
    assert len(p_big) < 2 * len(p_small), (len(p_small), len(p_big))
    # and the rank itself is still the exact global row number
    rows = big.orderBy("rank").collect()
    assert [r["rank"] for r in rows[:3]] == [1, 2, 3]
    assert len(rows) == 3000 and rows[-1]["rank"] == 3000


def test_key_columns_portable_null_contract(spark):
    """ADVICE r2: concat_ws skips NULLs, so without the NUL sentinel
    ('a', NULL) would collide with ('a',)-shifted keys. All four
    shapes must hash distinctly, and DuckDB must replay the exact
    values (the portable-key contract)."""
    import duckdb

    from sif_spark import functions as SF_fns

    data = [("a", None), ("a", ""), (None, "a"), ("a", "b")]
    df = spark.createDataFrame(data, "x string, y string")
    keys = sorted(
        r["k"] for r in df.select(SF_fns.key_columns_portable("x", "y").alias("k")).collect()
    )
    assert len(set(keys)) == 4
    duck = sorted(
        r[0]
        for r in duckdb.sql(
            "SELECT CAST(('0x' || substr(md5(concat_ws(chr(31),"
            " coalesce(CAST(x AS VARCHAR), chr(0)),"
            " coalesce(CAST(y AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT) AS k"
            " FROM (VALUES ('a', NULL), ('a', ''), (NULL, 'a'), ('a', 'b')) t(x, y)"
        ).fetchall()
    )
    assert keys == duck


def test_to_timestamp_go(spark):
    from sif_spark import functions as SF_fns

    df = spark.createDataFrame([("2024-03-05 10:11:12",)], "t string")
    row = df.select(SF_fns.to_timestamp_go("t", "2006-01-02 15:04:05").alias("ts")).collect()[0]
    assert row["ts"].year == 2024 and row["ts"].second == 12


def test_q59_partition_pruning_in_plan(spark):
    """The partitioned-write query must prune to the single o_year
    partition at plan time (PartitionFilters on the scan), not filter
    after reading everything."""
    from sif_spark.plans import plan_string

    df = QUERIES["q59_partition_pruning"](spark, SF)
    text = plan_string(df)
    assert "PartitionFilters" in text
    assert "o_year" in text.split("PartitionFilters", 1)[1][:200]


def test_embedding_near_dup_auto_tier(spark, monkeypatch):
    """VERDICT r3 "What's wrong" #1: embedding_near_dup_pairs must not
    collect a large corpus to the driver. Small corpora take the exact
    broadcast-GEMM path; past ``max_broadcast_bytes`` the operator
    routes to the lsh_similar_pairs bucket-GEMM tier — pinned here by
    poisoning the driver-collect helper so ANY collect on the large
    path fails the test."""
    from sif_spark.operators import dedup as dd
    from sif_spark.operators import similarity as sim
    from sif_spark.plans import plan_string

    corpus = _vec_df(spark, 300)

    exact = dd.embedding_near_dup_pairs(corpus, "embedding", "vec_id", threshold=0.99)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert exact_pairs  # the fixture has near-dup structure to find

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("large-corpus tier performed a driver collect")

    monkeypatch.setattr(sim, "_collect_normalized", boom)
    tiered = dd.embedding_near_dup_pairs(
        corpus, "embedding", "vec_id", threshold=0.99,
        max_broadcast_bytes=1, tables=8, bits=4,
    )
    got = {(r["id_a"], r["id_b"]) for r in tiered.collect()}
    # every emitted pair carries an exact cosine -> subset of the exact
    # result; SRP recall < 1 in general but identical/near-identical
    # sketches collide in every table, so clustered data recalls high
    assert got <= exact_pairs
    assert len(got) >= 0.9 * len(exact_pairs), (len(got), len(exact_pairs))
    assert "FlatMapGroupsInPandas" in plan_string(tiered)


def test_catalog_driver_window_stable():
    """The driver's correctness gate checks only the FIRST 50 queries()
    entries (dict order — observed cap in CORRECTNESS_r02/r03). Pin that
    window to q01–q50 so a refactor can't silently rotate scale-critical
    entries out of the driver-checked set; the q51+ tail is gated by
    tools/check_oracle.py instead (VERDICT r3 ask #5)."""
    from sif_spark.queries import QUERIES

    keys = list(QUERIES)
    window = keys[:50]
    assert [k.split("_", 1)[0] for k in window] == [
        f"q{i:02d}" for i in range(1, 51)
    ], "first-50 driver window changed — the round-over-round gate set must stay fixed"
    # the tail may grow, but must stay strictly ordered and collision-free
    assert len(keys) == len(set(keys))
    tail_nums = [int(k.split("_", 1)[0][1:]) for k in keys[50:]]
    assert tail_nums == sorted(tail_nums) and tail_nums[0] == 51


def test_cosine_all_pairs_size_guard(spark):
    """cosine_all_pairs fails loudly past max_broadcast_rows instead of
    silently collecting the corpus to the driver."""
    import pytest

    from sif_spark.operators.similarity import cosine_all_pairs

    with pytest.raises(ValueError, match="max_broadcast_rows"):
        cosine_all_pairs(_vec_df(spark, 50), min_cosine=0.9, max_broadcast_rows=10)


def test_q76_decontamination_broadcasts_benchmark(spark):
    """The 100 TB scale claim of decontamination: the benchmark shingle
    set must BROADCAST into the corpus-shingle join (the corpus side
    never shuffles for candidate generation), and the only hash
    exchange is the per-doc hit count."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q76_decontamination"](spark, SF), "formatted")
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_q77_pii_redaction_is_scan_local(spark):
    """PII scrubbing must stay a zero-shuffle codegen scan: no Exchange
    and no Python evaluation anywhere in the plan."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q77_pii_redaction"](spark, SF), "formatted")
    assert "Exchange" not in text
    assert "Python" not in text and "ArrowEval" not in text


def test_write_sorted_range_clusters_files(spark):
    """write_sorted must produce non-overlapping per-file key ranges
    (the parquet min/max pruning layout) and a range exchange — never
    a single-task global sort."""
    import glob
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sif_spark.frame import SifFrame

    d = tempfile.mkdtemp(prefix="sif_sorted_")
    df = spark.range(0, 10000).select(
        (F.col("id") * 37 % 9973).alias("k"), F.col("id").alias("v")
    )
    SifFrame(df).write_sorted(f"{d}/out", ["k"], num_files=8)
    ranges = []
    for f in glob.glob(f"{d}/out/*.parquet"):
        md = pq.read_metadata(f)
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 4  # range exchange actually split the data
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # non-overlapping key ranges across files
    # read back: a narrow range filter + full content parity
    back = spark.read.parquet(f"{d}/out")
    assert back.count() == 10000
    assert back.filter("k < 100").count() == df.filter("k < 100").count()


def test_q93_outlier_stats_join_broadcasts(spark):
    """zscore_outliers' 100 TB shape: the per-group stats (one row per
    group) broadcast back onto the fact table — the fact table is
    shuffled once for the partial-agg stats pass and never again for
    the flag join."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q93_value_outliers"](spark, SF), "formatted")
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_q89_line_dedup_no_global_window(spark):
    """line_dedup must never sort the corpus globally: dedup is a
    hash-partial MIN per line hash and reassembly a per-doc groupBy.
    (A window over the whole line set would be the naive formulation.)"""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q89_line_dedup"](spark, SF), "formatted")
    assert "Window" not in text
    assert "partial_min" in text or "partial" in text.lower()


def test_q96_exists_decorrelates_to_semi_join(spark):
    """The SQL EXISTS must decorrelate: one LeftSemi hash/SMJ join on
    orderkey, never a per-row subquery (BroadcastNestedLoop)."""
    from sif_spark.plans import plan_string

    text = plan_string(
        QUERIES["q96_late_shipment_priorities"](spark, SF), "formatted"
    )
    assert "LeftSemi" in text
    assert "BroadcastNestedLoopJoin" not in text


def test_mix_corpus_filter_is_scan_local(spark):
    """After the (driver-resolved) totals job, the mixture filter
    itself must be a zero-shuffle codegen scan — no Exchange, no
    Python in the returned frame's plan."""
    from sif_spark.operators.text import mix_corpus
    from sif_spark.plans import plan_string
    from sif_spark.sources.parquet import read_table

    d = read_table(spark, SF, "documents")
    out = mix_corpus(d, {f"src{i}": (i % 4) + 1 for i in range(20)})
    text = plan_string(out, "formatted")
    assert "Exchange" not in text
    assert "Python" not in text and "ArrowEval" not in text


def test_q102_dimension_joins_broadcast(spark):
    """The Q5-shape join pipeline must broadcast its dimension sides
    (supplier/nation/region at minimum) — fact-fact SMJ is fine, but a
    dimension reaching a shuffle join means statistics or AQE broke."""
    from sif_spark.plans import plan_string

    text = plan_string(
        QUERIES["q102_local_supplier_volume"](spark, SF), "formatted"
    )
    assert text.count("BroadcastHashJoin") >= 3, text[:2000]


def test_write_zordered_prunes_on_both_dimensions(spark):
    """Z-order layout: per-file parquet min/max ranges must be narrow
    on BOTH clustered columns (a 1-D sort leaves the second column's
    per-file range at ~the global range)."""
    import glob
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sif_spark.operators.layout import write_zordered

    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128)).alias("y"),
        F.col("id").alias("v"),
    )
    d = tempfile.mkdtemp(prefix="sif_zorder_")
    write_zordered(df, f"{d}/zo", ["x", "y"], bits=8, num_files=16)
    from sif_spark.frame import SifFrame

    SifFrame(df).write_sorted(f"{d}/x1d", ["x"], num_files=16)

    def avg_frac(path, col_name):
        fracs = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col_name:
                        st = c.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            fracs.append((hi - lo) / 127.0)
        return sum(fracs) / len(fracs)

    # 16 files over a 128x128 grid: z-order keeps each file to a small
    # hyper-rectangle on BOTH axes (count-quantile boundaries straddle
    # a block occasionally, so assert the mean, not the worst file);
    # the 1-D x-sort leaves y's per-file range at ~the global range —
    # the comparison IS the claim
    assert avg_frac(f"{d}/zo", "x") <= 0.55, avg_frac(f"{d}/zo", "x")
    assert avg_frac(f"{d}/zo", "y") <= 0.55, avg_frac(f"{d}/zo", "y")
    assert avg_frac(f"{d}/x1d", "x") <= 0.2  # 1-D sort: razor thin on x
    assert avg_frac(f"{d}/x1d", "y") >= 0.9  # ...but useless on y
    back = spark.read.parquet(f"{d}/zo")
    assert back.count() == 16384
    assert back.filter("x < 32 and y < 32").count() == 32 * 32


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from sif_spark.operators.layout import compact_parquet

    src = str(tmp_path / "many")
    spark.range(0, 50000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64
    dst = str(tmp_path / "few")
    n = compact_parquet(spark, src, dst, target_file_mb=1)
    got = glob.glob(f"{dst}/part-*.parquet")
    assert len(got) == n and n < 64
    assert spark.read.parquet(dst).count() == 50000
    # sorted compaction re-establishes range clustering in the same pass
    dst2 = str(tmp_path / "few_sorted")
    compact_parquet(spark, src, dst2, target_file_mb=1, sort_cols=["k"])
    import pyarrow.parquet as pq

    ranges = []
    for f in glob.glob(f"{dst2}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        st = md.row_group(0).column(0).statistics
        ranges.append((st.min, st.max))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo  # non-overlapping files
    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_parquet(spark, src, src)


def test_compact_parquet_sizes_from_partitioned_layout(spark, tmp_path):
    """The byte total must come from a RECURSIVE listing: a
    partition_by layout keeps data in subdirectories."""
    from pyspark.sql import functions as F

    from sif_spark.operators.layout import compact_parquet

    src = str(tmp_path / "parts")
    spark.range(0, 40000).select(
        (F.col("id") % 4).alias("p"), F.col("id").alias("v")
    ).repartition(16).write.partitionBy("p").parquet(src)
    dst = str(tmp_path / "flat")
    # ~40000 longs spread over 64 files: with a 1 MB target the count
    # must derive from real bytes (>=1), and the data must survive
    n = compact_parquet(spark, src, dst, target_file_mb=1)
    assert n >= 1
    back = spark.read.parquet(dst)
    assert back.count() == 40000


def test_q111_qualifying_orders_broadcast(spark):
    """Q18 shape: the HAVING-aggregate's qualifying-order set must
    broadcast onto orders — no shuffle of the orders side — and the
    plan must keep a partial+final aggregate pair for the lineitem
    groupBy."""
    from sif_spark.plans import join_strategies, plan_string

    df = QUERIES["q111_large_order_customers"](spark, SF)
    assert "BroadcastHashJoin" in join_strategies(df)
    text = plan_string(df)
    assert text.count("HashAggregate") >= 2
    assert "CartesianProduct" not in text


def test_q112_double_exists_decorrelates(spark):
    """Q21 shape: EXISTS + NOT EXISTS must land as one LeftSemi and
    one LeftAnti equi-join on l_orderkey (the suppkey ≠ rides the
    equi-join as an extra predicate) — never a nested-loop or
    cartesian per-row subquery."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q112_waiting_suppliers"](spark, SF), "formatted")
    assert "LeftSemi" in text
    assert "LeftAnti" in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_q116_nested_in_correlated_having_decorrelates(spark):
    """Q20 shape: the nested IN chain plus TWO correlated scalar
    aggregates in the HAVING must land as left-semi equi-joins over
    per-partkey aggregates — never per-row subquery execution."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q116_dominant_part_suppliers"](spark, SF), "formatted")
    assert "LeftSemi" in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert "HashAggregate" in text


def test_q117_anti_join_scalar_threshold(spark):
    """Q22 shape: NOT EXISTS must land as one LeftAnti equi-join on
    custkey and the two global scalar-aggregate thresholds as
    subquery reuse — no nested loop anywhere."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q117_rich_idle_customers"](spark, SF), "formatted")
    assert "LeftAnti" in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_q115_correlated_scalars_decorrelate(spark):
    """TWO correlated scalar subqueries must decorrelate into
    aggregate equi-joins on l_partkey — never per-row subquery
    execution (nested loop / cartesian)."""
    from sif_spark.plans import plan_string

    text = plan_string(
        QUERIES["q115_correlated_scalar_subqueries"](spark, SF), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert "HashAggregate" in text


# ---------------------------------------------------------------------
# Plan fingerprint (round 8, VERDICT r7 ask #1): the bench artifact's
# auto-adjudication hinges on two properties — rebuilds of the same
# query hash identically (expression IDs, RDD numbers, rand() seeds
# are session-volatile and must be normalized away), and any REAL plan
# change flips the hash.
# ---------------------------------------------------------------------


def test_plan_fingerprint_stable_across_rebuilds(spark):
    from sif_spark.plans import plan_fingerprint

    a = plan_fingerprint(QUERIES["q03_revenue_by_nation"](spark, SF))
    b = plan_fingerprint(QUERIES["q03_revenue_by_nation"](spark, SF))
    assert a == b and len(a) == 16


def test_plan_fingerprint_normalizes_rand_seed(spark):
    """Salted operators embed rand(seed); the seed is drawn fresh per
    build and must not churn the fingerprint."""
    from sif_spark.plans import plan_fingerprint

    a = plan_fingerprint(QUERIES["q55_salted_agg"](spark, SF))
    b = plan_fingerprint(QUERIES["q55_salted_agg"](spark, SF))
    assert a == b


def test_plan_fingerprint_trips_on_altered_plan(spark):
    """A deliberately altered physical plan (broadcast join forced to
    sort-merge) must change the fingerprint — this is the 'plan
    changed' side of bench_compare's adjudication."""
    from sif_spark.plans import plan_fingerprint

    baseline = plan_fingerprint(QUERIES["q03_revenue_by_nation"](spark, SF))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        altered = plan_fingerprint(QUERIES["q03_revenue_by_nation"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert altered != baseline
    # and a lighter alteration — an extra filter node — also trips it
    df = QUERIES["q03_revenue_by_nation"](spark, SF)
    assert plan_fingerprint(df.filter("revenue_e4 > 0")) != baseline


def test_bench_compare_adjudicates_by_fingerprint(tmp_path, monkeypatch):
    """Offline check of the three flag outcomes: plan-changed flags
    hard; plan-identical re-measures (stubbed) and clears on a fast
    re-run or confirms on a slow one."""
    import json
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_compare as bc

    def capture(vals, fps, path):
        detail = {
            q: {"median": v, "min": v, "spread": 0.05, "plan_fp": fps[q]}
            for q, v in vals.items()
        }
        artifact = {
            "queries": vals,
            "queries_detail": detail,
            "calibration": 0.4,
        }
        p = tmp_path / path
        p.write_text(json.dumps(artifact))
        return str(p)

    # 10 stable entries anchor the drift median at 1.0; q_changed
    # doubles with a DIFFERENT fp; q_weather doubles with the SAME fp
    base = {f"q{i:02d}_stable": 1.0 for i in range(10)}
    old = capture(
        {**base, "q90_changed": 1.0, "q91_weather": 1.0},
        {**{q: "aaaa" for q in base}, "q90_changed": "fp_old", "q91_weather": "fp_same"},
        "old.json",
    )
    new = capture(
        {**base, "q90_changed": 2.0, "q91_weather": 2.0},
        {**{q: "aaaa" for q in base}, "q90_changed": "fp_new", "q91_weather": "fp_same"},
        "new.json",
    )

    remeasured = {}

    def fake_remeasure(entries, sf_dir, runs=5):
        # one batch call: flagged entry interleaved with >= 1 stable
        # reference entries, all measured in one session. Simulate a
        # fresh session running everything 1.6x slower than the old
        # capture — the reference bundle must absorb that offset so
        # the flagged entry (true time back at ~old) clears.
        remeasured["entries"] = list(entries)
        return {
            "entries": {
                e: {"median": 1.6 * 1.0, "min": 1.5, "spread": 0.05,
                    "plan_fp": "x"}
                for e in entries
            },
            "runs": runs,
        }

    monkeypatch.setattr(bc, "remeasure", fake_remeasure)
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new])
    import pytest as _pytest

    with _pytest.raises(SystemExit) as exc:
        bc.main()
    # q90 flags (plan changed); q91 was re-measured in a batch with
    # reference entries and cleared by freshness normalization
    assert exc.value.code == 1
    called = remeasured["entries"]
    assert "q91_weather" in called and "q90_changed" not in called
    assert any(e.endswith("_stable") for e in called)

    # same captures, --no-remeasure: q91 is UNRESOLVED -> also flags
    remeasured.clear()
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new, "--no-remeasure"])
    with _pytest.raises(SystemExit) as exc:
        bc.main()
    assert exc.value.code == 1 and not remeasured


def test_bench_compare_history_adjudicates_mean_reversion(tmp_path, monkeypatch):
    """The q31 blind spot (round 8): a plan-identical flag whose
    re-measure confirms vs the OLD capture must still clear when the
    NEW value is unremarkable vs a PRIOR-round capture (the old value
    was the fast outlier), and must stay confirmed when it is slow vs
    history too (a genuine multi-round slowdown)."""
    import json
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_compare as bc

    def capture(vals, path, fp="same"):
        detail = {
            q: {"median": v, "min": v, "spread": 0.05, "plan_fp": fp}
            for q, v in vals.items()
        }
        p = tmp_path / path
        p.write_text(
            json.dumps(
                {"queries": vals, "queries_detail": detail, "calibration": 0.4}
            )
        )
        return str(p)

    base = {f"q{i:02d}_stable": 1.0 for i in range(10)}
    # q91: 2.0 (history) -> 1.0 (old, the fast outlier) -> 2.0 (new)
    hist = capture({**base, "q91_revert": 2.0}, "hist.json")
    old = capture({**base, "q91_revert": 1.0}, "old.json")
    new = capture({**base, "q91_revert": 2.0}, "new.json")

    def fake_remeasure(entries, sf_dir, runs=5):
        # fresh session: stables at their true 1.0, flagged entry at
        # its true 2.0 -> re-measure CONFIRMS vs old
        return {
            "entries": {
                e: {
                    "median": 2.0 if e == "q91_revert" else 1.0,
                    "min": 1.0,
                    "spread": 0.05,
                    "plan_fp": "same",
                }
                for e in entries
            },
            "runs": runs,
        }

    monkeypatch.setattr(bc, "remeasure", fake_remeasure)

    # with history: new == history -> cleared as regression-to-the-mean
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", old, new, "--history", hist]
    )
    import pytest as _pytest

    with _pytest.raises(SystemExit) as exc:
        bc.main()
    assert exc.value.code == 0

    # genuinely slow vs history too (history agrees with old) -> flags
    hist_slow = capture({**base, "q91_revert": 1.0}, "hist_slow.json")
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", old, new, "--history", hist_slow]
    )
    with _pytest.raises(SystemExit) as exc:
        bc.main()
    assert exc.value.code == 1

    # without history: the confirm stands (protocol unchanged)
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new])
    with _pytest.raises(SystemExit) as exc:
        bc.main()
    assert exc.value.code == 1


def test_span_dedup_plan_no_global_window_no_cartesian(spark):
    """q130's span excision must keep every window partitioned by doc
    id (never a corpus-wide window) and must never plan a cartesian /
    nested-loop join for the dup-gram flag (it is an equi-join on the
    gram hash)."""
    from sif_spark.plans import global_windows, plan_string

    df = QUERIES["q130_span_dedup"](spark, SF)
    assert not global_windows(df)
    text = plan_string(df, "simple")
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


@pytest.mark.heavy
def test_no_cartesian_products_anywhere_in_catalog(spark):
    """Catalog-WIDE invariant (round 8): no entry may plan a
    CartesianProduct or BroadcastNestedLoopJoin — the quadratic
    scale-killers. Previously pinned per-entry on the subquery
    shapes; this sweeps every batch entry's physical plan."""
    from sif_spark.plans import plan_string

    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        if df.isStreaming:
            continue
        text = plan_string(df, "simple")
        hits = [m for m in ("CartesianProduct", "BroadcastNestedLoopJoin")
                if m in text]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


# ---------------------------------------------------------------------
# TPC-H-shape completion suite (round 9, q144-q154): each entry pins
# the SPECIFIC planner behavior it was added to exercise. The
# catalog-wide no-CartesianProduct/BNLJ sweep covers them all too.
# ---------------------------------------------------------------------


def test_q144_correlated_min_decorrelates(spark):
    """Q2 shape: the correlated MIN over its own 4-way join must land
    as a per-part aggregate equi-joined back on (partkey, cost) —
    never a per-outer-row subquery."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q144_min_cost_supplier"](spark, SF), "formatted")
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert "HashAggregate" in text  # the decorrelated MIN


def test_q145_q146_nation_joins_broadcast(spark):
    """Q7/Q8 shapes: every dimension join (nation x2, region, part,
    supplier, customer) must broadcast — the only shuffle joins are
    fact-fact (lineitem-orders)."""
    for name in ("q145_volume_shipping", "q146_market_share"):
        strategies = join_strategies(QUERIES[name](spark, SF))
        assert strategies.count("BroadcastHashJoin") >= 4, (name, strategies)


def test_q148_having_scalar_subquery_planned_once(spark):
    """Q11 shape: the global total in HAVING must be a scalar subquery
    evaluated once — the plan carries a Subquery/scalar-subquery node,
    not a join explosion, and never a nested loop."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q148_important_parts"](spark, SF), "formatted")
    assert "Subquery" in text or "scalar-subquery" in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_q152_not_in_plans_anti_join(spark):
    """Q16 shape: NOT IN over the complaint-supplier subquery must plan
    as a (null-aware) LeftAnti hash join, plus a distinct expansion
    for COUNT(DISTINCT)."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q152_supplier_part_counts"](spark, SF), "formatted")
    assert "LeftAnti" in text
    assert "BroadcastNestedLoopJoin" not in text


def test_q153_correlated_avg_decorrelates(spark):
    """Q17 shape: the correlated scalar AVG must decorrelate into a
    per-part aggregate equi-join on l_partkey."""
    from sif_spark.plans import plan_string

    text = plan_string(QUERIES["q153_small_qty_revenue"](spark, SF), "formatted")
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert "HashAggregate" in text


def test_q154_disjunction_keeps_equi_join(spark):
    """Q19 shape: the three OR'd mixed-side clauses must ride the
    p_partkey equi-join as a post-join filter — the join itself stays
    hash-based (the classic Q19 planner test)."""
    from sif_spark.plans import plan_string

    df = QUERIES["q154_disjunctive_revenue"](spark, SF)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies or "SortMergeJoin" in strategies
    text = plan_string(df, "formatted")
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_q164_dynamic_partition_pruning_fires(spark):
    """The DS DPP probe (round 10): the month-partitioned fact scan's
    partition filters must carry the runtime dim-side subquery
    (`dynamicpruning` expression) — static pruning cannot know the
    months, so its absence would mean the scan reads all ~84 partitions
    instead of the quarter's 3."""
    from sif_spark.plans import plan_string

    df = QUERIES["q164_ds_dynamic_partition_pruning"](spark, SF)
    text = plan_string(df, "formatted")
    assert "dynamicpruning" in text.lower(), text[:4000]
    # the disjunctive-star sibling must keep hash joins (no BNLJ blowup)
    text163 = plan_string(QUERIES["q163_ds_disjunctive_star"](spark, SF), "formatted")
    assert "BroadcastNestedLoopJoin" not in text163
    assert "CartesianProduct" not in text163


def test_ds_round10b_plan_pins(spark):
    """The second DS batch's claimed plan behaviors, pinned:
    q171 decorrelates EXISTS/NOT EXISTS into one LeftSemi + one
    LeftAnti (never a per-row subquery or cartesian); q172's
    rank()<=3 filter becomes a WindowGroupLimit (partial top-k before
    the window shuffle — O(N*k) carried, not the fact); q174's
    multi-COUNT(DISTINCT) plans ONE Expand, not one scan per
    distinct."""
    from sif_spark.plans import plan_string

    p171 = plan_string(QUERIES["q171_ds_exists_pairs"](spark, SF), "formatted")
    assert "LeftSemi" in p171 and "LeftAnti" in p171, p171[:4000]
    assert "CartesianProduct" not in p171
    assert "BroadcastNestedLoopJoin" not in p171

    p172 = plan_string(
        QUERIES["q172_ds_topn_per_group_ties"](spark, SF), "formatted"
    )
    assert "WindowGroupLimit" in p172, p172[:4000]

    p174 = plan_string(QUERIES["q174_ds_multi_distinct"](spark, SF), "formatted")
    assert "Expand" in p174, p174[:4000]


def test_sif_table_dim_auto_broadcasts_and_ds_boundary(spark):
    """VERDICT r11 'Next round' #4, adjudicated: SifTable.read() (and
    register_view, the documented SQL surface) is plain parquet scans,
    so Catalyst sees the snapshot's EXACT bytes and a small dimension
    joined to lineitem plans BroadcastHashJoin with NO user hint —
    both the DataFrame and SQL routes pinned here. The
    spark.read.format('sif_table') route can NOT carry statistics:
    Spark 4.1's PythonScan implements Scan+SupportsMetadata only (no
    SupportsReportStatistics — verified by javap against the shipped
    jar), so its first plan sort-merges and AQE's runtime re-plan is
    the broadcast path; that boundary is pinned too, so an upstream
    Spark fix will surface as this assertion flipping. size_bytes()
    itself (manifest-exact, write-time recorded) is value-checked
    against the filesystem."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sif_spark.sources.parquet import read_table
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import SifTable

    d = tempfile.mkdtemp(prefix="sif_dim_bcast_")
    shutil.rmtree(d, ignore_errors=True)
    dim = spark.range(0, 200).select(
        F.col("id").alias("l_suppkey"),
        F.concat(F.lit("tier"), F.col("id") % 5).alias("tier"),
    )
    t = SifTable.create(spark, d, dim, key_col="l_suppkey")
    t.append(dim.filter("l_suppkey < 0"))  # second (empty) group
    fs_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs_ in os.walk(os.path.join(d, "data"))
        for f in fs_
        if not f.startswith(("_", "."))
    )
    # threshold pinned BETWEEN dim (~6 KB) and lineitem's PRUNED scan
    # estimate (the join reads one fact column; at sf0.01 that is
    # ~60 KB of a 1 MB file) so only a stats-visible dim can
    # broadcast — at real scale the fact side is out of reach anyway
    assert 0 < t.size_bytes() == fs_bytes < 32 << 10
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 << 10))
        fact = read_table(spark, "/root/testdata/sf0.01", "lineitem")
        # DataFrame route: native parquet stats -> broadcast, no hint
        api = fact.join(t.read(), "l_suppkey").groupBy("tier").count()
        assert join_strategies(api) == ["BroadcastHashJoin"]
        # SQL route through register_view: same stats, same plan
        t.register_view("dim_bcast_v")
        fact.createOrReplaceTempView("fact_bcast_v")
        sql = spark.sql(
            "SELECT d.tier, count(*) AS n FROM fact_bcast_v f "
            "JOIN dim_bcast_v d USING (l_suppkey) GROUP BY d.tier"
        )
        assert join_strategies(sql) == ["BroadcastHashJoin"]
        # the DSV2 route: stats cannot cross PythonScan -> first plan
        # sort-merges (AQE rescues at runtime; upstream boundary)
        register_table_source(spark)
        ds = spark.read.format("sif_table").option("path", d).load()
        ds_join = fact.join(
            ds.drop("_commit_version"), "l_suppkey"
        ).groupBy("tier").count()
        assert "BroadcastHashJoin" not in join_strategies(ds_join)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    shutil.rmtree(d, ignore_errors=True)


def test_plan_fingerprint_normalizes_lambda_counter(spark):
    """Higher-order-function lambda variables carry a SESSION-
    cumulative counter (x_1 fresh, x_5 after other lambdas) — round
    13's control basket exposed 34 phantom 'plan changed' flags.
    The fingerprint must not see it."""
    from pyspark.sql import functions as F

    from sif_spark.plans import plan_fingerprint

    def build():
        return spark.range(5).select(
            F.filter(
                F.split(F.lit("a b c"), " "),
                lambda x: x != F.lit(""),
            ).alias("t")
        )

    a = plan_fingerprint(build())
    # burn some lambda counter in between
    spark.range(3).select(
        F.transform(F.array(F.lit(1)), lambda v: v + 1).alias("z")
    ).collect()
    b = plan_fingerprint(build())
    assert a == b


# --- round 15: distinct-rewrite fingerprint stability (VERDICT r14 #8)


def test_distinct_rewrite_canonicalization_is_order_insensitive():
    """RewriteDistinctAggregates orders its Expand branches by a map
    keyed on session-cumulative exprIds — two builds of the SAME
    multi-distinct query in different sessions permute the branches,
    the gid literals, and every downstream attribute list. The
    canonicalizer must map both permutations to one string (this is
    the exact line shape captured from q174's two-session repro), and
    must pass non-signature plans through byte-identical."""
    from sif_spark.plans.audit import _canon_distinct_rewrite

    a = (
        "(9) Expand\n"
        "Input [5]: [_groupingexpression#, l_partkey#L, l_suppkey#L, o_custkey#L, l_quantity#]\n"
        "Arguments: [[_groupingexpression#, null, null, null, 0, cast(round(l_quantity#, 0) as bigint)], "
        "[_groupingexpression#, l_partkey#L, null, null, 1, null], "
        "[_groupingexpression#, null, l_suppkey#L, null, 2, null]], "
        "[_groupingexpression#, lineitem.l_partkey#L, lineitem.l_suppkey#L, gid#]\n"
        "(10) HashAggregate\n"
        "Keys [4]: [_groupingexpression#, lineitem.l_partkey#L, lineitem.l_suppkey#L, gid#]\n"
        "Functions [2]: [partial_count(lineitem.l_partkey#L) FILTER (WHERE (gid# = 1)), "
        "partial_count(lineitem.l_suppkey#L) FILTER (WHERE (gid# = 2))]\n"
        "(11) Exchange\n"
        "Arguments: hashpartitioning(_groupingexpression#, lineitem.l_partkey#L, lineitem.l_suppkey#L, gid#, 32), ENSURE_REQUIREMENTS, [plan_id=]\n"
    )
    # the other session's ordering: partkey/suppkey swapped everywhere,
    # gid literals reassigned to the new branch positions
    b = (
        "(9) Expand\n"
        "Input [5]: [_groupingexpression#, l_partkey#L, l_suppkey#L, o_custkey#L, l_quantity#]\n"
        "Arguments: [[_groupingexpression#, null, null, null, 0, cast(round(l_quantity#, 0) as bigint)], "
        "[_groupingexpression#, l_suppkey#L, null, null, 1, null], "
        "[_groupingexpression#, null, l_partkey#L, null, 2, null]], "
        "[_groupingexpression#, lineitem.l_suppkey#L, lineitem.l_partkey#L, gid#]\n"
        "(10) HashAggregate\n"
        "Keys [4]: [_groupingexpression#, lineitem.l_suppkey#L, lineitem.l_partkey#L, gid#]\n"
        "Functions [2]: [partial_count(lineitem.l_partkey#L) FILTER (WHERE (gid# = 2)), "
        "partial_count(lineitem.l_suppkey#L) FILTER (WHERE (gid# = 1))]\n"
        "(11) Exchange\n"
        "Arguments: hashpartitioning(_groupingexpression#, lineitem.l_suppkey#L, lineitem.l_partkey#L, gid#, 32), ENSURE_REQUIREMENTS, [plan_id=]\n"
    )
    assert _canon_distinct_rewrite(a) == _canon_distinct_rewrite(b)
    # a genuinely different plan (different aggregated column) must NOT
    # collapse to the same canonical form
    c = a.replace("o_custkey#L", "o_orderkey#L")
    assert _canon_distinct_rewrite(a) != _canon_distinct_rewrite(c)
    # plans without the rewrite signature pass through byte-identical
    plain = "(1) Scan parquet\nInput [2]: [b#, a#]\nSort [b# ASC, a# ASC]\n"
    assert _canon_distinct_rewrite(plain) == plain


def test_distinct_rewrite_canonicalization_keeps_non_gid_literals():
    """The distinct-rewrite canonicalizer masks only the gid element of
    each Expand branch tuple and only the gid comparisons inside
    FILTER (WHERE …): a plan that differs from another only in a
    constant projected in one branch, or in a gid comparison outside a
    FILTER clause, must canonicalize differently."""
    from sif_spark.plans.audit import _canon_distinct_rewrite

    def plan(const: str, where: str = "(gid# = 1)") -> str:
        return (
            "(9) Expand\n"
            "Arguments: [[_groupingexpression#, null, null, 0, " + const + "], "
            "[_groupingexpression#, l_partkey#L, null, 1, null], "
            "[_groupingexpression#, null, l_suppkey#L, 2, null]], "
            "[_groupingexpression#, lineitem.l_partkey#L, lineitem.l_suppkey#L, gid#, q#]\n"
            "(10) HashAggregate\n"
            "Functions [2]: [partial_count(lineitem.l_partkey#L) FILTER (WHERE (gid# = 1)), "
            "partial_count(lineitem.l_suppkey#L) FILTER (WHERE (gid# = 2))]\n"
            "(11) Filter\n"
            "Condition : " + where + "\n"
        )

    assert _canon_distinct_rewrite(plan("5")) != _canon_distinct_rewrite(
        plan("7")
    )
    assert _canon_distinct_rewrite(plan("5")) != _canon_distinct_rewrite(
        plan("5", "(gid# = 2)")
    )
    canon = _canon_distinct_rewrite(plan("5"))
    assert "FILTER (WHERE (gid# = N))" in canon
    assert "Condition : (gid# = 1)" in canon


def test_multi_distinct_fingerprint_stable_across_rebuilds(spark):
    """Two builds of the same multi-distinct aggregate must fingerprint
    identically even after other queries shift the session's exprId
    counter (the q174 same-code flip between the r14/r15 captures);
    sort specs stay order-sensitive (a real ordering change still
    changes the fingerprint)."""
    from pyspark.sql import functions as F

    from sif_spark.plans.audit import plan_fingerprint

    def build():
        li = spark.range(100).selectExpr(
            "id % 7 AS k", "id % 3 AS a", "id % 5 AS b", "id % 2 AS c",
            "CAST(id AS DOUBLE) AS q",
        ).alias("lineitem")
        return li.groupBy("k").agg(
            F.countDistinct("a"),
            F.countDistinct("b"),
            F.countDistinct("c"),
            F.sum("q"),
        )

    fp1 = plan_fingerprint(build())
    # perturb the session-cumulative counters the rewrite orders by
    spark.range(50).selectExpr("id % 3 x", "id y", "id z").groupBy(
        "x"
    ).agg(F.countDistinct("y"), F.countDistinct("z")).collect()
    fp2 = plan_fingerprint(build())
    assert fp1 == fp2
