"""Snapshot-isolated table layer (sif_spark/table.py): versioned
manifest commits, time travel, schema evolution on read, key-range
file skipping on upsert, compaction under a concurrent reader, vacuum
retention, and the optimistic-commit CAS. The SIGKILL mid-commit story
is tools/table_fault_probe.py (tests/test_table_fault.py)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sif_spark.table import ConcurrentCommitError, SifTable, prune_groups


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_append_time_travel_history(spark, tdir):
    t = SifTable.create(spark, f"{tdir}/t1", _df(spark, 0, 5, "a"), key_col="k")
    t.append(_df(spark, 5, 8, "b"))
    assert _rows(t.read()) == _rows(
        _df(spark, 0, 5, "a").unionByName(_df(spark, 5, 8, "b"))
    )
    # time travel: v1 is still exactly the create
    assert _rows(t.read(version=1)) == _rows(_df(spark, 0, 5, "a"))
    h = t.history()
    assert [(x["version"], x["op"], x["rows"]) for x in h] == [
        (1, "create", 5),
        (2, "append", 8),
    ]
    # a fresh handle resolves the same state (nothing session-local)
    t2 = SifTable(spark, f"{tdir}/t1")
    assert _rows(t2.read()) == _rows(t.read())


def test_upsert_replaces_and_skips_disjoint_groups(spark, tdir):
    t = SifTable.create(spark, f"{tdir}/t2", _df(spark, 0, 100, "old"),
                        key_col="k")
    t.append(_df(spark, 1000, 1100, "far"))  # key range disjoint from updates
    far_group = t._load()["groups"][1]
    t.upsert(_df(spark, 50, 150, "new"))
    m = t._load()
    # the disjoint group carried over BY REFERENCE (same path, no rewrite)
    assert any(g["path"] == far_group["path"] for g in m["groups"])
    got = dict(t.read().collect())
    assert got[0] == "old" and got[49] == "old"
    assert got[50] == "new" and got[149] == "new"
    assert got[1000] == "far"
    assert len(got) == 100 + 100 + 50
    # the pre-upsert snapshot is untouched (upsert-then-read-old-snapshot)
    assert dict(t.read(version=2).collect())[50] == "old"


def test_schema_evolution_on_read_and_widening(spark, tdir):
    t = SifTable.create(spark, f"{tdir}/t3", _df(spark, 0, 3, "a"), key_col="k")
    evolved = _df(spark, 3, 6, "b").withColumn("score", F.lit(1.5))
    t.append(evolved)
    got = t.read()
    assert [f.simpleString() for f in got.schema.fields] == [
        "k:bigint", "v:string", "score:double"
    ]
    by_k = {r["k"]: r["score"] for r in got.collect()}
    assert by_k[0] is None and by_k[3] == 1.5  # old rows surface NULL
    # time travel back to v1 serves the OLD schema (no score column)
    assert t.read(version=1).columns == ["k", "v"]
    # widening int -> bigint is accepted; string -> double is not
    t.append(
        spark.range(6, 7).select(
            F.col("id").cast("int").alias("k"), F.lit("c").alias("v")
        )
    )
    assert t._load()["schema"].startswith("k bigint")
    with pytest.raises(ValueError, match="cannot evolve"):
        t.append(spark.range(7, 8).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")))


def test_delete_and_compact_under_concurrent_reader(spark, tdir):
    t = SifTable.create(spark, f"{tdir}/t4", _df(spark, 0, 50, "a"), key_col="k")
    t.append(_df(spark, 50, 100, "b"))
    t.delete("k >= 90")
    assert t.read().count() == 90

    # pin a reader on the pre-compaction snapshot...
    pinned_version = t._load()["version"]
    pinned = t.read(pinned_version)
    v = t.compact(num_files=2)
    m = t._load(v)
    assert m["op"] == "compact" and len(m["groups"]) == 1
    # ...the pinned reader still collects correct rows mid-compaction
    assert pinned.count() == 90
    assert _rows(t.read()) == _rows(pinned)

    # vacuum keeps the last 2 snapshots; the pinned (older) version's
    # exclusive groups are gone and its manifest dropped — by contract
    doomed = t.vacuum(retain_last=2)
    assert doomed, "vacuum should reclaim the pre-compaction groups"
    assert t.read().count() == 90
    with pytest.raises(ValueError, match="not in"):
        t.read(version=1)


def test_optimistic_commit_cas(spark, tdir):
    from sif_spark.table import _columns_of, _Plan

    t = SifTable.create(spark, f"{tdir}/t5", _df(spark, 0, 3, "a"))
    m = t._load()

    def plan(h):  # an op that refuses to rebase
        return _Plan(h["groups"], h["schema"], _columns_of(h))

    # two writers race to version 2: exactly one publish wins
    t._op_once("append", plan)
    t._load = lambda version=None: m  # the loser planned on version 1
    with pytest.raises(ConcurrentCommitError, match="committed by another"):
        t._op_once("append", plan)
    # upsert retries through the conflict window by re-reading
    t6 = SifTable.create(spark, f"{tdir}/t6", _df(spark, 0, 3, "a"), key_col="k")
    t6.upsert(_df(spark, 1, 2, "z"))
    assert dict(t6.read().collect())[1] == "z"


def test_orphan_data_invisible_without_manifest(spark, tdir):
    """A crashed write (data group present, manifest never renamed) is
    invisible to every reader — the commit IS the manifest."""
    t = SifTable.create(spark, f"{tdir}/t7", _df(spark, 0, 5, "a"), key_col="k")
    # simulate the crash: group written, commit never happened
    t._write_dir("ig", _df(spark, 100, 200, "ghost"), 2, 0, {"key_col": "k"},
                 None)
    assert t.read().count() == 5
    assert t._load()["version"] == 1
    # and the next real commit is unaffected
    t.append(_df(spark, 5, 6, "b"))
    assert t.read().count() == 6


def test_bucketed_layout_zero_shuffle_after_compact(spark, tdir):
    """Round 10: a table created with bucket_by= keeps its bucket
    layout through append/upsert/COMPACT (the manifest carries the
    spec, so it can never drift), and the compacted snapshot's
    bucketed_frame() aggregates/joins on the bucket column with ZERO
    Exchange on the table side — the epoch stores' zero-shuffle
    contract, now on the general table layer."""
    from sif_spark.plans import plan_string

    t = SifTable.create(spark, f"{tdir}/tb", _df(spark, 0, 500, "a"),
                        key_col="k", bucket_by="k", n_buckets=4)
    t.append(_df(spark, 500, 800, "b"))
    t.upsert(_df(spark, 100, 200, "u"))
    # fragmented snapshot: bucketed read refuses with the fix named
    with pytest.raises(ValueError, match="compact"):
        t.bucketed_frame()
    t.compact()
    bf = t.bucketed_frame()
    plain = t.read()
    assert _rows(bf) == _rows(plain)  # layout changed, content identical
    # aggregation on the bucket column: bucketed scan satisfies the
    # required hash distribution — one fewer Exchange than plain
    n_b = plan_string(bf.groupBy("k").count(), "formatted").count("Exchange")
    n_p = plan_string(plain.groupBy("k").count(), "formatted").count("Exchange")
    assert n_b == 0 and n_p > 0, (n_b, n_p)
    assert "Bucketed: true" in plan_string(bf.groupBy("k").count(), "formatted")
    # non-bucketed tables gate loudly
    t2 = SifTable.create(spark, f"{tdir}/tp", _df(spark, 0, 5, "a"), key_col="k")
    with pytest.raises(ValueError, match="bucket_by"):
        t2.bucketed_frame()


def test_bucketed_compact_writes_same_bytes(spark, tdir):
    """compact() on a bucketed table writes one file per bucket, rows in
    key order, so two compacts of the same table write the same bytes
    (a layout that followed the read's file packing differed from run
    to run and wrote one file per bucket per read task)."""
    import glob
    import hashlib

    def build(name):
        t = SifTable.create(spark, f"{tdir}/{name}", _df(spark, 0, 30, "a").repartition(3),
                            key_col="k", bucket_by="k", n_buckets=4)
        t.append(_df(spark, 30, 60, "b").repartition(2))
        t.append(_df(spark, 60, 90, "c"))
        t.compact()
        (g,) = t._load()["groups"]
        return g["bytes"], sorted(
            hashlib.sha256(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{g['path']}/*.parquet")
        )

    first, second = build("b1"), build("b2")
    assert len(first[1]) == 4
    assert first == second


def test_txn_append_is_idempotent(spark, tdir):
    """append(txn=) must make crash-replays no-ops: a replayed epoch
    neither adds rows nor bumps the version, per app_id."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), txn=("app", 0))
    assert t.last_txn_epoch("app") == 0
    v1 = t.append(_df(spark, 5, 10, "b"), txn=("app", 1))
    assert t.read().count() == 10
    # replay epoch 1 (and the creating epoch 0): both committed no-ops
    assert t.append(_df(spark, 5, 10, "b"), txn=("app", 1)) == v1
    assert t.append(_df(spark, 0, 5, "a"), txn=("app", 0)) == v1
    assert t.read().count() == 10
    # a DIFFERENT app_id is independent; a fresh epoch appends
    t.append(_df(spark, 100, 102, "x"), txn=("other", 0))
    t.append(_df(spark, 10, 12, "c"), txn=("app", 2))
    assert t.read().count() == 14
    assert t.last_txn_epoch("app") == 2
    assert t.last_txn_epoch("other") == 0
    # the txn map survives unrelated operations (compact carries it)
    t.compact()
    assert t.last_txn_epoch("app") == 2


def test_txn_map_survives_upsert_and_delete(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 10, "a"), key_col="k", txn=("s", 4)
    )
    t.upsert(_df(spark, 3, 6, "u"))
    t.delete("k = 9")
    assert t.last_txn_epoch("s") == 4
    v = t._load()["version"]
    assert t.append(_df(spark, 0, 10, "dup"), txn=("s", 4)) == v  # no-op
    assert t.read().count() == 9


@pytest.mark.cluster
def test_stream_ingest_exactly_once_across_crash(spark, tdir):
    """The crash window that matters: the batch function commits to
    the TABLE, then dies before Structured Streaming records the batch
    in its checkpoint. On restart Spark replays that epoch — the txn
    high-water must absorb it. Injected deterministically: the sink
    raises AFTER the table commit, first time epoch 2 runs."""
    import os

    from sif_spark.sources.custom import register
    from sif_spark.table import SifTable as _ST

    register(spark)
    ckpt = f"{tdir}-ckpt"
    table_path = f"{tdir}-tbl"
    flag = f"{tdir}-crashed"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(table_path, ignore_errors=True)

    def make_stream():
        return (
            spark.readStream.format("sif_generator")
            .option("batch_size", 12)
            .option("seed", 42)
            .option("max_rows", 120)
            .load()
        )

    def run_batch(batch_df, epoch_id):
        t = _ST(batch_df.sparkSession, table_path)
        try:
            t._load()
        except FileNotFoundError:
            _ST.create(batch_df.sparkSession, table_path, batch_df,
                       txn=("crashy", int(epoch_id)))
        else:
            t.append(batch_df, txn=("crashy", int(epoch_id)))
        if int(epoch_id) == 2 and not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("injected crash AFTER table commit")

    q = (
        make_stream().writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()  # dies on the injected crash
    assert os.path.exists(flag), "the injected crash must have fired"

    q2 = (
        make_stream().writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    t = _ST(spark, table_path)
    got = t.read()
    assert got.count() == 120, "crash-replay duplicated or dropped rows"
    assert got.select("id").distinct().count() == 120
    os.remove(flag)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(table_path, ignore_errors=True)


def test_bloom_skips_range_overlapping_untouched_group(spark, tdir):
    """Interleaved key layouts defeat min/max skipping (every group's
    range overlaps every batch); the per-group key bloom must prove
    the odd-keys group untouched by an even-keys upsert and carry it
    by reference."""
    even = spark.range(0, 100, 2).select(F.col("id").alias("k"), F.lit("e").alias("v"))
    odd = spark.range(1, 101, 2).select(F.col("id").alias("k"), F.lit("o").alias("v"))
    t = SifTable.create(spark, tdir, even, key_col="k", key_bloom=True)
    t.append(odd)
    m1 = t._load()
    assert all("key_bloom" in g for g in m1["groups"])
    even_gid, odd_gid = m1["groups"][0]["id"], m1["groups"][1]["id"]
    t.upsert(
        spark.range(2, 6, 2).select(F.col("id").alias("k"), F.lit("u").alias("v"))
    )
    ids = [g["id"] for g in t._load()["groups"]]
    assert odd_gid in ids, "bloom must prove the odd group untouched"
    assert even_gid not in ids, "the even group holds matched keys"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 100 and got[2] == "u" and got[4] == "u"
    assert got[0] == "e" and got[1] == "o" and got[3] == "o"


def test_bloom_saturation_falls_back_to_range_skipping(spark, tdir, monkeypatch):
    import sif_spark.table as tbl

    monkeypatch.setattr(tbl, "_BLOOM_MIN_BITS", 64)
    monkeypatch.setattr(tbl, "_BLOOM_MAX_BITS", 64)
    t = SifTable.create(spark, tdir, _df(spark, 0, 100, "a"), key_col="k",
                        key_bloom=True)
    m = t._load()
    assert "key_bloom" not in m["groups"][0], "saturated bloom must be dropped"
    # correctness unaffected: upsert rewrites on range overlap alone
    t.upsert(_df(spark, 5, 7, "u"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 100 and got[5] == "u" and got[0] == "a"


def test_read_between_prunes_groups_and_matches_full_filter(spark, tdir):
    """Three appends with disjoint key ranges: a read_between touching
    one range must prune the other two groups (manifest-only decision)
    and return exactly what a full-scan filter returns."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 100, "a"), key_col="k")
    t.append(_df(spark, 100, 200, "b"))
    t.append(_df(spark, 200, 300, "c"))
    m = t._load()
    assert all("stats" in g and "k" in g["stats"] for g in m["groups"])
    kept = prune_groups(m, {"k": (120, 180)})
    assert len(kept) == 1 and kept[0]["stats"]["k"] == [100, 199]
    got = _rows(t.read_between("k", 120, 180))
    exp = _rows(t.read().filter("k BETWEEN 120 AND 180"))
    assert got == exp and len(got) == 61
    # open-ended bounds and string-column stats prune too
    assert len(prune_groups(m, {"k": (200, None)})) == 1
    assert len(prune_groups(m, {"v": ("b", "b")})) == 1
    # a no-match range reads ZERO groups but still returns the schema
    empty = t.read_between("k", 500, 600)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


@pytest.mark.parametrize("ktype", ["date", "timestamp", "decimal(10,2)"])
def test_date_timestamp_decimal_keys(spark, tdir, ktype):
    """A table keyed on a date, timestamp or decimal column creates,
    upserts, looks up and prunes: the 1-ary key_min/key_max pair is
    stored in the column stats' JSON form (ISO strings for dates and
    timestamps), and a decimal key, which has no such form, gets no
    pair and is never range-pruned."""
    import datetime as dt

    from sif_spark.table import _stat_bound, _stat_json

    key_expr = (
        "CAST(id / 4 AS decimal(10,2))" if ktype.startswith("decimal")
        else f"CAST(date_add(DATE'2024-01-01', CAST(id AS INT)) AS {ktype})"
    )

    def batch(lo, hi, v):
        return spark.range(lo, hi).selectExpr(
            f"{key_expr} AS d", "id AS n", f"'{v}' AS v"
        )

    t = SifTable.create(spark, tdir, batch(0, 10, "a"), key_col="d")
    t.append(batch(10, 20, "b"))
    t.upsert(batch(15, 25, "c"))
    out = _rows(t.read().select("n", "v"))
    assert out == [(i, "a" if i < 10 else "b" if i < 15 else "c")
                   for i in range(25)]
    m = t._load()
    key = t.read().filter("n = 3").first()["d"]
    if ktype.startswith("decimal"):
        assert all("key_min" not in g for g in m["groups"])
    else:
        first = t.read().filter("n = 0").first()["d"]
        assert m["groups"][0]["key_min"] == _stat_json(first)
        assert isinstance(m["groups"][0]["key_max"], str)
        lo, hi = key, key + dt.timedelta(days=2)
        bounds = {"d": (_stat_bound(lo), _stat_bound(hi))}
        assert len(prune_groups(m, bounds)) == 1
        got = t.read_between("d", lo, hi).collect()
        assert sorted(r["n"] for r in got) == [3, 4, 5]
    assert [(r["n"], r["v"]) for r in t.lookup(key).collect()] == [(3, "a")]
    got = t.read_between("n", 21, 30).collect()
    assert sorted(r["n"] for r in got) == [21, 22, 23, 24]


def test_read_between_skips_all_null_groups(spark, tdir):
    from pyspark.sql import functions as F

    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    t.append(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit(None).cast("string").alias("v")
        )
    )
    m = t._load()
    assert m["groups"][1]["stats"]["v"] == [None, None]
    assert len(prune_groups(m, {"v": ("a", "a")})) == 1  # null group skipped
    assert t.read_between("v", "a", "a").count() == 10


def test_prune_groups_rules():
    """The one group-skipping decision over hand-built manifests, no
    session: open bounds, an all-NULL batch column, all-NULL and
    never-held columns, missing stats, the 1-ary key_min/key_max pair
    (which still prunes a long string key whose column stats were
    capped away) and the bloom's ktype, cap and empty-probe rules."""
    import base64

    from sif_spark.table import _stat_bound

    def ids(m, bounds, probes=None):
        return [g["id"] for g in prune_groups(m, bounds, probes)]

    both = {"k": 1, "v": 2}
    m = {
        "key_col": "k",
        "columns": [{"name": "k", "id": 1}, {"name": "v", "id": 2}],
        "groups": [
            {"id": "a", "col_ids": both, "key_min": 0, "key_max": 9,
             "stats": {"k": [0, 9], "v": ["a", "c"]}},
            {"id": "b", "col_ids": both, "key_min": 10, "key_max": 19,
             "stats": {"k": [10, 19], "v": [None, None]}},
            {"id": "c", "col_ids": {"k": 1}, "stats": {"k": [20, 29]}},
            {"id": "d", "col_ids": both},
        ],
    }
    assert ids(m, {"k": (None, 12)}) == ["a", "b", "d"]
    assert ids(m, {"k": (25, None)}) == ["c", "d"]
    assert ids(m, {"k": None}) == []
    assert ids(m, {"v": ("b", "b")}) == ["a", "d"]
    assert ids(m, {}) == ["a", "b", "c", "d"]
    long = {"key_col": "s", "groups": [
        {"id": "a", "key_min": "a" * 300, "key_max": "b" * 300},
        {"id": "b", "key_min": "c" * 300, "key_max": "d" * 300},
    ]}
    assert ids(long, {"s": (_stat_bound("c" * 301),) * 2}) == ["b"]

    def bloom(fill, kt):
        bits = base64.b64encode(bytes([fill]) * 8).decode()
        return {"m": 64, "bits": bits, "ktype": kt}

    blooms = {"key_col": "k", "groups": [
        {"id": "all", "key_bloom": bloom(0xFF, "bigint")},
        {"id": "none", "key_bloom": bloom(0x00, "bigint")},
        {"id": "int", "key_bloom": bloom(0x00, "int")},
        {"id": "plain"},
    ]}
    assert ids(blooms, {}, ({"bigint": [(1, 2)]}, "bigint")) == [
        "all", "int", "plain"
    ]
    assert ids(blooms, {}, ({"bigint": None}, "bigint")) == [
        "all", "none", "int", "plain"
    ]
    assert ids(blooms, {}, ({"bigint": []}, "bigint")) == ["int", "plain"]


def test_lookup_uses_range_and_bloom(spark, tdir):
    """Point lookup: range-prunes to the right group; with key_bloom
    an absent key inside the range is proven absent by the filter
    (content-exact either way — bloom fp only reads more)."""
    even = spark.range(0, 200, 2).select(F.col("id").alias("k"), F.lit("e").alias("v"))
    odd = spark.range(1, 201, 2).select(F.col("id").alias("k"), F.lit("o").alias("v"))
    t = SifTable.create(spark, tdir, even, key_col="k", key_bloom=True)
    t.append(odd)
    hit = t.lookup(42).collect()
    assert len(hit) == 1 and hit[0]["v"] == "e"
    assert t.lookup(999).count() == 0
    # timestamps of the decision: the manifest alone (no data I/O for
    # range misses) — structural check via the pruning helpers
    m = t._load()
    assert len(prune_groups(m, {"k": (999, 999)})) == 0


def test_changes_feed_semantics(spark, tdir):
    """create/append contribute their rows, upsert contributes the
    update batch only (not rewritten survivors), delete/compact
    contribute nothing; every change row carries _commit_version."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")  # v1
    t.append(_df(spark, 5, 8, "b"))                                       # v2
    t.upsert(_df(spark, 2, 4, "u"))                                       # v3
    t.delete("k = 7")                                                     # v4
    t.compact()                                                           # v5
    ch = t.changes(0)
    rows = sorted((r["k"], r["v"], r["_commit_version"]) for r in ch.collect())
    assert rows == sorted(
        [(i, "a", 1) for i in range(5)]
        + [(i, "b", 2) for i in range(5, 8)]
        + [(2, "u", 3), (3, "u", 3)]
    )
    # incremental windows and empty tails
    assert t.changes(2).count() == 2         # just the upsert batch
    assert t.changes(3).count() == 0         # delete+compact: no changes
    assert t.changes(0, to_version=1).count() == 5
    assert "_commit_version" in t.changes(4).columns  # empty, schema intact


@pytest.mark.cluster
def test_sif_table_stream_source_exactly_once(spark, tdir):
    """readStream over the table: each committed version arrives as a
    micro-batch through the checkpoint offsets; a restarted stream
    re-delivers nothing; delete/compact versions deliver nothing."""
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")
    ckpt = f"{tdir}-src-ckpt"
    sink = f"{tdir}-src-sink"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)

    def start():  # parquet sink: the recoverable-from-checkpoint kind
        return (
            spark.readStream.format("sif_table")
            .option("path", tdir)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    def sunk():
        return spark.read.parquet(sink)

    q = start()
    try:
        q.processAllAvailable()
        assert sunk().count() == 5
        t.append(_df(spark, 5, 9, "b"))
        t.delete("k = 0")  # must deliver nothing
        q.processAllAvailable()
        got = {(r["k"], r["v"], r["_commit_version"])
               for r in sunk().collect()}
        assert got == {(i, "a", 1) for i in range(5)} | {
            (i, "b", 2) for i in range(5, 9)
        }
    finally:
        q.stop()
        q.awaitTermination()
    # restart from the same checkpoint: nothing re-delivered
    q2 = start()
    try:
        q2.processAllAvailable()
        assert sunk().count() == 9
        t.append(_df(spark, 9, 10, "c"))
        q2.processAllAvailable()
        assert sunk().count() == 10
    finally:
        q2.stop()
        q2.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)


@pytest.mark.cluster
def test_concurrent_writers_serialize_through_cas(spark, tdir):
    """Two writer threads race appends through the optimistic-commit
    CAS: every append must land exactly once (losers re-read and
    retry), the version chain must be contiguous, and the final table
    must hold every row exactly once."""
    import threading

    t = SifTable.create(spark, tdir, _df(spark, 0, 1, "seed"), key_col="k")
    errors = []

    def writer(tag, lo):
        try:
            for i in range(5):
                base = lo + i * 10
                t.append(_df(spark, base, base + 10, tag), retries=30)
        except Exception as e:  # surface into the main thread
            errors.append((tag, e))

    threads = [
        threading.Thread(target=writer, args=("a", 1000)),
        threading.Thread(target=writer, args=("b", 2000)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    versions = t._versions()
    assert versions == list(range(1, 12)), versions  # contiguous chain
    got = sorted(r["k"] for r in t.read().collect())
    exp = sorted(
        [0]
        + [1000 + i for i in range(50)]
        + [2000 + i for i in range(50)]
    )
    assert got == exp


def test_compact_zorder_by_keeps_both_dims_prunable(spark, tdir):
    """compact(zorder_by=[x, y]): content identical, and every output
    file's parquet footer covers a small hyper-rectangle on BOTH
    clustered columns (key-sorted compaction would leave the second
    column's per-file range at ~the global range)."""
    import glob

    import pyarrow.parquet as pq

    grid = spark.range(0, 16384).select(
        F.col("id").alias("k"),
        (F.col("id") % 128).alias("x"),
        F.floor(F.col("id") / 128).alias("y"),
    )
    t = SifTable.create(spark, tdir, grid.filter("k % 2 = 0"), key_col="k")
    t.append(grid.filter("k % 2 = 1"))
    before = _rows(t.read())
    with pytest.raises(ValueError, match="zorder"):
        bt = SifTable.create(spark, f"{tdir}-b", grid, key_col="k",
                             bucket_by="k", n_buckets=4)
        bt.compact(zorder_by=["x", "y"])
    v = t.compact(num_files=16, zorder_by=["x", "y"])
    assert _rows(t.read(v)) == before
    gpath = t._load(v)["groups"][0]["path"]

    def avg_frac(col_name):
        fracs = []
        for f in glob.glob(f"{gpath}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col_name:
                        st = c.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            fracs.append((hi - lo) / 127.0)
        return sum(fracs) / len(fracs)

    assert avg_frac("x") <= 0.55, avg_frac("x")
    assert avg_frac("y") <= 0.55, avg_frac("y")
    shutil.rmtree(f"{tdir}-b", ignore_errors=True)


def test_restore_rolls_back_by_reference(spark, tdir):
    """restore(v): content returns to the old snapshot without copying
    a byte (same group paths re-referenced); undone versions stay
    time-travelable; a vacuum after restore keeps the restored groups
    live because the head references them; the change feed emits
    nothing for the restore."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")  # v1
    t.append(_df(spark, 5, 9, "b"))                                       # v2
    t.delete("k <= 1")                                                    # v3
    v1_groups = {g["path"] for g in t._load(1)["groups"]}
    v = t.restore(1)                                                      # v4
    assert _rows(t.read()) == _rows(_df(spark, 0, 5, "a"))
    m = t._load(v)
    assert m["op"] == "restore" and m["restored_from"] == 1
    assert {g["path"] for g in m["groups"]} == v1_groups  # by reference
    assert t.changes(3).count() == 0  # restores emit no change rows
    # undone versions still time-travel until vacuum
    assert t.read(version=2).count() == 9
    # vacuum keeps the restored groups (the head references them)
    t.vacuum(retain_last=1)
    assert _rows(t.read()) == _rows(_df(spark, 0, 5, "a"))
    # schema rolls back too
    t2 = SifTable.create(spark, f"{tdir}/evo", _df(spark, 0, 2, "a"),
                         key_col="k")
    t2.append(_df(spark, 2, 4, "b").withColumn("extra", F.lit(1.0)))
    assert "extra" in t2.read().columns
    t2.restore(1)
    assert t2.read().columns == ["k", "v"]


@pytest.mark.heavy
def test_random_op_sequences_match_dict_model(spark, tdir):
    """Model-based check: a seeded random sequence of
    append/upsert/delete/compact/restore must leave the table equal to
    a plain {key: value} dict evolved by the same ops — and every
    historical version equal to the model's snapshot at that version.
    Catches cross-op interactions no single-op test covers (e.g.
    restore after compact after delete, upsert onto a restored
    snapshot)."""
    import random

    rng = random.Random(0xC0FFEE)
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "v0"), key_col="k")
    model = {k: "v0" for k in range(10)}
    history = {1: dict(model)}
    next_val = 1

    def frame(keys, val):
        rows = [(k, val) for k in keys]
        return spark.createDataFrame(rows, "k bigint, v string")

    for _step in range(24):
        op = rng.choice(["append", "upsert", "upsert", "delete",
                         "compact", "restore"])
        val = f"v{next_val}"
        if op == "append":
            lo = rng.randrange(1000, 9000)
            keys = list(range(lo, lo + rng.randrange(1, 8)))
            t.append(frame(keys, val))
            for k in keys:
                model[k] = val  # fresh key ranges: appends never dup
            next_val += 1
        elif op == "upsert":
            pool = list(model) or [0]
            keys = sorted(
                set(rng.sample(pool, min(len(pool), rng.randrange(1, 6))))
                | {rng.randrange(1000, 9000)}
            )
            t.upsert(frame(keys, val))
            for k in keys:
                model[k] = val
            next_val += 1
        elif op == "delete":
            m_, r_ = rng.choice([(3, 0), (5, 2), (7, 4)])
            t.delete(f"k % {m_} = {r_}")
            model = {k: v for k, v in model.items() if k % m_ != r_}
        elif op == "compact":
            t.compact()
        else:  # restore to a random committed version
            v = rng.choice(sorted(history))
            t.restore(v)
            model = dict(history[v])
        history[t._load()["version"]] = dict(model)
        got = dict(t.read().collect())
        assert got == model, f"step {_step} op {op}: table diverged"

    # every recorded version time-travels to its model snapshot
    for v in rng.sample(sorted(history), min(6, len(history))):
        assert dict(t.read(version=v).collect()) == history[v], v


@pytest.mark.cluster
def test_stream_source_rate_limit_caps_versions_per_batch(spark, tdir):
    """max_versions_per_trigger: a backlog of committed versions must
    drain in capped micro-batches, each arriving atomically, with the
    final content exact."""
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")
    for i in range(1, 6):  # backlog: versions 2..6
        t.append(_df(spark, i * 10, i * 10 + 5, f"b{i}"))
    ckpt, sink = f"{tdir}-rl-ck", f"{tdir}-rl-sink"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    batch_windows = []

    def record(df, _eid):
        vs = sorted(
            r["_commit_version"]
            for r in df.select("_commit_version").distinct().collect()
        )
        batch_windows.append(vs)
        df.write.mode("append").parquet(sink)

    q = (
        spark.readStream.format("sif_table")
        .option("path", tdir)
        .option("max_versions_per_trigger", 2)
        .option("rate_anchor_dir", f"{ckpt}/sif_anchor")
        .load()
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.read.parquet(sink)
        assert got.count() == 30
        # the cap REALLY produced capped batches: no window spans more
        # than 2 versions, and it took >= 3 batches to drain 6
        assert all(len(w) <= 2 for w in batch_windows), batch_windows
        assert len([w for w in batch_windows if w]) >= 3, batch_windows
        per_v = {r["_commit_version"]: r["n"]
                 for r in got.groupBy("_commit_version").count()
                 .withColumnRenamed("count", "n").collect()}
        assert per_v == {v: 5 for v in range(1, 7)}
    finally:
        q.stop()
        q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)


def test_empty_or_null_key_upsert_rewrites_nothing(spark, tdir):
    """An empty update batch (or all-null keys — null never
    equi-matches) must carry every group by reference instead of
    rewriting the table for nothing (the MV fold hits this on
    delete-only change windows)."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 50, "a"), key_col="k")
    before = {g["id"] for g in t._load()["groups"]}
    empty = spark.createDataFrame([], "k bigint, v string")
    t.upsert(empty)
    after = t._load()["groups"]
    assert before <= {g["id"] for g in after}, "groups were rewritten"
    assert t.read().count() == 50
    nulls = spark.createDataFrame([(None, "x")], "k bigint, v string")
    t.upsert(nulls)
    assert before <= {g["id"] for g in t._load()["groups"]}
    assert t.read().count() == 51  # the null-key row itself appends


def test_bloom_probe_survives_key_type_widening(spark, tdir):
    """ADVICE r10 (high): per-group blooms are hashed over the group's
    ON-DISK key dtype; after an int->bigint key widening, probes
    hashed with the raw updates dtype false-negative every
    pre-widening group — matched keys are never anti-joined out and
    the upsert silently duplicates keys. The probe must cast to each
    group's recorded bloom ktype."""
    even = spark.range(0, 100, 2).select(
        F.col("id").cast("int").alias("k"), F.lit("e").alias("v")
    )
    odd = spark.range(1, 101, 2).select(
        F.col("id").cast("int").alias("k"), F.lit("o").alias("v")
    )
    t = SifTable.create(spark, tdir, even, key_col="k", key_bloom=True)
    t.append(odd)
    m = t._load()
    assert all(g["key_bloom"]["ktype"] == "int" for g in m["groups"])
    odd_gid = m["groups"][1]["id"]
    # bigint updates widen the key column int -> bigint
    t.upsert(_df(spark, 2, 6, "u"))  # bigint keys 2..5
    m2 = t._load()
    assert "bigint" in m2["schema"]
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 100, "widened-dtype probe duplicated keys"
    assert got[2] == "u" and got[3] == "u" and got[4] == "u" and got[5] == "u"
    assert got[0] == "e" and got[1] == "o"
    # the odd group holds NO matched key in 2..5? it holds 3 and 5 —
    # so both groups must rewrite here; now prove the bloom still
    # SKIPS when it should: upsert even keys only
    ids_before = {g["id"] for g in t._load()["groups"]}
    t.upsert(_df(spark, 20, 22, "w"))  # bigint keys 20, 21 -> both groups hold one
    # lookup through a pre-widening group's int bloom (carried groups
    # from v1/v2 are gone after the first upsert rewrite, but the
    # rewritten groups recorded ktype=bigint — assert consistency)
    m3 = t._load()
    for g in m3["groups"]:
        if g.get("key_bloom"):
            assert g["key_bloom"]["ktype"] == "bigint"
    assert ids_before is not None


def test_lookup_probes_pre_widening_group_blooms(spark, tdir):
    """lookup() on a table whose key widened after groups were written
    must still find keys living in int-hashed-bloom groups (the old
    snapshot-typed probe returned silently empty)."""
    even = spark.range(0, 100, 2).select(
        F.col("id").cast("int").alias("k"), F.lit("e").alias("v")
    )
    t = SifTable.create(spark, tdir, even, key_col="k", key_bloom=True)
    # widen the schema WITHOUT touching the existing group: append a
    # bigint batch with disjoint keys
    t.append(_df(spark, 1000, 1005, "b"))
    m = t._load()
    assert "k bigint" in m["schema"]
    ktypes = {g["key_bloom"]["ktype"] for g in m["groups"] if g.get("key_bloom")}
    assert ktypes == {"int", "bigint"}
    hit = t.lookup(42).collect()
    assert len(hit) == 1 and hit[0]["v"] == "e", "int-bloom group false-negatived"
    assert t.lookup(1002).count() == 1
    assert t.lookup(999).count() == 0
    # and upsert against the mixed-ktype snapshot replaces exactly
    t.upsert(_df(spark, 42, 43, "u"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 55 and got[42] == "u" and got[44] == "e"


def test_read_between_unbounded_returns_full_snapshot(spark, tdir):
    """ADVICE r10 (medium): read_between(col) with BOTH bounds omitted
    must return the whole snapshot — pruning would drop all-null
    groups whose rows pass the trivial filter (silent row loss)."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    t.append(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit(None).cast("string").alias("v")
        )
    )
    assert t.read_between("v").count() == 13  # was 10: null group dropped
    assert t.read_between("k").count() == 13
    # bounded calls still prune (null rows never satisfy a range)
    assert t.read_between("v", "a", "a").count() == 10


def test_rate_anchor_monotonic_and_regression_guard(spark, tdir):
    """ADVICE r10 (medium): the rate-limit anchor never moves backward,
    and a planned batch whose end regressed below the committed start
    (lost anchor + start_after fallback) raises BEFORE the offset WAL
    can commit a lower end — instead of silently re-delivering."""
    import os

    from pyspark.sql.types import StructType

    from sif_spark.sources.table_stream import _SifTableStreamReader

    SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")
    anchor_dir = f"{tdir}-anchor"
    shutil.rmtree(anchor_dir, ignore_errors=True)
    r = _SifTableStreamReader(
        StructType([]),
        {
            "path": tdir,
            "max_versions_per_trigger": "2",
            "rate_anchor_dir": anchor_dir,
        },
    )
    r._write_anchor(10)
    r._write_anchor(4)  # must NOT lower it
    assert r._anchor() == 10
    # simulate a lost anchor with a surviving checkpoint: committed
    # start is v10, latestOffset's fallback produced end v2
    os.remove(os.path.join(anchor_dir, "anchor.json"))
    with pytest.raises(ValueError, match="regressed"):
        r.partitions({"version": 10}, {"version": 2})
    # the guard re-seated the anchor from the committed start, so the
    # restarted query caps FORWARD of the high-water (no re-delivery)
    assert r._anchor() == 10
    # next trigger caps at min(disk latest, anchor 10 + 2) — the
    # anchor base is the committed high-water, not start_after
    assert r.latestOffset() == {"version": 1}  # disk latest here is v1
    shutil.rmtree(anchor_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 11: CDC completeness (cdf=True), exact removal counters, plan bound
# ---------------------------------------------------------------------------


def test_cdf_full_change_matrix(spark, tdir):
    """A cdf=True table materializes every row change: inserts from
    create/append, update pre/post-images from upsert, tombstones from
    delete — and the manifests carry EXACT replaced/deleted counters."""
    from sif_spark.table import ChangeFeedIncompleteError  # noqa: F401

    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k",
                        cdf=True)                                      # v1
    t.append(_df(spark, 5, 8, "b"))                                    # v2
    t.upsert(_df(spark, 3, 6, "u"))   # replaces k=3,4,5; inserts none # v3
    t.upsert(_df(spark, 20, 22, "n"))  # pure insert, no change file   # v4
    t.delete("k >= 6 and k <= 7")                                      # v5
    assert t._load(3).get("replaced_rows") == 3
    assert t._load(3).get("cdc") is not None
    assert t._load(4).get("replaced_rows") == 0
    assert t._load(4).get("cdc") is None  # pure insert needs no file
    assert t._load(5).get("deleted_rows") == 2
    ch = t.changes(0, cdf=True)
    rows = sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in ch.collect()
    )
    assert rows == sorted(
        [(i, "a", "insert", 1) for i in range(5)]
        + [(i, "b", "insert", 2) for i in range(5, 8)]
        + [(3, "a", "update_preimage", 3), (4, "a", "update_preimage", 3),
           (5, "b", "update_preimage", 3)]
        + [(3, "u", "update_postimage", 3), (4, "u", "update_postimage", 3),
           (5, "u", "update_postimage", 3)]
        + [(20, "n", "insert", 4), (21, "n", "insert", 4)]
        + [(6, "b", "delete", 5), (7, "b", "delete", 5)]
    )
    # the append feed is unchanged by cdf (upsert batches as adds)
    assert t.changes(2, to_version=3).count() == 3
    # signed-fold invariant: insert+postimage-preimage-delete == final
    net = sum(
        (1 if r["_change_type"] in ("insert", "update_postimage") else -1)
        for r in ch.collect()
    )
    assert net == t.read().count()


def test_cdf_read_raises_without_change_file(spark, tdir):
    """On a table created WITHOUT cdf, changes(cdf=True) still works
    for provably add-only histories and raises the typed error the
    moment a version replaced or removed rows."""
    from sif_spark.table import ChangeFeedIncompleteError

    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k")
    t.append(_df(spark, 5, 8, "b"))
    t.upsert(_df(spark, 100, 102, "n"))  # pure insert: replaced_rows == 0
    assert t.changes(0, cdf=True).count() == 10  # all tagged insert
    t.upsert(_df(spark, 2, 4, "u"))  # replaces 2 rows, no change file
    with pytest.raises(ChangeFeedIncompleteError, match="replaced"):
        t.changes(0, cdf=True).count()
    # a delete without cdf likewise
    shutil.rmtree(f"{tdir}-d", ignore_errors=True)
    t2 = SifTable.create(spark, f"{tdir}-d", _df(spark, 0, 5, "a"), key_col="k")
    t2.delete("k = 1")
    with pytest.raises(ChangeFeedIncompleteError, match="removed"):
        t2.changes(0, cdf=True).count()
    # restore is never representable in the CDC feed
    t2.restore(1)
    with pytest.raises(ChangeFeedIncompleteError, match="restore"):
        t2.changes(2, cdf=True).count()
    shutil.rmtree(f"{tdir}-d", ignore_errors=True)


def test_delete_keeps_null_predicate_rows(spark, tdir):
    """SQL DELETE semantics: only predicate=TRUE rows go; rows where
    the predicate evaluates NULL must STAY (a bare NOT(pred) filter
    would silently drop them)."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, x long"
    )
    t = SifTable.create(spark, tdir, df, key_col="k")
    t.delete("x > 20")
    assert _rows(t.read()) == [(1, 10), (2, None)]
    assert t._load().get("deleted_rows") == 1


def test_changes_plan_nodes_bounded_over_many_commits(spark, tdir):
    """changes() over a long history plans O(distinct schemas) parquet
    scans, not O(groups) — VERDICT r10 'What's wrong' #2. 30 commits,
    one schema: the batch read must collapse to a single scan."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 2, "a"), key_col="k")
    for i in range(1, 30):
        t.append(_df(spark, 2 * i, 2 * i + 2, f"b{i}"))
    ch = t.changes(0)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    n_scans = max(plan.count("FileScan"), plan.count("Scan parquet"))
    assert n_scans <= 2, f"expected O(1) scans over 30 commits, got {n_scans}"
    assert ch.count() == 60
    # versions still tag correctly from the file paths
    per_v = {
        r["_commit_version"]: r["n"]
        for r in ch.groupBy("_commit_version").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert per_v == {v: 2 for v in range(1, 31)}


def test_vacuum_removes_cdc_files_of_dropped_versions(spark, tdir):
    import os

    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k",
                        cdf=True)
    t.upsert(_df(spark, 1, 3, "u"))  # v2: writes a change file
    cdc_path = t._load(2)["cdc"]["path"]
    assert os.path.isdir(cdc_path)
    t.compact()  # v3
    t.append(_df(spark, 50, 52, "c"))  # v4
    doomed = t.vacuum(retain_last=2)
    assert cdc_path in doomed
    assert not os.path.isdir(cdc_path)


def test_key_bloom_and_cdf_flags_survive_upsert_and_compact(spark, tdir):
    """The upsert/compact manifests must carry key_bloom and cdf
    forward — r10's upsert manifest silently DROPPED key_bloom, so the
    first upsert turned bloom maintenance off for every later write."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 50, "a"), key_col="k",
                        key_bloom=True, cdf=True)
    t.upsert(_df(spark, 0, 2, "u"))
    m = t._load()
    assert m["key_bloom"] is True and m["cdf"] is True
    assert all(g.get("key_bloom") for g in m["groups"] if g["rows"])
    t.compact()
    m = t._load()
    assert m["key_bloom"] is True and m["cdf"] is True
    assert all(g.get("key_bloom") for g in m["groups"] if g["rows"])


def test_stream_planner_guard_and_cdc_partitions(spark, tdir):
    """Planner-side: fail_on_content_removal refuses replacing/
    removing versions; cdf mode plans change-file partitions for them
    and insert-tagged data files otherwise."""
    from pyspark.sql.types import StructType

    from sif_spark.sources.table_stream import _SifTableStreamReader

    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k",
                        cdf=True)
    t.append(_df(spark, 5, 8, "b"))      # v2 add-only
    t.upsert(_df(spark, 2, 4, "u"))      # v3 replaces 2 rows
    guard = _SifTableStreamReader(
        StructType([]), {"path": tdir, "fail_on_content_removal": "true"}
    )
    assert guard.partitions({"version": 1}, {"version": 2})  # add-only ok
    with pytest.raises(ValueError, match="replaced"):
        guard.partitions({"version": 2}, {"version": 3})
    cdc = _SifTableStreamReader(
        StructType([]), {"path": tdir, "cdf": "true"}
    )
    parts = cdc.partitions({"version": 0}, {"version": 3})
    tags = {p.change_type for p in parts}
    assert "insert" in tags and None in tags  # data files + change file
    assert any("/cdc/" in p.file_path for p in parts)


def test_batch_datasource_read_pushdown_and_time_travel(spark, tdir):
    """spark.read.format('sif_table'): snapshot content matches the
    API read, version= time-travels, a WHERE prunes group files via
    pushFilters (12 files/3 groups -> 1 group), and schema evolution
    aligns old groups by name."""
    import os

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from pyspark.sql.types import StructType

    from sif_spark.sources.table_stream import (
        _SifTableBatchReader,
        register_table_source,
    )

    register_table_source(spark)
    t = SifTable.create(spark, tdir, _df(spark, 0, 100, "a"), key_col="k")
    t.append(_df(spark, 100, 200, "b"))
    t.append(
        spark.range(200, 300).select(
            F.col("id").alias("k"), F.lit("c").alias("v"),
            F.lit(1).cast("long").alias("extra"),
        )
    )
    r = spark.read.format("sif_table").option("path", tdir).load()
    assert r.count() == 300
    assert set(r.columns) == {"k", "v", "extra", "_commit_version"}
    # old groups surface the evolved column as NULL
    assert r.filter("extra IS NULL").count() == 200
    # row-level filters stay correct regardless of pruning
    assert r.filter("k >= 150 AND k < 160").count() == 10
    # time travel via option
    r1 = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("version", 1)
        .load()
    )
    assert r1.count() == 100 and "extra" not in r1.columns
    # structural: pushed bounds prune to one group's files (opt-in)
    rd = _SifTableBatchReader(StructType([]), {"path": tdir, "pushdown": "true"})
    full = {os.path.dirname(p.file_path) for p in rd.partitions()}
    rd2 = _SifTableBatchReader(StructType([]), {"path": tdir, "pushdown": "true"})
    list(
        rd2.pushFilters(
            [GreaterThanOrEqual(("k",), 210), LessThanOrEqual(("k",), 220)]
        )
    )
    pruned = {os.path.dirname(p.file_path) for p in rd2.partitions()}
    assert len(full) == 3 and len(pruned) == 1
    # end-to-end: the planned scan really shrinks under the WHERE on a
    # pushdown-enabled load (fresh relation per filtered pattern)
    rp = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    flt = rp.filter("k >= 210 AND k <= 220")
    n_flt = flt.rdd.getNumPartitions()
    rp2 = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    assert n_flt < rp2.rdd.getNumPartitions()
    assert flt.count() == 11


def test_batch_datasource_default_mode_immune_to_readinfo_cache(spark, tdir):
    """Spark 4.1's PythonDataSourceV2 keeps ONE mutable readInfo per
    relation: a filtered query overwrites it and a later unfiltered
    query on the same lineage reuses it STALE. With pruning opt-in
    (default off) every plan lists the full snapshot, so the replayed
    cache is always a correct plan — the filtered-then-full sequence
    must return all rows. (With pushdown=true the same sequence would
    lose rows — which is exactly why it is opt-in and documented.)"""
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    t = SifTable.create(spark, tdir, _df(spark, 0, 100, "a"), key_col="k")
    t.append(_df(spark, 100, 200, "b"))
    t.append(_df(spark, 200, 300, "c"))
    r = spark.read.format("sif_table").option("path", tdir).load()
    assert r.count() == 300
    assert r.filter("k >= 210 AND k <= 220").count() == 11
    # the poisoning sequence: unfiltered AFTER filtered, same lineage
    assert r.count() == 300
    assert r.filter("k <= 50").count() == 51
    assert r.count() == 300


def test_mixed_writer_stress_upsert_compact_delete(spark, tdir):
    """VERDICT r10 'Next round' #4: racing upsert vs compact vs delete
    through the CAS. Snapshot isolation under REWRITE races is where
    lost-update bugs live — a retried upsert recomputing against a
    freshly compacted/deleted manifest must stay content-exact. Every
    thread records the version its commit actually won; the final
    table must equal a SERIAL replay of the same ops in commit order,
    and the version chain must be contiguous with no orphan refs."""
    import threading

    from sif_spark.table import ConcurrentCommitError

    t = SifTable.create(spark, tdir, _df(spark, 0, 200, "base"), key_col="k")
    t.append(_df(spark, 200, 400, "base2"))
    committed: list[tuple[int, str, tuple]] = []
    lock = threading.Lock()
    errors: list = []

    def record(v, op, args):
        with lock:
            committed.append((v, op, args))

    def retry(fn, *args):
        for _ in range(60):
            try:
                return fn(*args)
            except ConcurrentCommitError:
                continue
        raise TimeoutError("writer starved through 60 CAS retries")

    def upserter(tag, slices):
        try:
            for lo, hi in slices:
                v = t.upsert(_df(spark, lo, hi, tag), retries=60)
                record(v, "upsert", (lo, hi, tag))
        except Exception as e:
            errors.append((tag, e))

    def compactor(n):
        try:
            for _ in range(n):
                v = retry(t.compact)
                record(v, "compact", ())
        except Exception as e:
            errors.append(("compact", e))

    def deleter(mods):
        try:
            for m_ in mods:
                v = retry(t.delete, f"k % 17 = {m_}")
                record(v, "delete", (m_,))
        except Exception as e:
            errors.append(("delete", e))

    def merger(slices):
        try:
            for lo, hi in slices:
                v = t.merge(
                    _df(spark, lo, hi, "M"),
                    when_matched_delete="t.k % 19 = 0",
                    when_matched_update={"v": "s.v"},
                    when_not_matched_insert=True,
                    retries=60,
                )
                record(v, "merge", (lo, hi))
        except Exception as e:
            errors.append(("merge", e))

    threads = [
        threading.Thread(
            target=upserter, args=("A", [(50, 120), (300, 360), (10, 40)])
        ),
        threading.Thread(
            target=upserter, args=("B", [(100, 170), (330, 420), (0, 30)])
        ),
        threading.Thread(target=compactor, args=(3,)),
        threading.Thread(target=deleter, args=([3, 11],)),
        threading.Thread(target=merger, args=([(150, 220), (380, 450)],)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    versions = t._versions()
    assert versions == list(range(1, len(versions) + 1)), versions
    # 6 upserts + 3 compacts + 2 deletes + 2 merges
    assert len(committed) == 13
    assert len({v for v, _, _ in committed}) == len(committed)
    # serial replay in commit order must reproduce the exact content
    replay_dir = f"{tdir}-replay"
    shutil.rmtree(replay_dir, ignore_errors=True)
    rt = SifTable.create(
        spark, replay_dir, _df(spark, 0, 200, "base"), key_col="k"
    )
    rt.append(_df(spark, 200, 400, "base2"))
    for v, op, args in sorted(committed):
        if op == "upsert":
            lo, hi, tag = args
            rt.upsert(_df(spark, lo, hi, tag))
        elif op == "delete":
            rt.delete(f"k % 17 = {args[0]}")
        elif op == "merge":
            lo, hi = args
            rt.merge(
                _df(spark, lo, hi, "M"),
                when_matched_delete="t.k % 19 = 0",
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=True,
            )
        else:
            rt.compact()
    assert _rows(t.read()) == _rows(rt.read())
    shutil.rmtree(replay_dir, ignore_errors=True)


def test_batch_datasource_writer_records_group_bytes(spark, tdir):
    """A group the `sif_table` writer commits records its data bytes,
    as every SifTable group write does, so size_bytes() reads the
    manifest and equals the group dirs' listing."""
    import os

    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    for lo, mode in ((0, "append"), (50, "append"), (80, "overwrite")):
        (_df(spark, lo, lo + 30, "a").write.format("sif_table")
         .option("path", tdir).option("key_col", "k").mode(mode).save())
        t = SifTable(spark, tdir)
        listed = sum(
            os.path.getsize(os.path.join(g["path"], n))
            for g in t._load()["groups"]
            for n in os.listdir(g["path"])
            if not n.startswith(("_", "."))
        )
        assert all(g["bytes"] > 0 for g in t._load()["groups"])
        assert t.size_bytes() == sum(
            g["bytes"] for g in t._load()["groups"]
        ) == listed > 0


def test_arrow_col_minmax_skips_only_kernel_less_types():
    """The `sif_table` writer's batch stats: a column type Arrow has no
    min_max kernel for (a list) gives no stats, while any other failure,
    such as a non-Arrow argument, is raised."""
    import pyarrow as pa

    from sif_spark.sources.table_stream import _arrow_col_minmax

    assert _arrow_col_minmax(pa.chunked_array([[3, 1, 2]])) == (1, 3)
    assert _arrow_col_minmax(pa.chunked_array([[[1], [2, 3]]])) is None
    with pytest.raises(TypeError):
        _arrow_col_minmax(object())


def test_batch_datasource_writer_roundtrip_txn_and_guards(spark, tdir):
    """df.write.format('sif_table'): create + append + overwrite via
    the DS writer interoperate with the full API (upsert, lookup,
    change feed, time travel); txn options make replays no-ops;
    schema drift raises; staged files never leak; both feed guards
    refuse to cross an overwrite."""
    import os

    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import ChangeFeedIncompleteError

    register_table_source(spark)
    df = _df(spark, 0, 100, "a")
    (df.filter("k < 50").write.format("sif_table").option("path", tdir)
       .option("key_col", "k").mode("append").save())
    (df.filter("k >= 50").write.format("sif_table").option("path", tdir)
       .option("txn_app", "w").option("txn_epoch", "3").mode("append").save())
    t = SifTable(spark, tdir)
    assert [(h["version"], h["op"]) for h in t.history()] == [
        (1, "create"), (2, "append")
    ]
    assert t.read().count() == 100
    m = t._load()
    g1 = m["groups"][0]
    assert g1["key_min"] == 0 and g1["key_max"] == 49  # stats rode messages
    # replayed txn epoch: committed no-op
    (df.filter("k >= 50").write.format("sif_table").option("path", tdir)
       .option("txn_app", "w").option("txn_epoch", "3").mode("append").save())
    assert t._load()["version"] == 2 and t.read().count() == 100
    # feed + API interop over DS-written groups
    assert t.changes(1).count() == 50
    t.upsert(spark.createDataFrame([(7, "z")], "k long, v string"))
    assert t.lookup(7).collect()[0]["v"] == "z"
    # schema drift raises instead of writing a torn group
    with pytest.raises(Exception, match="snapshot schema"):
        (df.selectExpr("k").write.format("sif_table")
           .option("path", tdir).mode("append").save())
    assert not os.listdir(os.path.join(tdir, "_staging"))
    # overwrite: new snapshot references ONLY the new group; history
    # stays; both feed guards refuse to cross it
    (df.filter("k < 10").write.format("sif_table").option("path", tdir)
       .mode("overwrite").save())
    assert t.read().count() == 10
    assert t.read(version=2).count() == 100
    with pytest.raises(ChangeFeedIncompleteError, match="overwrite"):
        t.changes(3, cdf=True).count()
    from pyspark.sql.types import StructType

    from sif_spark.sources.table_stream import _SifTableStreamReader

    guard = _SifTableStreamReader(
        StructType([]), {"path": tdir, "fail_on_content_removal": "true"}
    )
    with pytest.raises(ValueError, match="overwrite"):
        guard.partitions({"version": 3}, {"version": t._load()["version"]})


# ---------------------------------------------------------------------------
# round 11 review findings (code-review r11): each fixed with a pin
# ---------------------------------------------------------------------------


def test_writer_stats_poison_is_sticky_across_batches(spark, tdir):
    """A batch whose min/max is unusable (>256-char string) must kill
    the column's stats for the WHOLE file — a later batch re-creating
    them from its own values would make pushdown pruning silently
    lose the earlier batch's rows."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from sif_spark.sources.table_stream import _SifTableBatchWriter

    w = _SifTableBatchWriter(StructType([]), {"path": tdir}, False)
    b1 = pa.record_batch({"c": pa.array(["aaa", "z" * 300])})
    b2 = pa.record_batch({"c": pa.array(["mmm", "nnn"])})
    msg = w.write(iter([b1, b2]))
    assert msg.rows == 4
    assert "c" not in msg.stats, msg.stats  # poisoned: no partial stats
    w.abort([msg])


def test_batch_reader_fully_pruned_returns_zero_rows(spark, tdir):
    """A pushdown filter that prunes EVERY group is a legitimate query
    — it must return 0 rows, not crash on Spark's [None] partition
    substitution."""
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    SifTable.create(spark, tdir, _df(spark, 0, 50, "a"), key_col="k")
    r = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    assert r.filter("k > 1000").count() == 0


def test_writer_empty_overwrite_commits_readable_empty_snapshot(spark, tdir):
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    df = _df(spark, 0, 50, "a")
    df.write.format("sif_table").option("path", tdir).mode("append").save()
    df.filter("k > 1000").write.format("sif_table").option(
        "path", tdir
    ).mode("overwrite").save()
    t = SifTable(spark, tdir)
    assert t._load()["op"] == "overwrite" and t._load()["groups"] == []
    assert t.read().count() == 0
    assert t.read().columns == ["k", "v"]  # schema intact
    assert t.read(version=1).count() == 50  # time travel still works


def test_bloom_probe_try_cast_survives_out_of_range_keys(spark, tdir):
    """ANSI mode: a key wider than a group's recorded bloom dtype must
    DROP from that group's probe set (it provably cannot match),
    not raise CAST_OVERFLOW and kill the upsert/lookup."""
    t = SifTable.create(
        spark, tdir,
        spark.range(0, 50).select(
            F.col("id").cast("int").alias("k"), F.lit("a").alias("v")
        ),
        key_col="k", key_bloom=True,
    )
    # widen the key; the v1 group's bloom stays recorded as ktype int
    t.append(
        spark.createDataFrame([(5_000_000_000, "b")], "k long, v string")
    )
    # a MIXED update batch (one in-int-range key + one overflowing
    # key) makes the batch's key range OVERLAP the int group, so its
    # bloom is actually probed — with a plain cast() this raised
    # CAST_OVERFLOW under ANSI before any skipping decision
    t.upsert(
        spark.createDataFrame(
            [(3, "c"), (5_000_000_000, "c2")], "k long, v string"
        )
    )
    got = dict(t.read().collect())
    assert got[3] == "c" and got[5_000_000_000] == "c2"
    assert t.read().count() == 51
    # lookup of the out-of-range key: no crash, exact row back
    assert t.lookup(5_000_000_000).collect()[0]["v"] == "c2"
    assert t.lookup(7_000_000_000).count() == 0


def test_mview_belt_rejects_overwrite_versions(spark, tdir):
    from sif_spark.mview import merge_partials
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import ChangeFeedIncompleteError

    register_table_source(spark)
    df = _df(spark, 0, 30, "a")
    df.write.format("sif_table").option("path", tdir).mode("append").save()
    df.write.format("sif_table").option("path", tdir).mode("overwrite").save()
    t = SifTable(spark, tdir)
    batch = t.changes(1)  # the overwrite's group arrives as plain adds
    with pytest.raises(ChangeFeedIncompleteError, match="overwrite"):
        merge_partials(
            batch, 0, f"{tdir}-view", "v", {"n": "1"}, "belt",
            src_path=tdir,
        )


def test_ds_writer_races_api_writer_through_cas(spark, tdir):
    """The DS writer's commit CAS loop under real contention: a thread
    of API appends races a thread of DS-format appends. A lost CAS
    makes the DS commit re-mint its group dir under the next version
    (os.rename) — every append must land exactly once, the chain must
    be contiguous, and every group dir must carry its manifest's
    version in its name (the changes() version-derivation contract)."""
    import threading

    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "seed"), key_col="k")
    errors: list = []

    def api_writer():
        try:
            for i in range(4):
                t.append(_df(spark, 1000 + 100 * i, 1000 + 100 * i + 50, "api"),
                         retries=60)
        except Exception as e:
            errors.append(("api", e))

    def ds_writer():
        try:
            # a fresh driver thread has no JVM-side active session, and
            # Python data-source lookup resolves through it — without
            # this, format('sif_table') falls back to Java class
            # loading and dies with ClassNotFoundException (documented
            # in docs/table.md)
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            for i in range(4):
                (
                    _df(spark, 5000 + 100 * i, 5000 + 100 * i + 50, "ds")
                    .write.format("sif_table")
                    .option("path", tdir)
                    .mode("append")
                    .save()
                )
            pass
        except Exception as e:
            errors.append(("ds", e))

    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    threads = [
        threading.Thread(target=api_writer),
        threading.Thread(target=ds_writer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    versions = t._versions()
    assert versions == list(range(1, 10)), versions  # 1 create + 8 appends
    assert t.read().count() == 10 + 8 * 50
    # every added group's dir name carries its committing version
    for v in versions:
        m = t._load(v)
        by_id = {g["id"]: g for g in m["groups"]}
        for gid in m["added"]:
            assert gid.startswith(f"g-{v:010d}-"), (v, gid)
    # and the change feed tags every row with the right version
    per_v = {
        r["_commit_version"]: r["n"]
        for r in t.changes(1)
        .groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_v == {v: 50 for v in range(2, 10)}, per_v


def test_cdf_preimages_align_across_schema_evolution(spark, tdir):
    """CDC × schema evolution: pre-images of rows written BEFORE a
    column existed must surface the evolved column as NULL, and
    post-images carry the new values — the change file is written at
    the upsert's MERGED schema, and the feed aligns it to the window's
    final schema by name."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 5, "a"), key_col="k",
                        cdf=True)                                     # v1
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("b").alias("v"),
            (F.col("id") * 10).alias("w"),
        )
    )                                                                 # v2 evolves
    t.upsert(
        spark.createDataFrame([(1, "u", 111), (6, "u", 666)],
                              "k long, v string, w long")
    )                                                                 # v3
    ch = t.changes(2, cdf=True)  # just the upsert's CDC
    rows = sorted(
        (r["k"], r["v"], r["w"], r["_change_type"]) for r in ch.collect()
    )
    assert rows == sorted(
        [
            (1, "a", None, "update_preimage"),   # pre-column row: w NULL
            (6, "b", 60, "update_preimage"),
            (1, "u", 111, "update_postimage"),
            (6, "u", 666, "update_postimage"),
        ]
    )
    assert t._load(3)["replaced_rows"] == 2


def test_delete_keys_bulk_with_skipping_cdc_and_txn(spark, tdir):
    """delete_keys: the DELETE-WHERE-key-IN-(huge set) shape — groups
    provably not holding any doomed key carry by reference (range +
    bloom, try_cast-safe), the manifest records the exact count, cdf
    tables materialize tombstones, and txn= makes replays no-ops."""
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100, "a"), key_col="k",
        key_bloom=True, cdf=True,
    )
    t.append(_df(spark, 1000, 1100, "b"))  # range-disjoint from doomed
    far = t._load()["groups"][1]
    doomed = spark.range(0, 100, 7).select(F.col("id").alias("k"))
    v = t.delete_keys(doomed, txn=("dk", 0))
    m = t._load(v)
    assert m["op"] == "delete" and m["deleted_rows"] == 15  # ceil(100/7)
    assert any(g["path"] == far["path"] for g in m["groups"])  # skipped
    assert t.read().count() == 200 - 15
    assert t.read().filter("k % 7 = 0 AND k < 100").count() == 0
    # cdc tombstones: exactly the deleted rows, old values
    tomb = t.changes(2, cdf=True)
    assert tomb.count() == 15
    assert {r["_change_type"] for r in tomb.collect()} == {"delete"}
    # replayed epoch: committed no-op
    assert t.delete_keys(doomed, txn=("dk", 0)) == v
    assert t._load()["version"] == v
    # deleting EVERYTHING in a group leaves no zero-row group behind
    t2_path = f"{tdir}-all"
    shutil.rmtree(t2_path, ignore_errors=True)
    t2 = SifTable.create(spark, t2_path, _df(spark, 0, 10, "a"), key_col="k")
    t2.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")))
    assert t2.read().count() == 0 and t2._load()["groups"] == []
    shutil.rmtree(t2_path, ignore_errors=True)


def test_strip_file_scheme_authority_handling():
    """ADVICE r11 low: 'file://host/path' used to become the RELATIVE
    path 'host/path' — a silently wrong table location. Remote
    authorities now raise; empty/localhost authorities resolve."""
    from sif_spark.table import strip_file_scheme

    assert strip_file_scheme("/a/b") == "/a/b"
    assert strip_file_scheme("file:/a/b") == "/a/b"
    assert strip_file_scheme("file:///a/b") == "/a/b"
    assert strip_file_scheme("file://localhost/a/b") == "/a/b"
    assert strip_file_scheme("file://") == "/"
    with pytest.raises(ValueError, match="remote authority"):
        strip_file_scheme("file://nas01/a/b")


def test_ds_writer_commit_failure_reclaims_staging(spark, tdir):
    """ADVICE r11 low: a driver-side commit failure (here: schema
    mismatch against the snapshot) must reclaim _staging/<write_id> —
    Spark is not guaranteed to call abort() after commit() raises, and
    vacuum never lists _staging, so the orphan files would accumulate
    forever."""
    import os

    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    bad = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )  # v: string in the snapshot, double here -> commit raises
    with pytest.raises(Exception, match="schema"):
        bad.write.format("sif_table").option("path", tdir).mode(
            "append"
        ).save()
    staging = os.path.join(tdir, "_staging")
    leftovers = os.listdir(staging) if os.path.isdir(staging) else []
    assert leftovers == [], leftovers
    # and the table itself is untouched
    t = SifTable(spark, tdir)
    assert t.read().count() == 10 and t._versions() == [1]


def _merge_src(spark, lo, hi, delta=100):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("src"), F.col("id")).alias("v"),
        (F.col("id") + delta).alias("delta"),
    )


def test_merge_update_subset_delete_insert(spark, tdir):
    """Conditional MERGE (VERDICT r11 #2): one commit updates a column
    SUBSET of matched rows, conditionally deletes others, inserts the
    unmatched — and every unlisted column keeps its target value."""
    base = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("t"), F.col("id")).alias("v"),
        F.lit(1).alias("gen"),
    )
    t = SifTable.create(spark, tdir, base, key_col="k")
    src = spark.range(50, 150).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("v"),
        F.lit(2).alias("gen"),
    )
    v = t.merge(
        src,
        when_matched_delete="s.k % 10 = 0",          # 50,60,70,80,90 go
        when_matched_update={"v": "s.v"},            # gen stays 1
        when_matched_update_condition="s.k % 2 = 1",  # odd matched only
        when_not_matched_insert=True,                # 100..149 arrive
    )
    assert v == 2
    out = t.read()
    assert out.count() == 100 - 5 + 50
    # deleted
    assert out.filter("k IN (50, 60, 70, 80, 90)").count() == 0
    # updated subset: v from source, gen KEPT at 1
    r51 = out.filter("k = 51").collect()[0]
    assert r51["v"] == "s51" and r51["gen"] == 1
    # matched but condition-false: untouched
    r52 = out.filter("k = 52").collect()[0]
    assert r52["v"] == "t52" and r52["gen"] == 1
    # unmatched target rows untouched
    assert out.filter("k = 10").collect()[0]["v"] == "t10"
    # inserts carry source values
    r120 = out.filter("k = 120").collect()[0]
    assert r120["v"] == "s120" and r120["gen"] == 2
    # exact counters in the manifest
    m = t._load(2)
    assert m["op"] == "merge"
    assert m["replaced_rows"] == 25  # odd keys in 51..99 minus none deleted
    assert m["deleted_rows"] == 5


def test_merge_skips_disjoint_groups_and_counts_zero(spark, tdir):
    """Two-tier skipping carries range-disjoint groups BY REFERENCE
    (same group ids), and an insert-only merge rewrites nothing."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 100, "a"), key_col="k")
    t.append(_df(spark, 1000, 1100, "b"))
    g_before = {g["id"] for g in t._load()["groups"]}
    t.merge(
        _df(spark, 1050, 1080, "patch"),
        when_matched_update={"v": "s.v"},
    )
    m = t._load()
    # the disjoint group (0..99) carried by reference
    kept = {g["id"] for g in m["groups"]} & g_before
    assert any(g["id"] in kept for g in m["groups"] if g.get("key_max") == 99)
    assert m["replaced_rows"] == 30 and m["deleted_rows"] == 0
    # insert-only merge: NO group rewrite at all, one added group
    g2 = {g["id"] for g in m["groups"]}
    t.merge(_df(spark, 2000, 2010, "new"), when_not_matched_insert=True)
    m3 = t._load()
    assert g2 <= {g["id"] for g in m3["groups"]}
    assert len(m3["added"]) == 1
    assert m3["replaced_rows"] == 0 and m3["deleted_rows"] == 0
    assert t.read().count() == 210


def test_merge_cdf_images_and_txn_replay(spark, tdir):
    """cdf=True merge materializes exact pre/post-images, tombstones
    and inserts; a txn replay is a committed no-op."""
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 50, "a"), key_col="k", cdf=True
    )
    v = t.merge(
        _df(spark, 40, 70, "m"),
        when_matched_delete="s.k >= 48",
        when_matched_update={"v": "concat(t.v, '+', s.v)"},
        when_not_matched_insert=True,
        txn=("mrg", 7),
    )
    ch = t.changes(1, cdf=True)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type == {
        "delete": 2,            # 48, 49
        "update_preimage": 8,   # 40..47
        "update_postimage": 8,
        "insert": 20,           # 50..69
    }
    pre = ch.filter("_change_type = 'update_preimage' AND k = 41").collect()[0]
    post = ch.filter("_change_type = 'update_postimage' AND k = 41").collect()[0]
    assert pre["v"] == "a" and post["v"] == "a+m"
    # replayed epoch: committed no-op
    assert t.merge(
        _df(spark, 40, 70, "m"),
        when_matched_update={"v": "s.v"},
        txn=("mrg", 7),
    ) == v
    assert t._versions()[-1] == v


def test_merge_guards(spark, tdir):
    """Cardinality violation raises; a deleting merge poisons the
    append feed (stream + keyed-fold + mview + batch-CDC guards all
    see op=merge); key update is rejected."""
    from functools import partial

    from sif_spark.table import ChangeFeedIncompleteError, feed_refusal

    t = SifTable.create(spark, tdir, _df(spark, 0, 20, "a"), key_col="k")
    dup = _df(spark, 5, 10, "x").unionAll(_df(spark, 5, 6, "y"))
    with pytest.raises(ValueError, match="distinct"):
        t.merge(dup, when_matched_update={"v": "s.v"})
    with pytest.raises(ValueError, match="merge key"):
        t.merge(_df(spark, 0, 5, "x"), when_matched_update={"k": "s.k + 1"})
    with pytest.raises(ValueError, match="no-op"):
        t.merge(_df(spark, 0, 5, "x"))
    t.merge(_df(spark, 10, 25, "m"), when_matched_delete="s.k >= 18",
            when_not_matched_insert=True)
    m = t._load()
    assert m["deleted_rows"] == 2 and m["replaced_rows"] == 0
    for guard in (feed_refusal, partial(feed_refusal, keyed=True)):
        with pytest.raises(ValueError, match="merge"):
            guard(m)
    with pytest.raises(ChangeFeedIncompleteError, match="merge"):
        feed_refusal(m)
    # an updating (non-deleting) merge fails BOTH guards: unlike an
    # upsert, its post-images live in the REWRITTEN group, which the
    # append feed never emits — even a keyed fold would go stale
    t2_dir = tdir + "-2"
    shutil.rmtree(t2_dir, ignore_errors=True)
    t2 = SifTable.create(spark, t2_dir, _df(spark, 0, 20, "a"), key_col="k")
    t2.merge(_df(spark, 0, 5, "u"), when_matched_update={"v": "s.v"})
    m2 = t2._load()
    for guard in (feed_refusal, partial(feed_refusal, keyed=True)):
        with pytest.raises(ValueError, match="merge"):
            guard(m2)
    # an INSERT-ONLY merge (both counters zero) passes both: its only
    # change is the added group, which the feed emits completely
    t2.merge(_df(spark, 100, 105, "n"), when_not_matched_insert=True)
    m3 = t2._load()
    feed_refusal(m3)
    feed_refusal(m3, keyed=True)
    shutil.rmtree(t2_dir, ignore_errors=True)


def test_cdf_retention_typed_errors_never_silent_gaps(spark, tdir):
    """VERDICT r11 'Next round' #8: the cdc/ directory gets its own
    retention (vacuum(cdf_retain_last=)) independent of snapshot
    retention; consuming a reclaimed stretch — whether the change
    file or the whole manifest went — raises a typed
    ChangeFeedIncompleteError NAMING the range, and within retention
    the feed stays exact."""
    from sif_spark.table import ChangeFeedIncompleteError

    t = SifTable.create(
        spark, tdir, _df(spark, 0, 40, "a"), key_col="k", cdf=True
    )
    t.upsert(_df(spark, 0, 10, "u1"))    # v2: change file
    t.append(_df(spark, 40, 60, "b"))    # v3
    t.upsert(_df(spark, 50, 55, "u2"))   # v4: change file
    t.append(_df(spark, 60, 70, "c"))    # v5
    # inside retention: exact feed
    assert t.changes(0, cdf=True).count() > 0
    # reclaim v2's change file only (snapshots stay time-travelable)
    doomed = t.vacuum(retain_last=5, cdf_retain_last=2)
    assert len(doomed) == 1 and "/cdc/" in doomed[0]
    assert t.read(version=2).count() == 40  # snapshot untouched
    with pytest.raises(ChangeFeedIncompleteError, match="reclaimed"):
        t.changes(1, cdf=True)  # window needs v2's images
    # a window past the reclaimed file still works
    assert (
        t.changes(3, cdf=True)
        .filter("_change_type = 'update_postimage'")
        .count()
        == 5
    )
    # the streaming CDC source refuses the reclaimed batch too
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    ck = tdir + "-ck"
    shutil.rmtree(ck, ignore_errors=True)
    q = (
        spark.readStream.format("sif_table")
        .option("path", tdir)
        .option("cdf", "true")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="reclaimed"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    shutil.rmtree(ck, ignore_errors=True)
    # manifest-dropping vacuum: a window reaching below the oldest
    # surviving manifest names the missing range
    t.vacuum(retain_last=2)
    with pytest.raises(ChangeFeedIncompleteError, match="1..3"):
        t.changes(0, cdf=True)
    assert t.changes(3, cdf=True).count() > 0


def test_merge_on_bucketed_table_keeps_layout(spark, tdir):
    """MERGE on a bucketed table writes its rewritten + insert groups
    hash-clustered like every other op, so a post-merge compact still
    serves the zero-Exchange bucketed join."""
    from sif_spark.plans import plan_string

    t = SifTable.create(
        spark, tdir, _df(spark, 0, 200, "a"), key_col="k",
        bucket_by="k", n_buckets=4,
    )
    t.merge(
        _df(spark, 150, 260, "m"),
        when_matched_update={"v": "s.v"},
        when_matched_delete="t.k % 13 = 0",
        when_not_matched_insert=True,
    )
    out = t.read()
    assert out.filter("k = 160").collect()[0]["v"] == "m"
    assert out.filter("k = 156").count() == 0  # 156 = 12*13
    assert out.filter("k = 220").count() == 1
    t.compact()
    bf = t.bucketed_frame()
    other = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).alias("w")
    )
    spark.catalog.dropTempView("bkt_merge_other") if spark.catalog.tableExists("bkt_merge_other") else None
    other.write.mode("overwrite").bucketBy(4, "k").option(
        "path", tdir + "-other"
    ).format("parquet").saveAsTable("bkt_merge_other")
    joined = bf.join(spark.table("bkt_merge_other"), "k")
    text = plan_string(joined, "simple")
    # the sif_table side must not re-shuffle (its scan is bucketed)
    assert text.count("Exchange hashpartitioning") <= 1
    assert joined.count() > 0


def test_merge_composite_key_pattern(spark, tdir):
    """The LEGACY derived-hash composite-key pattern still functions
    for non-null keys (kept as a compatibility pin) — but it is no
    longer the documented route: a 64-bit hash as table identity
    silently folds distinct business tuples (~n^2/2^65, plus
    deterministic null-skip collisions). First-class key_cols=[...]
    is the real surface — tests/test_table_composite.py, q188."""
    from sif_spark import functions as SF

    base = spark.range(0, 100).select(
        (F.col("id") % 10).alias("region"),
        (F.col("id") / 10).cast("long").alias("day"),
        F.lit(5).alias("sales"),
    ).withColumn("pk", SF.key_columns("region", "day"))
    t = SifTable.create(spark, tdir, base, key_col="pk")
    cdc = spark.range(0, 10).select(
        F.col("id").alias("region"),
        F.lit(3).cast("long").alias("day"),
        (F.col("id") + 100).alias("sales"),
    ).withColumn("pk", SF.key_columns("region", "day"))
    t.merge(
        cdc,
        when_matched_update={"sales": "t.sales + s.sales"},
        when_not_matched_insert=True,
    )
    out = t.read()
    assert out.count() == 100  # all matched (region x day=3 exists)
    assert out.filter("day = 3 AND region = 4").collect()[0]["sales"] == 109  # 5 + 104
    assert out.filter("day != 3").agg(F.sum("sales")).collect()[0][0] == 90 * 5


def test_merge_empty_update_dict_is_inert(spark, tdir):
    """when_matched_update={} updates NO columns — it must not count
    matched rows as replaced nor write identical pre/postimage pairs
    (ADVICE r12 low: F.lit(upd is not None) made an empty mapping an
    active clause)."""
    t = SifTable.create(
        spark, f"{tdir}/tmei", _df(spark, 0, 20, "a"), key_col="k", cdf=True
    )
    src = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit("s").alias("v")
    )
    v = t.merge(
        src,
        when_matched_update={},
        when_matched_delete="s.k >= 12",
    )
    m = t._load(v)
    assert m["replaced_rows"] == 0
    assert m["deleted_rows"] == 3  # 12, 13, 14
    ch = t.changes(v - 1, to_version=v, cdf=True)
    kinds = {r["_change_type"] for r in ch.select("_change_type").collect()}
    assert kinds == {"delete"}
    # matched-but-not-deleted rows carried over unchanged
    assert t.read().filter("v = 'a'").count() == 17


def test_changes_window_inside_vacuumed_prefix_raises_typed(spark, tdir):
    """An explicit to_version that lies ENTIRELY inside the vacuumed
    prefix raises ChangeFeedIncompleteError, not a raw not-found error
    (ADVICE r12 low: the old guard only caught windows that REACHED
    the surviving suffix)."""
    from sif_spark.table import ChangeFeedIncompleteError

    t = SifTable.create(spark, f"{tdir}/tvw", _df(spark, 0, 5, "a"))
    t.append(_df(spark, 5, 10, "b"))
    t.append(_df(spark, 10, 15, "c"))
    t.append(_df(spark, 15, 20, "d"))
    t.vacuum(retain_last=2)  # v1, v2 gone
    with pytest.raises(ChangeFeedIncompleteError, match="vacuumed"):
        t.changes(0, to_version=2)
    with pytest.raises(ChangeFeedIncompleteError, match="vacuumed"):
        t.changes(0, to_version=1)
    # the surviving window still reads
    assert t.changes(2).count() == 10


def test_concurrent_disjoint_mergers_rebase_without_rerun(spark, tdir):
    """Commit-conflict granularity (VERDICT r12 'Next round' #6): four
    mergers on DISJOINT key ranges race through the CAS. Losing a CAS
    no longer re-runs the whole merge — _publish re-reads the head and
    its build, _rebased, verifies the read set is untouched and the
    interloper's groups are provably key-disjoint (cached range bounds
    + bloom probes, job-free), then re-CASes the rebased manifest. Each thread must therefore run its
    merge JOB at most twice (>=1 would re-run per lost CAS before),
    and the result must equal the serial replay.

    Each merger's whole batch — matched keys AND inserts — lives in
    its own 1000-key slot, so the cached per-column range bounds
    prove every interloper group disjoint deterministically (the
    realistic CDC sharding). A batch whose envelope spans another
    writer's keys falls back to the bloom tier, and failing that to
    the full retry — conservative by construction."""
    import threading

    t0 = SifTable.create(spark, tdir, _df(spark, 0, 500, "base"),
                         key_col="k")
    t0.append(_df(spark, 1000, 1500, "base"))
    t0.append(_df(spark, 2000, 2500, "base"))
    t0.append(_df(spark, 3000, 3500, "base"))
    runs = [0, 0, 0, 0]
    errors: list = []
    barrier = threading.Barrier(4)

    def merger(i):
        try:
            t = SifTable(spark, tdir)
            orig = t._merge_once

            def counted(*a, **kw):
                runs[i] += 1
                return orig(*a, **kw)

            t._merge_once = counted
            src = _df(spark, i * 1000 + 200, i * 1000 + 400, f"M{i}")
            ins = _df(spark, i * 1000 + 600, i * 1000 + 700, f"I{i}")
            barrier.wait()
            t.merge(
                src.unionByName(ins),
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=True,
                retries=60,
            )
        except Exception as e:
            errors.append((i, e))

    threads = [threading.Thread(target=merger, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # the ask's done-criterion: <=1 job re-run per merger
    assert all(r <= 2 for r in runs), runs
    versions = t0._versions()
    assert versions == list(range(1, 9)), versions
    # serial-equivalence
    replay_dir = f"{tdir}-replay"
    shutil.rmtree(replay_dir, ignore_errors=True)
    rt = SifTable.create(spark, replay_dir, _df(spark, 0, 500, "base"),
                         key_col="k")
    rt.append(_df(spark, 1000, 1500, "base"))
    rt.append(_df(spark, 2000, 2500, "base"))
    rt.append(_df(spark, 3000, 3500, "base"))
    for i in range(4):
        rt.merge(
            _df(spark, i * 1000 + 200, i * 1000 + 400, f"M{i}").unionByName(
                _df(spark, i * 1000 + 600, i * 1000 + 700, f"I{i}")
            ),
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=True,
        )
    assert _rows(t0.read()) == _rows(rt.read())
    shutil.rmtree(replay_dir, ignore_errors=True)


def test_rebase_commit_deterministic_remints_version_dirs(spark, tdir):
    """Deterministic rebase: merger B plans against a stale snapshot
    (one-shot stale _load), merger A commits in between, and B's
    commit rebases WITHOUT re-running (its _merge_once runs once).
    The freshly written dirs are RE-MINTED to the committed version's
    prefix — the change feed derives _commit_version from file paths,
    so without the rename B's rows would be tagged with the stale
    version."""
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 500, "base"), key_col="k"
    )
    t.append(_df(spark, 1000, 1500, "base"))  # v2
    tb = SifTable(spark, tdir)
    m0 = tb._load()
    real_load = tb._load
    state = {"stale": True}

    def stale_once(v=None):
        if v is None and state["stale"]:
            state["stale"] = False
            return m0
        return real_load(v)

    tb._load = stale_once
    # A commits v3 first (touches only slot 0)
    ta = SifTable(spark, tdir)
    ta.merge(
        _df(spark, 200, 400, "MA").unionByName(_df(spark, 600, 700, "IA")),
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    # B (planned against v2) commits v4 via rebase — one job run
    v = tb._merge_once(
        _df(spark, 1200, 1400, "MB").unionByName(
            _df(spark, 1600, 1700, "IB")
        ),
        {"v": "s.v"}, None, False, True, None, None,
    )
    assert v == 4
    m4 = tb._load(4)
    # every group B added is named with the COMMITTED version prefix
    b_new = [g for g in m4["groups"] if g["id"].startswith("g-0000000004")]
    assert len(b_new) == 2  # the slot-1 rewrite + the insert group
    assert all("0000000004" in g["path"] for g in b_new)
    out = tb.read()
    assert out.filter("v = 'MB'").count() == 200
    assert out.filter("v = 'IB'").count() == 100
    assert out.filter("v = 'MA'").count() == 200
    assert out.count() == 1200
    # feed tags B's inserts with the committed version, not the stale one
    ch = tb.changes(3)
    assert {r["_commit_version"] for r in ch.select("_commit_version").distinct().collect()} == {4}
    assert ch.filter("v = 'IB'").count() == 100


def test_append_rebase_writes_its_group_once(spark, tdir):
    """Deterministic append rebase: the appender plans against a stale
    snapshot (one-shot stale _load) while another append commits v2,
    so its first manifest put loses. The group it already wrote is
    re-committed on the new head: the group write runs ONCE, the
    committed group's id and path carry the committed version (the
    change feed derives _commit_version from the path), and no other
    dir from this append is left under data/."""
    import os

    SifTable.create(spark, tdir, _df(spark, 0, 10, "base"), key_col="k")
    tb = SifTable(spark, tdir)
    m0 = tb._load()
    real_load, real_write = tb._load, tb._write_dir
    state = {"stale": True}
    writes: list = []

    def stale_once(v=None):
        if v is None and state["stale"]:
            state["stale"] = False
            return m0
        return real_load(v)

    def counted(*a, **kw):
        writes.append(a[2])
        return real_write(*a, **kw)

    tb._load, tb._write_dir = stale_once, counted
    SifTable(spark, tdir).append(_df(spark, 10, 20, "other"))  # v2
    before = set(os.listdir(f"{tdir}/data"))
    assert tb.append(_df(spark, 100, 110, "mine")) == 3
    assert writes == [2]  # written once, planned as version 2
    m3 = tb._load(3)
    g = m3["groups"][-1]
    assert g["id"].startswith("g-0000000003-")
    assert g["path"] == f"{tdir}/data/{g['id']}"
    assert m3["added"] == [g["id"]] and m3["parent"] == 2
    ch = tb.changes(2)
    assert {r["_commit_version"] for r in ch.collect()} == {3}
    assert sorted(r["k"] for r in ch.collect()) == list(range(100, 110))
    assert set(os.listdir(f"{tdir}/data")) - before == {g["id"]}
    assert tb.read().count() == 30


def test_one_manifest_put_site():
    """Every manifest publish goes through table._publish: exactly one
    call of put_if_absent in sif_spark/ outside the log stores."""
    import ast
    import pathlib

    import sif_spark

    root = pathlib.Path(sif_spark.__file__).parent
    sites = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in sorted(root.rglob("*.py"))
        if f.name != "logstore.py"
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "put_if_absent"
    ]
    assert len(sites) == 1 and sites[0].startswith("table.py:"), sites


def test_one_op_core():
    """Every SifTable op plans, writes and publishes through one core:
    _publish and next_manifest are each called from exactly two
    functions, SifTable._op_once and the `sif_table` writer's commit,
    and no function but the core starts a directory write (only
    _write_dir touches a DataFrameWriter in table.py)."""
    import ast
    import pathlib

    import sif_spark

    root = pathlib.Path(sif_spark.__file__).parent

    def functions(tree):
        """(qualified name, node) of each top-level function and method."""
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if isinstance(fn, ast.FunctionDef):
                        yield f"{node.name}.{fn.name}", fn
            elif isinstance(node, ast.FunctionDef):
                yield node.name, node

    def users(files, name, calls_only=True):
        return {
            owner
            for f in files
            for owner, fn in functions(ast.parse(f.read_text()))
            for node in ast.walk(fn)
            if (isinstance(node, ast.Call) or not calls_only)
            and name in (
                getattr(getattr(node, "func", node), "id", None),
                getattr(getattr(node, "func", node), "attr", None),
            )
        }

    files = sorted(root.rglob("*.py"))
    core = {"SifTable._op_once", "_SifTableBatchWriter._commit_inner"}
    assert users(files, "_publish") == core
    assert users(files, "next_manifest") == core
    assert users(files, "_write_dir", calls_only=False) == {"SifTable._op_once"}
    assert users([root / "table.py"], "write", calls_only=False) == {
        "SifTable._write_dir"
    }


def test_one_blob_stage():
    """Every media operator's per-blob pass runs through one stage: in
    the six media operator modules only multimodal.blob_stage calls
    mapInPandas, and sif_spark/ checks ``on_error`` in one place."""
    import ast
    import pathlib

    import sif_spark

    root = pathlib.Path(sif_spark.__file__).parent
    media = ("audio", "imageops", "multimodal", "probe", "video", "webdataset")
    callers = {
        f"{name}.{getattr(top, 'name', '<module>')}"
        for name in media
        for top in ast.parse((root / "operators" / f"{name}.py").read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "mapInPandas"
    }
    assert callers == {"multimodal.blob_stage"}

    def is_check(node):
        return (
            isinstance(node, ast.Compare)
            and getattr(node.left, "id", None) == "on_error"
            and isinstance(node.ops[0], ast.NotIn)
            and ast.literal_eval(node.comparators[0]) == ("raise", "null")
        )

    checks = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if is_check(node)
    ]
    assert len(checks) == 1 and checks[0].startswith("operators/multimodal.py:")


def test_one_storage_seam():
    """Every storage step goes through the log store picked for its
    path: no module in sif_spark/ but logstore.py reaches a Hadoop
    FileSystem, and _publish renames through its log store, not a
    caller-supplied rename."""
    import ast
    import inspect
    import pathlib
    import re

    import sif_spark
    from sif_spark.table import _publish

    root = pathlib.Path(sif_spark.__file__).parent
    hadoop = re.compile(r"hadoop\.fs|getFileSystem|hadoopConfiguration")
    named = [
        str(f.relative_to(root))
        for f in sorted(root.rglob("*.py"))
        if f.name != "logstore.py" and hadoop.search(f.read_text())
    ]
    assert named == [], named
    assert "rename" not in inspect.signature(_publish).parameters
    # the table layer and its stream source list and delete through
    # the store too
    for name in ("table.py", "sources/table_stream.py"):
        bypass = [
            node.lineno
            for node in ast.walk(ast.parse((root / name).read_text()))
            if isinstance(node, ast.Attribute)
            and (getattr(node.value, "id", None), node.attr)
            in {("os", "listdir"), ("shutil", "rmtree")}
        ]
        assert bypass == [], (name, bypass)


def test_merge_raw_source_conditions_and_evolve_schema_flag(spark, tdir):
    """merge() clause conditions see the RAW source (a CDC op column
    steers clauses without joining the table schema), and
    evolve_schema picks whether source-only columns evolve the table:
    default True appends them; False pins the schema."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    src = spark.createDataFrame(
        [(2, "x", "D"), (3, "y", "U"), (50, "z", "U")],
        "k long, v string, op string",
    )
    t.merge(
        src,
        when_matched_delete="s.op = 'D'",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert={"k": "s.k", "v": "s.v"},
        evolve_schema=False,
    )
    out = t.read()
    assert set(out.columns) == {"k", "v"}  # op never became a column
    assert out.count() == 10  # 10 - 1 deleted + 1 inserted
    assert out.filter("k = 2").count() == 0
    assert out.filter("k = 3").collect()[0]["v"] == "y"
    assert out.filter("k = 50").collect()[0]["v"] == "z"
    # default evolve: a source-only column joins the schema (NULL for
    # pre-existing rows), insert via ins=True aligns it
    t2 = SifTable.create(
        spark, f"{tdir}/t2", _df(spark, 0, 5, "a"), key_col="k"
    )
    t2.merge(
        spark.createDataFrame([(9, "n", 7)], "k long, v string, extra int"),
        when_not_matched_insert=True,
    )
    out2 = t2.read()
    assert "extra" in out2.columns
    assert out2.filter("k = 9").collect()[0]["extra"] == 7
    assert out2.filter("k = 1").collect()[0]["extra"] is None


def test_materialize_source_targets_wide_plans_only(spark):
    """r14 pin: mutation sources whose plan carries a shuffle-bearing
    node (Aggregate/Join/...) are localCheckpoint-materialized once
    (a LogicalRDD afterwards), while narrow scan/filter pipelines and
    already-checkpointed batches pass through untouched — the mutation
    then runs its several actions without re-paying the source plan."""
    from sif_spark.table import _materialize_source

    wide = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    out = _materialize_source(wide)
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().treeString()

    narrow = spark.range(100).filter("id % 2 = 0").select("id")
    assert _materialize_source(narrow) is narrow

    ck = spark.range(10).localCheckpoint(eager=True)
    assert _materialize_source(ck) is ck
