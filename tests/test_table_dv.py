"""Deletion vectors — merge-on-read deletes (VERDICT r12 "Next round"
#2): on a ``dv=True`` table, delete_keys writes a per-group
key-tombstone SIDECAR instead of rewriting the touched groups, reads
apply live sidecars as one broadcast anti-join on (group id, key
tuple), compact() reconciles, vacuum reclaims unreferenced sidecars,
and the CDF still emits exact tombstone images. The scale story: a
scattered GDPR-style delete across a 100 TB table touches nearly
every group — copy-on-write rewrites the whole table per batch;
merge-on-read writes O(deleted keys) bytes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _slice(spark, mod, rem, n=300, val="a"):
    """A full-keyrange slice (k % mod == rem): every group overlaps
    every scattered delete batch — range skipping can't save the
    copy-on-write path here, which is exactly the dv use case."""
    return (
        spark.range(0, n)
        .filter(F.col("id") % mod == rem)
        .select(F.col("id").alias("k"), F.lit(val).alias("v"))
    )


def _mk(spark, tdir, **kw):
    t = SifTable.create(
        spark, tdir, _slice(spark, 3, 0), key_col="k", dv=True, **kw
    )
    t.append(_slice(spark, 3, 1, val="b"))
    t.append(_slice(spark, 3, 2, val="c"))
    return t


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_dv_scattered_delete_rewrites_zero_groups(spark, tdir):
    t = _mk(spark, tdir)
    paths_before = [g["path"] for g in t._load()["groups"]]
    dels = [k for k in range(300) if k % 7 == 0]  # hits all 3 groups
    v = t.delete_keys(_keys(spark, dels))
    m = t._load(v)
    assert m["op"] == "delete"
    assert m["deleted_rows"] == len(dels)
    # THE pin: zero group files rewritten — paths identical
    assert [g["path"] for g in m["groups"]] == paths_before
    assert all(g.get("dv_rows", 0) > 0 for g in m["groups"])
    assert len(m["dvs"]) == 1
    out = t.read()
    assert out.count() == 300 - len(dels)
    assert out.filter("k % 7 = 0").count() == 0
    # history reports LIVE rows
    assert t.history()[-1]["rows"] == 300 - len(dels)
    # time travel: the pre-delete snapshot still shows every row
    assert t.read(version=3).count() == 300


def test_dv_overlapping_second_delete_counts_only_new(spark, tdir):
    t = _mk(spark, tdir)
    t.delete_keys(_keys(spark, [0, 7, 14, 21]))
    v = t.delete_keys(_keys(spark, [14, 21, 28, 35]))  # 2 already gone
    m = t._load(v)
    assert m["deleted_rows"] == 2
    assert len(m["dvs"]) == 2
    assert t.read().count() == 294
    assert sum(g["dv_rows"] for g in m["groups"]) == 6


def test_dv_upsert_rewrite_drops_tombstones_and_reinserts(spark, tdir):
    t = _mk(spark, tdir)
    t.delete_keys(_keys(spark, [3, 6, 9, 12]))
    assert t.read().count() == 296
    # upsert replaces live key 30 and RE-INSERTS deleted key 6
    upd = spark.createDataFrame([(30, "z"), (6, "z")], "k long, v string")
    v = t.upsert(upd)
    m = t._load(v)
    # the rewrite excluded tombstoned rows; replaced counts only live
    assert m["replaced_rows"] == 1
    out = t.read()
    assert out.count() == 297  # 296 - 1 replaced + 1 replaced + 1 new
    assert out.filter("k = 6").collect()[0]["v"] == "z"
    assert out.filter("k = 3").count() == 0  # still deleted
    # every touched group was rewritten -> its tombstones died with it
    live_gids = {g["id"] for g in m["groups"]}
    for d in m["dvs"]:
        assert set(d["gids"]) <= live_gids


def test_dv_cdf_images_balance_and_feed_guard(spark, tdir):
    t = _mk(spark, tdir, cdf=True)
    dels = [5, 10, 15, 200]
    v = t.delete_keys(_keys(spark, dels))
    ch = t.changes(v - 1, to_version=v, cdf=True)
    rows = ch.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["k"] for r in rows) == sorted(dels)
    assert all(r["_commit_version"] == v for r in rows)
    # the append feed emits nothing for a dv-delete version (same as
    # any delete — downstream folds guard on the exact counters), and
    # the stream planner's removal guard refuses it
    assert t.changes(v - 1, to_version=v, cdf=False).count() == 0
    from sif_spark.table import feed_refusal

    with pytest.raises(ValueError, match="delete"):
        feed_refusal(t._load(v))


def test_dv_compact_reconciles_and_vacuum_reclaims(spark, tdir):
    t = _mk(spark, tdir)
    t.delete_keys(_keys(spark, list(range(0, 300, 5))))
    dv_path = t._load()["dvs"][0]["path"]
    assert os.path.isdir(dv_path)
    t.compact()
    m = t._load()
    assert m["dvs"] == []
    assert t.read().count() == 240
    assert t.read().filter("k % 5 = 0").count() == 0
    # physical reclaim once no retained version references the sidecar
    t.vacuum(retain_last=1)
    assert not os.path.isdir(dv_path)
    assert t.read().count() == 240


def test_dv_lookup_read_between_and_skipping(spark, tdir):
    t = _mk(spark, tdir, key_bloom=True)
    t.delete_keys(_keys(spark, [42, 100]))
    assert t.lookup(42).count() == 0
    assert t.lookup(43).count() == 1
    assert t.read_between("k", 40, 45).count() == 5  # 40,41,43,44,45
    # a fully-disjoint delete batch commits a counted no-op: no new
    # sidecar, no rewrite
    before = t._load()
    v = t.delete_keys(_keys(spark, [100000]))
    m = t._load(v)
    assert m["deleted_rows"] == 0
    assert len(m["dvs"]) == len(before["dvs"])


def test_dv_batch_datasource_applies_sidecars(spark, tdir):
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    t = _mk(spark, tdir)
    t.delete_keys(_keys(spark, [k for k in range(300) if k % 11 == 0]))
    api = t.read()
    ds = spark.read.format("sif_table").option("path", tdir).load()
    assert ds.count() == api.count()
    assert ds.filter("k % 11 = 0").count() == 0
    assert sorted(
        (r["k"], r["v"]) for r in ds.collect()
    ) == sorted((r["k"], r["v"]) for r in api.collect())
    # pushdown mode prunes groups AND still applies the sidecar
    dsp = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    got = dsp.filter("k >= 20 AND k <= 25").collect()
    assert sorted(r["k"] for r in got) == [20, 21, 23, 24, 25]  # 22 = 2*11


def test_dv_composite_key_table(spark, tdir):
    rows = spark.range(0, 200).select(
        (F.col("id") % 10).alias("a"),
        (F.col("id") / 10).cast("long").alias("b"),
        F.col("id").alias("val"),
    )
    t = SifTable.create(
        spark, tdir, rows, key_cols=["a", "b"], dv=True, cdf=True
    )
    dels = spark.createDataFrame(
        [(3, 5), (4, 5), (9, 19)], "a long, b long"
    )
    v = t.delete_keys(dels)
    m = t._load(v)
    assert m["deleted_rows"] == 3
    assert [g["path"] for g in m["groups"]] == [
        g["path"] for g in t._load(1)["groups"]
    ]
    out = t.read()
    assert out.count() == 197
    assert out.filter("a = 3 AND b = 5").count() == 0
    assert t.lookup((3, 5)).count() == 0
    assert t.lookup((3, 6)).count() == 1
    tomb = t.changes(v - 1, to_version=v, cdf=True)
    assert tomb.count() == 3


def test_dv_guards_and_predicate_delete_policy(spark, tdir):
    with pytest.raises(ValueError, match="keyed"):
        SifTable.create(
            spark, tdir, _slice(spark, 1, 0), dv=True
        )
    t = _mk(spark, f"{tdir}/t")
    t.delete_keys(_keys(spark, [1, 4]))
    # delete(predicate) keeps copy-on-write (a predicate is not a key
    # set — tombstoning by matched keys could delete same-key rows the
    # predicate did NOT match) but must respect existing tombstones
    v = t.delete("k < 10")
    m = t._load(v)
    # live k<10 rows: 0..9 minus already-deleted {1,4} = 8
    assert m["deleted_rows"] == 8
    assert t.read().count() == 290
    assert t.read().filter("k < 10").count() == 0


def test_dv_delete_only_merge_tombstones_without_rewrite(spark, tdir):
    """A delete-only conditional MERGE on a dv table (the CDC-erasure
    shape) tombstones instead of rewriting; unmatched source rows
    still insert; an update clause forces the normal rewrite."""
    t = _mk(spark, tdir, cdf=True)
    paths = [g["path"] for g in t._load()["groups"]]
    src = spark.createDataFrame(
        [(k, "D" if k % 2 == 0 else "K") for k in (4, 5, 6, 7, 9000)],
        "k long, op string",
    )
    v = t.merge(
        src,
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert={"k": "s.k", "v": "'ins'"},
        evolve_schema=False,
    )
    m = t._load(v)
    assert m["op"] == "merge"
    assert m["deleted_rows"] == 2 and m["replaced_rows"] == 0
    # zero rewrites: the original group files all carry by reference
    assert [g["path"] for g in m["groups"][:3]] == paths
    assert len(m["groups"]) == 4  # + the insert group
    out = t.read()
    assert out.count() == 299  # 300 - 2 deleted + 1 inserted
    assert out.filter("k IN (4, 6)").count() == 0
    assert out.filter("k IN (5, 7)").count() == 2  # matched, op K: kept
    assert out.filter("k = 9000").collect()[0]["v"] == "ins"
    # cdf: tombstones AND the rider inserts in one change file
    ch = t.changes(v - 1, to_version=v, cdf=True)
    by = {r["_change_type"] for r in ch.select("_change_type").collect()}
    assert by == {"delete", "insert"}
    assert ch.filter("_change_type = 'delete'").count() == 2
    # an update clause still rewrites (bytes must change)
    v2 = t.merge(
        spark.createDataFrame([(10, "z")], "k long, v string"),
        when_matched_update={"v": "s.v"},
        when_matched_delete="false",
    )
    m2 = t._load(v2)
    assert m2["replaced_rows"] == 1
    assert t.read().filter("k = 10").collect()[0]["v"] == "z"
    assert t.read().count() == 299
