"""Incremental materialized views (sif_spark/mview.py): the change
feed folds into the view additively with exactly-once merges; a
crash-replayed micro-batch is a committed no-op at both guards."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sif_spark.mview import incremental_aggregate_view, merge_partials
from sif_spark.table import SifTable


@pytest.fixture()
def dirs(tdir):
    return (f"{tdir}-src", f"{tdir}-dst", f"{tdir}-ck")


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("bucket"),
        (F.col("id") * 3).alias("val"),
    )


def _expected(spark, hi):
    return {
        (r["bucket"], r["n"], r["sum_val"])
        for r in _src(spark, 0, hi)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"))
        .collect()
    }


def test_incremental_view_matches_recompute_and_survives_replay(spark, dirs):
    src_path, dst_path, ck = dirs
    src = SifTable.create(spark, src_path, _src(spark, 0, 100), key_col="k")
    src.append(_src(spark, 100, 250))
    sums = {"n": "1", "sum_val": "val"}
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket", sums=sums,
        checkpoint_dir=ck, app_id="t",
    )
    dst = SifTable(spark, dst_path)

    def view():
        return {
            (r["bucket"], r["n"], r["sum_val"]) for r in dst.read().collect()
        }

    try:
        q.processAllAvailable()
        assert view() == _expected(spark, 250)
        # incremental: another append folds in (no src re-scan by design)
        src.append(_src(spark, 250, 300))
        q.processAllAvailable()
        assert view() == _expected(spark, 300)
    finally:
        q.stop()
        q.awaitTermination()
    # crash-replay: re-fold the last epoch's batch directly — the merge
    # must be a committed no-op, never a double-count
    last = dst.last_txn_epoch("t")
    merge_partials(_src(spark, 250, 300), last, dst_path, "bucket", sums, "t")
    assert view() == _expected(spark, 300)
    # restart from the same checkpoint delivers nothing new
    q2 = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket", sums=sums,
        checkpoint_dir=ck, app_id="t",
    )
    try:
        q2.processAllAvailable()
        assert view() == _expected(spark, 300)
        src.append(_src(spark, 300, 320))
        q2.processAllAvailable()
        assert view() == _expected(spark, 320)
    finally:
        q2.stop()
        q2.awaitTermination()


def test_mview_guard_raises_on_source_replacement(spark, dirs):
    """The r10 silent-drift bug as a typed error: a non-cdf MV over a
    source that UPSERTS an existing key must fail loudly at both
    guards (planner option + merge_partials manifest check), never
    fold the post-image on top of the folded old value."""
    src_path, dst_path, ck = dirs
    src = SifTable.create(spark, src_path, _src(spark, 0, 40), key_col="k")
    src.upsert(
        _src(spark, 0, 5).select("k", "bucket", (F.col("val") + 1).alias("val"))
    )
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket",
        sums={"n": "1", "sum_val": "val"}, checkpoint_dir=ck, app_id="g",
    )
    with pytest.raises(Exception, match="replaced"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    # merge_partials' own belt (bypassing the stream planner): a batch
    # carrying the upsert version's rows must refuse to fold
    from sif_spark.table import ChangeFeedIncompleteError

    batch = src.changes(1, to_version=2)
    with pytest.raises(ChangeFeedIncompleteError, match="post-images"):
        merge_partials(
            batch, 0, dst_path, "bucket", {"n": "1"}, "g2",
            src_path=src_path,
        )


def test_mview_cdf_mode_exact_under_upserts_and_deletes(spark, dirs):
    """cdf=True MV: signed folds (insert/postimage add, preimage/
    delete subtract) keep the view EXACTLY equal to a one-shot GROUP
    BY over the final table state, through upserts that replace keys
    and a delete — the completion of the r10 append-only restriction."""
    src_path, dst_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _src(spark, 0, 40), key_col="k", cdf=True
    )
    src.append(_src(spark, 40, 70))
    src.upsert(
        _src(spark, 10, 30).select(
            "k", "bucket", (F.col("val") + 1000).alias("val")
        )
    )
    src.delete("k % 5 = 0")
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket",
        sums={"n": "1", "sum_val": "val"}, checkpoint_dir=ck,
        app_id="cdf", cdf=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {
        (r["bucket"], r["n"], r["sum_val"])
        for r in SifTable(spark, dst_path).read().collect()
    }
    want = {
        (r["bucket"], r["n"], r["sum_val"])
        for r in src.read()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"))
        .collect()
    }
    assert got == want


def test_merge_partials_belt_sees_rowless_interior_delete(spark, dirs):
    """ADVICE r11 low: merge_partials' manifest re-check used to
    inspect only versions whose rows appear in the batch — a PURE
    delete version contributes no rows, so the belt could never see
    it. The belt now scans the full contiguous manifest range of the
    batch, so an interior delete between two row-bearing appends
    raises even when the stream planner guard is bypassed."""
    from sif_spark.table import ChangeFeedIncompleteError

    src_path, dst_path, ck = dirs
    src = SifTable.create(spark, src_path, _src(spark, 0, 40), key_col="k")
    src.append(_src(spark, 40, 60))     # v2 (rows in batch)
    src.delete("k < 10")                # v3 (row-less in append feed)
    src.append(_src(spark, 60, 80))     # v4 (rows in batch)
    batch = src.changes(1, to_version=4)
    assert sorted(
        r["_commit_version"]
        for r in batch.select("_commit_version").distinct().collect()
    ) == [2, 4]  # v3 truly contributes no rows
    with pytest.raises(ChangeFeedIncompleteError, match="delete"):
        merge_partials(
            batch, 0, dst_path, "bucket", {"n": "1"}, "belt",
            src_path=src_path,
        )


def test_mview_handles_source_merge(spark, dirs):
    """A source MERGE through both MV modes: the non-cdf additive
    fold refuses it at plan time (op=merge, counters non-zero), and
    the cdf signed fold consumes its change file exactly — preimages
    subtract, postimages add, tombstones subtract, inserts add."""
    src_path, dst_path, ck = dirs
    src = SifTable.create(
        spark, src_path, _src(spark, 0, 60), key_col="k", cdf=True
    )
    src.merge(
        _src(spark, 40, 90).select(
            "k", "bucket", (F.col("val") + 1000).alias("val")
        ),
        when_matched_update={"val": "s.val"},
        when_matched_delete="t.k % 9 = 0",
        when_not_matched_insert=True,
    )
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket",
        sums={"n": "1", "sum_val": "val"}, checkpoint_dir=ck,
        app_id="mv-merge", cdf=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {
        r["bucket"]: (r["n"], r["sum_val"])
        for r in SifTable(spark, dst_path).read().collect()
    }
    want = {
        r["bucket"]: (r["n"], r["sum_val"])
        for r in src.read()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"))
        .collect()
    }
    assert got == want
    # non-cdf additive fold: plan-time refusal
    src2_path, ck2 = src_path + "-2", ck + "-2"
    shutil.rmtree(src2_path, ignore_errors=True)
    shutil.rmtree(ck2, ignore_errors=True)
    src2 = SifTable.create(spark, src2_path, _src(spark, 0, 30), key_col="k")
    src2.merge(
        _src(spark, 10, 20).select("k", "bucket",
                                   (F.col("val") + 1).alias("val")),
        when_matched_update={"val": "s.val"},
    )
    q2 = incremental_aggregate_view(
        spark, src2_path, dst_path + "-2", key="bucket",
        sums={"n": "1"}, checkpoint_dir=ck2, app_id="mv-merge2",
    )
    with pytest.raises(Exception, match="merge"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
            q2.awaitTermination()
    for d in (src2_path, ck2, dst_path + "-2"):
        shutil.rmtree(d, ignore_errors=True)
