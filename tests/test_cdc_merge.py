"""Streaming CDC-apply (streaming.stream.merge_changes_into_table) in
the default lane: the target converges on the source's snapshot, a
full replay under the same app_id lands as committed no-ops, and a
window that carries no row change commits nothing."""

from __future__ import annotations

from pyspark.sql import functions as F

from sif_spark.streaming.stream import merge_changes_into_table
from sif_spark.table import SifTable


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def _apply(spark, tdir, ckpt):
    q = merge_changes_into_table(
        spark, f"{tdir}/src", f"{tdir}/dst", app_id="cdc",
        checkpoint_dir=f"{tdir}/{ckpt}", starting_version=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def test_cdc_merge_converges_replays_and_skips_empty_windows(spark, tdir):
    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 40, "a"),
                          key_col="k", cdf=True)
    dst = SifTable.create(spark, f"{tdir}/dst", src.read(), key_col="k")
    src.upsert(_df(spark, 30, 50, "b"))
    # keys 45..47 are inserted, then deleted, inside the one window
    src.delete_keys(spark.range(0, 48).filter("id < 5 or id >= 45")
                    .select(F.col("id").alias("k")))
    _apply(spark, tdir, "ck")
    assert _rows(dst) == _rows(src)
    head = dst._load()["version"]
    assert head == 2  # one merge for the one window

    # a window whose only source version is a compaction carries no
    # row change: the fold commits nothing
    src.compact()
    assert src._load()["op"] == "compact"
    _apply(spark, tdir, "ck")
    assert dst._load()["version"] == head

    # a full replay from a fresh checkpoint under the same app_id:
    # every epoch is at or below the txn high-water, so nothing lands
    _apply(spark, tdir, "ck-fresh")
    assert dst._load()["version"] == head
    assert _rows(dst) == _rows(src)
