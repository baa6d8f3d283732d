"""The driver-side change-feed fold (sources.table_stream.
fold_table_changes): its restart contract and its plan.

- A checkpoint written by a `sif_table` foreachBatch query resumes
  under the fold loop with no skipped and no doubled version.
- A fold that dies after its offset record and before its commit
  record re-runs the same window under the same epoch on restart, and
  the txn record makes the replay land exactly once.
- Over a full op history, the loop's batches equal `changes()` as a
  multiset.
- A fold's batch is a JVM parquet scan: no Python data-source node."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from sif_spark.sources.table_stream import (
    fold_table_changes,
    register_table_source,
)
from sif_spark.table import SifTable
from test_table_feed import _df, _history


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def _appender(spark, dst, folded):
    """A fold that appends each batch's rows to ``dst`` under
    txn=("f", epoch) and records (epoch, version) per folded version."""

    def fold(batch, epoch):
        for (v,) in batch.select("_commit_version").distinct().collect():
            folded.append((epoch, v))
        rows = batch.drop("_commit_version")
        t = SifTable(spark, dst)
        if not os.path.isdir(dst):
            SifTable.create(spark, dst, rows, key_col="k", txn=("f", epoch))
        else:
            t.append(rows, txn=("f", epoch))

    return fold


def _rows(t):
    return sorted(tuple(r) for r in t.read().select("k", "v", "m").collect())


def test_streaming_query_checkpoint_resumes_under_the_loop(spark, tdir):
    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 10))
    src.append(_df(spark, 10, 20))
    folded: list = []
    fold = _appender(spark, f"{tdir}/dst", folded)
    register_table_source(spark)
    q = (
        spark.readStream.format("sif_table")
        .option("path", f"{tdir}/src")
        .option("fail_on_content_removal", "true")
        .load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tdir}/ck")
        .start()
    )
    _drain(q)
    spark_epochs = {e for e, _ in folded}
    src.append(_df(spark, 20, 25))
    src.append(_df(spark, 25, 30))
    _drain(fold_table_changes(
        spark, f"{tdir}/src", fold, f"{tdir}/ck", feed="additive",
    ))
    assert Counter(v for _, v in folded) == {1: 1, 2: 1, 3: 1, 4: 1}
    loop_epochs = {e for e, _ in folded} - spark_epochs
    assert min(loop_epochs) == max(spark_epochs) + 1
    assert _rows(SifTable(spark, f"{tdir}/dst")) == _rows(src)


def test_crash_between_offset_and_commit_replays_the_same_window(
    spark, tdir
):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 10))
    src.append(_df(spark, 10, 20))
    folded: list = []
    land = _appender(spark, f"{tdir}/dst", folded)

    def crash(batch, epoch):
        land(batch, epoch)  # the target commit lands, then the loop dies
        raise RuntimeError("crash before the commit record")

    q = fold_table_changes(
        spark, f"{tdir}/src", crash, f"{tdir}/ck", feed="additive",
    )
    with pytest.raises(StreamingQueryException, match="commit record"):
        _drain(q)
    assert os.listdir(f"{tdir}/ck/offsets") == ["0"]
    assert not os.path.exists(f"{tdir}/ck/commits/0")
    src.append(_df(spark, 20, 30))  # not part of the replayed window
    _drain(fold_table_changes(
        spark, f"{tdir}/src", land, f"{tdir}/ck", feed="additive",
    ))
    # epoch 0 re-ran over (0, 2] and its replayed append was a no-op;
    # epoch 1 is the new version
    assert sorted(folded) == [(0, 1), (0, 1), (0, 2), (0, 2), (1, 3)]
    assert sorted(os.listdir(f"{tdir}/ck/commits")) == ["0", "1"]
    assert _rows(SifTable(spark, f"{tdir}/dst")) == _rows(src)


@pytest.mark.parametrize("flavour", ["cdf", "cdf_dv"])
def test_loop_feed_equals_changes_over_full_history(spark, tdir, flavour):
    path = f"{tdir}/{flavour}"
    t = SifTable.create(
        spark, path, _df(spark, 0, 20), key_col="k",
        cdf=True, dv=flavour == "cdf_dv",
    )
    _history(spark, t)
    batch = t.changes(0, cdf=True)
    want = Counter(
        tuple(r) for r in batch.select(*sorted(batch.columns)).collect()
    )
    got: Counter = Counter()

    def collect(df, _epoch):
        got.update(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    _drain(fold_table_changes(
        spark, path, collect, f"{tdir}/{flavour}-ck", feed="cdf",
        max_versions_per_trigger=3,
    ))
    assert got == want
    assert sum(want.values()) == 76


def test_fold_batch_plans_no_python_source(spark, tdir):
    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 10),
                          key_col="k", cdf=True)
    src.upsert(_df(spark, 5, 15, "u"))
    plans: list = []

    def fold(batch, _epoch):
        plans.append(str(batch._jdf.queryExecution().executedPlan()))

    _drain(fold_table_changes(
        spark, f"{tdir}/src", fold, f"{tdir}/ck", feed="cdf",
    ))
    assert plans and all("FileScan parquet" in p for p in plans)
    assert not any("Python" in p for p in plans), plans
    assert not spark.streams.active


def test_concurrent_waiters_see_every_version_folded_once(spark, tdir):
    """More waiter threads than cores call processAllAvailable while
    versions land; each returns once its versions are folded, and no
    version is folded twice (the loop's state is shared with them)."""
    import sys
    import threading

    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 5))
    folded: list = []

    def fold(batch, _epoch):
        folded.extend(
            v for (v,) in batch.select("_commit_version").distinct().collect()
        )

    q = fold_table_changes(
        spark, f"{tdir}/src", fold, f"{tdir}/ck", feed="additive",
        max_versions_per_trigger=1,
    )
    errors: list = []

    def wait():
        try:
            q.processAllAvailable()
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for lo in range(5, 25, 5):
            src.append(_df(spark, lo, lo + 5))
            waiters = [threading.Thread(target=wait) for _ in range(8)]
            for w in waiters:
                w.start()
            for w in waiters:
                w.join(timeout=120)
            assert not any(w.is_alive() for w in waiters)
            assert max(folded) == src._load()["version"]
    finally:
        sys.setswitchinterval(interval)
        q.stop()
        q.awaitTermination()
    assert not errors
    assert sorted(folded) == [1, 2, 3, 4, 5]
