"""The change feed read two ways — `SifTable.changes()` and a
`sif_table` stream — must agree row for row: both plan through one
version→files rule (`table.feed_window`) and refuse through one removal
rule (`table.feed_refusal`). A full mutation history replayed through a
rate-limited stream equals the batch feed as a multiset; a legacy
(pre-column-id) history surfaces under renamed columns on both sides;
and a vacuumed prefix is a typed error on both sides."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sif_spark.sources.table_stream import register_table_source
from sif_spark.table import ChangeFeedIncompleteError, SifTable


def _df(spark, lo, hi, val="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(val).alias("v"),
        (F.col("id") * 2).alias("m"),
    )


def _streamed(spark, path, ck, **opts):
    """Every micro-batch row of a `sif_table` stream (from version 0
    unless ``starting_version`` is given), as tuples ordered by column
    name."""
    register_table_source(spark)
    reader = spark.readStream.format("sif_table").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    rows: list = []

    def grab(df, _eid):
        rows.extend(df.select(*sorted(df.columns)).collect())

    q = (
        reader.load()
        .writeStream.foreachBatch(grab)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return [tuple(r) for r in rows]


def _history(spark, t):
    """create → append → rename → upsert → merge (update + delete +
    insert) → delete_keys → delete → append → compact."""
    t.append(_df(spark, 20, 30, "b"))
    t.rename_column("v", "val")
    up = _df(spark, 25, 35, "u").withColumnRenamed("v", "val")
    t.upsert(up)
    src = _df(spark, 0, 10, "s").unionByName(_df(spark, 40, 45, "s"))
    t.merge(
        src.withColumnRenamed("v", "val"),
        when_matched_update={"val": "s.val"},
        when_matched_delete="t.k >= 5",
        when_not_matched_insert=True,
    )
    t.delete_keys(spark.range(10, 13).select(F.col("id").alias("k")))
    t.delete("k >= 17 AND k < 20")
    t.append(_df(spark, 50, 55, "c").withColumnRenamed("v", "val"))
    t.compact()


@pytest.mark.parametrize(
    "flavour,n_rows",
    [("cdf", 76), ("cdf_dv", 76), ("plain", 50)],
)
def test_stream_feed_equals_changes_over_full_history(
    spark, tdir, flavour, n_rows
):
    path = f"{tdir}/{flavour}"
    cdf = flavour != "plain"
    t = SifTable.create(
        spark, path, _df(spark, 0, 20), key_col="k",
        cdf=cdf, dv=flavour == "cdf_dv",
    )
    _history(spark, t)
    batch = t.changes(0, cdf=cdf)
    want = Counter(
        tuple(r) for r in batch.select(*sorted(batch.columns)).collect()
    )
    opts = {"max_versions_per_trigger": 3,
            "rate_anchor_dir": f"{tdir}/{flavour}-anchor"}
    if cdf:
        opts["cdf"] = "true"
    got = Counter(_streamed(spark, path, f"{tdir}/{flavour}-ck", **opts))
    assert got == want
    assert sum(want.values()) == n_rows


def test_stream_over_pre_column_id_history(spark, tdir):
    """A table whose first manifests predate column ids, compacted and
    then renamed: the stream applies the same bootstrap-id rule as
    changes(), so v1-v2's files surface under the new name — also in a
    micro-batch whose window (0, 2] ends before the bootstrap commit."""
    path = f"{tdir}/t"
    t = SifTable.create(spark, path, _df(spark, 0, 30), key_col="k")
    t.append(_df(spark, 30, 50, "b"))
    mdir = os.path.join(path, "_manifests")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = json.load(fh)
        for key in ("columns", "last_column_id", "col_id_eras"):
            m.pop(key, None)
        for g in m["groups"]:
            g.pop("col_ids", None)
            g.pop("col_era", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    t.compact()
    t.rename_column("m", "metric")
    want = t.changes(0).agg(F.sum("metric")).collect()[0][0]
    assert want == 2450
    rows = _streamed(  # (_commit_version, k, metric, v)
        spark, path, f"{tdir}/ck", max_versions_per_trigger=2,
        rate_anchor_dir=f"{tdir}/anchor",
    )
    assert len(rows) == 50 and {r[0] for r in rows} == {1, 2}
    assert sum(r[2] for r in rows) == want


def test_stream_behind_vacuumed_prefix_is_a_typed_error(spark, tdir):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = f"{tdir}/t"
    t = SifTable.create(spark, path, _df(spark, 0, 10), key_col="k")
    for i in range(1, 4):
        t.append(_df(spark, 10 * i, 10 * i + 10, "b"))
    t.vacuum(retain_last=2)  # v1, v2 gone
    with pytest.raises(ChangeFeedIncompleteError, match="vacuumed"):
        t.changes(0)
    for cdf in ("true", "false"):
        with pytest.raises(StreamingQueryException, match="vacuumed") as e:
            _streamed(spark, path, f"{tdir}/ck-{cdf}", cdf=cdf)
        assert "1..2" in str(e.value)
    rows = _streamed(spark, path, f"{tdir}/ck-2", starting_version=2)
    assert len(rows) == 20
    assert {r[0] for r in rows} == {3, 4}
