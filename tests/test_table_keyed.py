"""Behaviour pins for the keyed mutations' edge cases: duplicate keys
inside one upsert batch, null and repeated keys in a delete_keys batch,
the equivalence of delete_keys and a delete-only merge on a
deletion-vector table, and merge's refusal of non-deterministic
clauses on a change-feed table."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_duplicate_key_in_batch_lands_every_row(spark, tdir):
    """Upsert runs no cardinality check: every batch row lands (both
    rows of a duplicated key), and replaced_rows counts the ONE old row
    the key replaced."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    batch = spark.createDataFrame([(3, "x"), (3, "y"), (20, "n")],
                                  "k long, v string")
    t.upsert(batch)
    m = t._load()
    assert m["replaced_rows"] == 1
    assert _rows(t.read().filter("k = 3")) == [(3, "x"), (3, "y")]
    assert t.read().count() == 12
    assert len(m["added"]) == 1
    added = next(g for g in m["groups"] if g["id"] == m["added"][0])
    assert added["rows"] == 3


def test_delete_keys_null_parts_and_repeated_keys(spark, tdir):
    """A null key part never matches (nothing is deleted for it), and a
    key repeated in the batch deletes its row once."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k")
    t.delete_keys(spark.createDataFrame(
        [(None,), (4,), (4,), (5,)], "k long"
    ))
    m = t._load()
    assert m["deleted_rows"] == 2
    assert t.read().count() == 8
    assert t.read().filter("k IN (4, 5)").count() == 0

    t2 = SifTable.create(
        spark, f"{tdir}/c",
        spark.range(0, 20).select(
            (F.col("id") % 4).alias("r"), F.col("id").alias("d"),
            F.lit("a").alias("v"),
        ),
        key_cols=["r", "d"],
    )
    t2.delete_keys(spark.createDataFrame(
        [(1, None), (None, 5), (2, 6), (2, 6), (3, 7)], "r long, d long"
    ))
    m2 = t2._load()
    assert m2["deleted_rows"] == 2
    assert t2.read().count() == 18
    assert t2.read().filter("d IN (1, 5)").count() == 2  # null-part rows kept


def _dv_cdf_table(spark, path):
    def part(rem, val):
        return (
            spark.range(0, 60).filter(F.col("id") % 3 == rem)
            .select(F.col("id").alias("k"), F.lit(val).alias("v"))
        )

    t = SifTable.create(spark, path, part(0, "a"), key_col="k", dv=True,
                        cdf=True)
    t.append(part(1, "b"))
    t.append(part(2, "c"))
    return t


def test_dv_delete_keys_equals_delete_only_merge(spark, tdir):
    """On a dv table, delete_keys(K) and merge(K, when_matched_delete=
    True) commit the same tombstones: equal sidecar rows, deleted_rows,
    per-group dv_rows and change-file rows."""
    keys = spark.createDataFrame([(k,) for k in (1, 2, 9, 30, 31, 59, 99)],
                                 "k long")
    a = _dv_cdf_table(spark, f"{tdir}/a")
    b = _dv_cdf_table(spark, f"{tdir}/b")
    a.delete_keys(keys)
    b.merge(keys, when_matched_delete=True)
    ma, mb = a._load(), b._load()
    assert (ma["op"], mb["op"]) == ("delete", "merge")
    assert ma["deleted_rows"] == mb["deleted_rows"] == 6
    assert [g.get("dv_rows", 0) for g in ma["groups"]] == [
        g.get("dv_rows", 0) for g in mb["groups"]
    ]
    assert len(ma["dvs"]) == len(mb["dvs"]) == 1

    def sidecar(m):
        # group ids differ per table: compare (group position, key)
        pos = {g["id"]: i for i, g in enumerate(m["groups"])}
        return sorted(
            (pos[r["_gid"]], r["k"])
            for r in spark.read.parquet(m["dvs"][0]["path"]).collect()
        )

    assert sidecar(ma) == sidecar(mb)
    assert len(sidecar(ma)) == 6

    def change_file(m):
        return _rows(spark.read.parquet(m["cdc"]["path"]))

    assert change_file(ma) == change_file(mb)
    assert {r[2] for r in change_file(ma)} == {"delete"}
    assert _rows(a.read()) == _rows(b.read())


def test_merge_refuses_nondeterministic_clause_on_cdf_table(spark, tdir):
    """The change file re-evaluates the merge's join in its own job, so
    a non-deterministic clause could commit a change file that
    disagrees with the committed rows: a cdf table refuses it before
    any write. A table without a change feed still commits it."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 10, "a"), key_col="k",
                        cdf=True)
    head = t._load()["version"]
    src = _df(spark, 5, 15, "m")
    for kw in (
        {"when_matched_update": {"v": "cast(rand() AS string)"}},
        {"when_matched_update": {"v": "s.v"},
         "when_matched_update_condition": "rand() < 0.5"},
        {"when_matched_delete": "rand() < 0.5"},
        {"when_not_matched_insert": {"k": "s.k", "v": "uuid()"}},
        {"when_not_matched_insert": True,
         "when_not_matched_insert_condition": "rand() < 0.5"},
    ):
        with pytest.raises(ValueError, match="non-deterministic"):
            t.merge(src, **kw)
    assert t._load()["version"] == head
    assert not t._versions()[head:]

    t2 = SifTable.create(spark, f"{tdir}/plain", _df(spark, 0, 10, "a"),
                         key_col="k")
    v = t2.merge(src, when_matched_update={"v": "cast(rand() AS string)"},
                 when_not_matched_insert=True)
    assert v == 2
    assert t2.read().count() == 15
