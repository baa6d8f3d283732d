"""First-class composite merge keys (VERDICT r12 "Next round" #1):
``key_cols=["a", "b"]`` threads a REAL column tuple through
create/upsert/merge/delete_keys/lookup — per-column range skipping,
a key-TUPLE bloom, pair-joins on the actual columns — so identity is
never a derived hash. The old documented pattern (xxhash64 chain as
the table key) silently folds distinct business tuples: beyond the
n^2/2^65 birthday collisions (~270 expected on a 10^11-row table),
Spark's xxhash64 SKIPS null columns, so ('x', NULL) and (NULL, 'x')
collide DETERMINISTICALLY — demonstrated below, and impossible with
key_cols."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _df(spark, lo, hi, val="a"):
    """Rows keyed by (region, day): region cycles 0..9, day = id//10."""
    return spark.range(lo, hi).select(
        (F.col("id") % 10).alias("region"),
        (F.col("id") / 10).cast("long").alias("day"),
        F.lit(val).alias("v"),
        F.col("id").alias("sales"),
    )


def test_create_guards(spark, tdir):
    with pytest.raises(ValueError, match="not both"):
        SifTable.create(
            spark, tdir, _df(spark, 0, 10), key_col="region",
            key_cols=["region", "day"],
        )
    with pytest.raises(ValueError, match="not in the frame"):
        SifTable.create(
            spark, tdir, _df(spark, 0, 10), key_cols=["region", "nope"]
        )
    with pytest.raises(ValueError, match="duplicate"):
        SifTable.create(
            spark, tdir, _df(spark, 0, 10), key_cols=["region", "region"]
        )
    # 1-element key_cols collapses to the 1-ary key_col path
    t = SifTable.create(spark, tdir, _df(spark, 0, 10), key_cols=["sales"])
    m = t._load()
    assert m["key_col"] == "sales" and m.get("key_cols") is None


def test_composite_upsert_replaces_by_tuple(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_cols=["region", "day"]
    )
    assert t._load()["key_cols"] == ["region", "day"]
    # replace the (4, 3) and (5, 3) cells, insert a brand-new (4, 99)
    upd = spark.createDataFrame(
        [(4, 3, "new", 1000), (5, 3, "new", 2000), (4, 99, "new", 3000)],
        "region long, day long, v string, sales long",
    )
    t.upsert(upd)
    out = t.read()
    assert out.count() == 101
    assert out.filter("v = 'new'").count() == 3
    assert out.filter("region = 4 AND day = 3").collect()[0]["sales"] == 1000
    # same-region different-day rows untouched
    assert out.filter("region = 4 AND day = 2").collect()[0]["v"] == "a"


def test_composite_range_skipping_per_column(spark, tdir):
    """A group whose DAY range is disjoint from the batch carries by
    reference even when its REGION range fully overlaps — per-column
    disjointness on ANY key column suffices."""
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_cols=["region", "day"]
    )  # days 0..9
    t.append(_df(spark, 1000, 1100, "far"))  # days 100..109, regions 0..9
    far_group = t._load()["groups"][1]["id"]
    t.upsert(
        spark.createDataFrame(
            [(3, 5, "z", 7)], "region long, day long, v string, sales long"
        )
    )
    m = t._load()
    assert m["op"] == "upsert"
    ids = {g["id"] for g in m["groups"]}
    assert far_group in ids  # day-disjoint group untouched
    assert t.read().filter("v = 'z'").count() == 1
    assert t.read().count() == 200


def test_composite_tuple_bloom_skips_interleaved_groups(spark, tdir):
    """Interleaved per-column ranges defeat min/max alone (every group
    overlaps every batch on both columns) — the key-TUPLE bloom still
    proves absence. A batch whose TUPLES live in no group rewrites
    nothing."""
    a = spark.createDataFrame(
        [(r, d, "a", 0) for r in range(0, 10) for d in range(0, 50, 2)],
        "region long, day long, v string, sales long",
    )  # even days
    b = spark.createDataFrame(
        [(r, d, "b", 0) for r in range(0, 10) for d in range(1, 50, 2)],
        "region long, day long, v string, sales long",
    )  # odd days — same region AND day min/max envelope
    t = SifTable.create(spark, tdir, a, key_cols=["region", "day"],
                        key_bloom=True)
    t.append(b)
    g = t._load()["groups"]
    assert all(x.get("key_bloom") for x in g)
    before = {x["id"] for x in g}
    # batch tuple (5, 30) lives in group a (even day) only; group b's
    # region AND day ranges both cover it, so only the tuple bloom
    # can prove b holds no match
    upd = spark.createDataFrame(
        [(5, 30, "z", 9)], "region long, day long, v string, sales long"
    )
    t.upsert(upd)
    m = t._load()
    after = {x["id"] for x in m["groups"]}
    # group b (odd days) carried by reference: its bloom proves the
    # tuple (5, 30) is absent even though 1 <= 30 <= 49 overlaps it
    assert len(before & after) == 1
    assert t.read().filter("v = 'z'").count() == 1
    assert t.read().count() == 500


def test_composite_merge_cdc_batch_and_counters(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_cols=["region", "day"],
        cdf=True,
    )
    cdc = spark.createDataFrame(
        [
            (0, 0, "upd", 50),     # matched: update
            (1, 0, "upd", 60),     # matched: update
            (2, 0, None, -1),      # matched: delete (deleted flag)
            (7, 77, "ins", 70),    # unmatched: insert
        ],
        "region long, day long, v string, sales long",
    )
    v = t.merge(
        cdc,
        when_matched_update={"v": "s.v", "sales": "s.sales"},
        when_matched_update_condition="s.v IS NOT NULL",
        when_matched_delete="s.v IS NULL",
        when_not_matched_insert=True,
        txn=("cdc-app", 7),
    )
    m = t._load(v)
    assert m["replaced_rows"] == 2 and m["deleted_rows"] == 1
    out = t.read()
    assert out.count() == 100  # 100 - 1 deleted + 1 inserted
    assert out.filter("region = 0 AND day = 0").collect()[0]["sales"] == 50
    assert out.filter("region = 2 AND day = 0").count() == 0
    assert out.filter("region = 7 AND day = 77").count() == 1
    # full CDC images keyed by the tuple
    ch = t.changes(v - 1, to_version=v, cdf=True)
    by_type = {
        r["_change_type"]: r["cnt"]
        for r in ch.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert by_type == {
        "update_preimage": 2, "update_postimage": 2,
        "delete": 1, "insert": 1,
    }
    # txn replay: committed no-op
    assert t.merge(cdc, when_not_matched_insert=True,
                   txn=("cdc-app", 7)) == v
    # cardinality rule over TUPLES: two source rows with the same
    # (region, day) raise, as does a null key part
    dup = spark.createDataFrame(
        [(1, 1, "x", 0), (1, 1, "y", 0)],
        "region long, day long, v string, sales long",
    )
    with pytest.raises(ValueError, match="ANSI MERGE"):
        t.merge(dup, when_not_matched_insert=True)
    nullpart = spark.createDataFrame(
        [(1, None, "x", 0)], "region long, day long, v string, sales long"
    )
    with pytest.raises(ValueError, match="ANSI MERGE"):
        t.merge(nullpart, when_not_matched_insert=True)


def test_composite_delete_keys_and_lookup(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_cols=["region", "day"],
        cdf=True,
    )
    dels = spark.createDataFrame(
        [(3, 0), (4, 0), (9, 9)], "region long, day long"
    )
    v = t.delete_keys(dels)
    assert t._load(v)["deleted_rows"] == 3
    assert t.read().count() == 97
    tomb = t.changes(v - 1, to_version=v, cdf=True)
    assert tomb.filter("_change_type = 'delete'").count() == 3
    # tuple lookup
    assert t.lookup((5, 0)).collect()[0]["sales"] == 5
    assert t.lookup((3, 0)).count() == 0  # deleted
    with pytest.raises(ValueError, match="2 key value"):
        t.lookup(5)
    with pytest.raises(ValueError, match="not a range-key"):
        t.lookup((5, None))


def test_hash_chain_collision_now_impossible(spark, tdir):
    """THE corruption the first-class tuple closes. Spark's xxhash64
    skips NULL columns, so the old documented pattern's derived key
    key_columns('a','b') gives ('x', NULL) and (NULL, 'x') the SAME
    pk — an upsert of one silently replaces the other (no error is
    possible: the hash IS the identity). With key_cols the rows stay
    distinct and a null part never matches anything."""
    from sif_spark import functions as SF

    rows = spark.createDataFrame(
        [("x", None, "row1", 1), (None, "x", "row2", 2)],
        "a string, b string, v string, sales long",
    )
    pks = rows.withColumn("pk", SF.key_columns("a", "b"))
    vals = [r["pk"] for r in pks.select("pk").collect()]
    assert vals[0] == vals[1]  # the hash chain cannot tell them apart
    # OLD pattern: keyed on the derived hash — upserting row1's pk
    # replaces row2 as collateral (distinct business rows folded)
    told = SifTable.create(
        spark, f"{tdir}/old", pks, key_col="pk"
    )
    upd = pks.filter("v = 'row1'").withColumn(
        "sales", F.lit(100).cast("long")
    )
    told.upsert(upd)
    assert told.read().count() == 1  # row2 is GONE — silent corruption
    # NEW: first-class tuple — both rows keep their identity
    tnew = SifTable.create(
        spark, f"{tdir}/new", rows, key_cols=["a", "b"]
    )
    upd2 = rows.filter("v = 'row1'").withColumn(
        "sales", F.lit(100).cast("long")
    )
    tnew.upsert(upd2)
    out = tnew.read()
    assert out.count() == 3  # null parts never equi-match: pure append
    assert out.filter("v = 'row2'").count() == 1  # row2 survives


def test_composite_key_rename_skipping_follows(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_cols=["region", "day"],
        key_bloom=True,
    )
    t.append(_df(spark, 1000, 1100, "far"))  # days 100..109
    t.rename_column("day", "dt")
    m = t._load()
    assert m["key_cols"] == ["region", "dt"]
    before = {g["id"] for g in m["groups"]}
    t.upsert(
        spark.createDataFrame(
            [(3, 105, "z", 1)], "region long, dt long, v string, sales long"
        )
    )
    m2 = t._load()
    kept = {g["id"] for g in m2["groups"]} & before
    assert len(kept) == 1  # the day-0..9 group skipped via written-name stats
    assert t.read().filter("v = 'z'").count() == 1
    assert t.lookup((3, 105)).collect()[0]["v"] == "z"
    with pytest.raises(ValueError, match="merge key"):
        t.drop_column("dt")


def test_composite_compact_and_unkeyed_guards(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 50), key_cols=["region", "day"]
    )
    t.append(_df(spark, 50, 100, "b"))
    t.compact()
    m = t._load()
    assert len(m["groups"]) == 1
    assert m["key_cols"] == ["region", "day"]
    assert t.read().count() == 100
    # upsert batch missing a key column fails loudly
    with pytest.raises(ValueError, match="lacks key column"):
        t.upsert(spark.createDataFrame([(1, "x")], "region long, v string"))
    with pytest.raises(ValueError, match="lacks key column"):
        t.delete_keys(spark.createDataFrame([(1,)], "region long"))


def _kdf(spark, lo, hi, val):
    """Rows keyed by the bijective tuple (id // 7, id % 7)."""
    return spark.range(lo, hi).select(
        (F.col("id") / 7).cast("long").alias("k1"),
        (F.col("id") % 7).alias("k2"),
        F.lit(val).alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mixed_writer_stress_composite_keys(spark, tdir):
    """The mixed-writer CAS stress on a COMPOSITE-key table (VERDICT
    r12 "Next round" #1's done-criterion): two upserters, a merger and
    a compactor race; the final content must equal a serial replay of
    the same ops in commit order, with a contiguous version chain."""
    import threading

    from sif_spark.table import ConcurrentCommitError

    t = SifTable.create(
        spark, tdir, _kdf(spark, 0, 200, "base"), key_cols=["k1", "k2"],
        key_bloom=True,
    )
    committed: list[tuple[int, str, tuple]] = []
    lock = threading.Lock()
    errors: list = []

    def record(v, op, args):
        with lock:
            committed.append((v, op, args))

    def retry(fn, *args, **kw):
        for _ in range(60):
            try:
                return fn(*args, **kw)
            except ConcurrentCommitError:
                continue
        raise TimeoutError("writer starved through 60 CAS retries")

    def upserter(tag, slices):
        try:
            for lo, hi in slices:
                v = t.upsert(_kdf(spark, lo, hi, tag), retries=60)
                record(v, "upsert", (lo, hi, tag))
        except Exception as e:
            errors.append((tag, e))

    def compactor(n):
        try:
            for _ in range(n):
                record(retry(t.compact), "compact", ())
        except Exception as e:
            errors.append(("compact", e))

    def merger(slices):
        try:
            for lo, hi in slices:
                v = t.merge(
                    _kdf(spark, lo, hi, "M"),
                    when_matched_delete="(t.k1 * 7 + t.k2) % 19 = 0",
                    when_matched_update={"v": "s.v"},
                    when_not_matched_insert=True,
                    retries=60,
                )
                record(v, "merge", (lo, hi))
        except Exception as e:
            errors.append(("merge", e))

    threads = [
        threading.Thread(target=upserter, args=("A", [(50, 120), (10, 40)])),
        threading.Thread(target=upserter, args=("B", [(100, 170), (0, 30)])),
        threading.Thread(target=compactor, args=(2,)),
        threading.Thread(target=merger, args=([(150, 260), (30, 90)],)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    versions = t._versions()
    assert versions == list(range(1, len(versions) + 1)), versions
    assert len(committed) == 8
    assert len({v for v, _, _ in committed}) == len(committed)
    replay_dir = f"{tdir}-replay"
    shutil.rmtree(replay_dir, ignore_errors=True)
    rt = SifTable.create(
        spark, replay_dir, _kdf(spark, 0, 200, "base"),
        key_cols=["k1", "k2"], key_bloom=True,
    )
    for v, op, args in sorted(committed):
        if op == "upsert":
            lo, hi, tag = args
            rt.upsert(_kdf(spark, lo, hi, tag))
        elif op == "merge":
            lo, hi = args
            rt.merge(
                _kdf(spark, lo, hi, "M"),
                when_matched_delete="(t.k1 * 7 + t.k2) % 19 = 0",
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=True,
            )
        else:
            rt.compact()
    assert _rows(t.read()) == _rows(rt.read())
    shutil.rmtree(replay_dir, ignore_errors=True)
