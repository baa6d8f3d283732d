"""Job-count and manifest-shape pins for the table layer's keyed
mutations (upsert / merge / delete_keys) and append.

Each case builds a tiny table, then counts the Spark jobs ONE operation
starts (the scheduler's job-id delta: the jobs tools/entry_job_probe.py
counts from the status store, without its retention cap)
and checks the head manifest: its field set (an absent field and a
null one count the same), ``op``, the row counters, the group count,
``len(added)`` and whether a change file / deletion vector is present.
Job counts are load-immune, so any refactor of the mutation paths that
adds a job, or changes what a version commits, fails here.

Also pins that the mutation write wave keeps the caller's job group
(every job a parallel-write mutation starts carries it), and the job
counts of the three change-feed folds (aggregate view, ANN index
maintainer, CDC merge) over a backlog fixed before the query starts."""

from __future__ import annotations

from pyspark.sql import functions as F

from sif_spark.table import SifTable


# every field a keyed-mutation / append manifest may carry (absent ≡
# null: the set compared is the fields with a non-null value)
_BASE_FIELDS = {
    "version", "parent", "op", "key_bloom", "cdf", "dv", "dvs", "txns",
    "added", "schema", "columns", "last_column_id", "groups",
    "col_id_eras",
}


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def _cdf(spark, lo, hi, val):
    """Composite-key rows: (r, d) = (id // 10, id % 10)."""
    return spark.range(lo, hi).select(
        (F.col("id") / 10).cast("long").alias("r"),
        (F.col("id") % 10).alias("d"),
        F.lit(val).alias("v"),
    )


def _jobs(spark) -> int:
    """Jobs submitted so far in this SparkContext: the scheduler's job-id
    counter, which (unlike the status store's job list) is not capped by
    ``spark.ui.retainedJobs`` in a long-lived test session."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _count_jobs(spark, fn):
    n0 = _jobs(spark)
    out = fn()
    return out, _jobs(spark) - n0


def _shape(m: dict) -> dict:
    return {
        "fields": {k for k, v in m.items() if v is not None},
        "op": m["op"],
        "replaced_rows": m.get("replaced_rows"),
        "deleted_rows": m.get("deleted_rows"),
        "groups": len(m["groups"]),
        "added": len(m["added"]),
        "cdc": bool(m.get("cdc")),
        "dvs": len(m.get("dvs") or []),
    }


def _two_group_table(spark, path, **kw):
    """Groups [0, 40) and [40, 80): a batch keyed inside [0, 40) touches
    exactly the first group."""
    t = SifTable.create(spark, path, _df(spark, 0, 40, "a"), **kw)
    t.append(_df(spark, 40, 80, "b"))
    return t


def _check(spark, t, fn, jobs, shape):
    assert not spark.streams.active
    v, n = _count_jobs(spark, fn)
    m = t._load()
    assert v == m["version"]
    got = _shape(m)
    assert (n, got) == (jobs, shape)
    assert not spark.streams.active


def _fields(*extra):
    return _BASE_FIELDS | set(extra)


def test_jobs_upsert_plain(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check(spark, t, lambda: t.upsert(_df(spark, 5, 10, "u")), 5, {
        "fields": _fields("key_col", "replaced_rows"),
        "op": "upsert", "replaced_rows": 5, "deleted_rows": None,
        "groups": 3, "added": 1, "cdc": False, "dvs": 0,
    })


def test_jobs_upsert_key_bloom(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k", key_bloom=True)
    _check(spark, t, lambda: t.upsert(_df(spark, 5, 10, "u")), 11, {
        "fields": _fields("key_col", "replaced_rows"),
        "op": "upsert", "replaced_rows": 5, "deleted_rows": None,
        "groups": 3, "added": 1, "cdc": False, "dvs": 0,
    })


def test_jobs_upsert_cdf(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k", cdf=True)
    _check(spark, t, lambda: t.upsert(_df(spark, 35, 45, "u")), 9, {
        "fields": _fields("key_col", "replaced_rows", "cdc"),
        "op": "upsert", "replaced_rows": 10, "deleted_rows": None,
        "groups": 2, "added": 1, "cdc": True, "dvs": 0,
    })


def test_jobs_upsert_composite_key(spark, tdir):
    t = SifTable.create(
        spark, tdir, _cdf(spark, 0, 40, "a"), key_cols=["r", "d"]
    )
    t.append(_cdf(spark, 40, 80, "b"))
    _check(spark, t, lambda: t.upsert(_cdf(spark, 5, 10, "u")), 6, {
        "fields": _fields("key_cols", "replaced_rows"),
        "op": "upsert", "replaced_rows": 5, "deleted_rows": None,
        "groups": 3, "added": 1, "cdc": False, "dvs": 0,
    })


def test_jobs_append(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check(spark, t, lambda: t.append(_df(spark, 80, 90, "c")), 1, {
        "fields": _fields("key_col"),
        "op": "append", "replaced_rows": None, "deleted_rows": None,
        "groups": 3, "added": 1, "cdc": False, "dvs": 0,
    })


def _merge_upd_ins(t, spark):
    return t.merge(
        _df(spark, 30, 45, "m").unionByName(_df(spark, 100, 105, "i")),
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )


def test_jobs_merge_update_insert_plain(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check(spark, t, lambda: _merge_upd_ins(t, spark), 9, {
        "fields": _fields("key_col", "replaced_rows", "deleted_rows"),
        "op": "merge", "replaced_rows": 15, "deleted_rows": 0,
        "groups": 2, "added": 1, "cdc": False, "dvs": 0,
    })


def test_jobs_merge_update_insert_cdf(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k", cdf=True)
    _check(spark, t, lambda: _merge_upd_ins(t, spark), 15, {
        "fields": _fields(
            "key_col", "replaced_rows", "deleted_rows", "cdc"
        ),
        "op": "merge", "replaced_rows": 15, "deleted_rows": 0,
        "groups": 2, "added": 1, "cdc": True, "dvs": 0,
    })


def _dv_table(spark, path, **kw):
    """Three interleaved groups (k % 3): every scattered batch overlaps
    every group's range — the deletion-vector use case."""
    def part(rem, val):
        return (
            spark.range(0, 90).filter(F.col("id") % 3 == rem)
            .select(F.col("id").alias("k"), F.lit(val).alias("v"))
        )

    t = SifTable.create(spark, path, part(0, "a"), key_col="k", dv=True,
                        **kw)
    t.append(part(1, "b"))
    t.append(part(2, "c"))
    return t


def test_jobs_merge_delete_only_dv(spark, tdir):
    t = _dv_table(spark, tdir)
    _check(
        spark, t,
        lambda: t.merge(
            _df(spark, 10, 20, "x"), when_matched_delete=True
        ),
        7,
        {
            "fields": _fields("key_col", "replaced_rows", "deleted_rows"),
            "op": "merge", "replaced_rows": 0, "deleted_rows": 10,
            "groups": 3, "added": 0, "cdc": False, "dvs": 1,
        },
    )


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_jobs_delete_keys_plain(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check(spark, t, lambda: t.delete_keys(_keys(spark, 5, 10)), 5, {
        "fields": _fields("key_col", "deleted_rows"),
        "op": "delete", "replaced_rows": None, "deleted_rows": 5,
        "groups": 2, "added": 0, "cdc": False, "dvs": 0,
    })


def test_jobs_delete_keys_cdf(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k", cdf=True)
    _check(spark, t, lambda: t.delete_keys(_keys(spark, 5, 10)), 7, {
        "fields": _fields("key_col", "deleted_rows", "cdc"),
        "op": "delete", "replaced_rows": None, "deleted_rows": 5,
        "groups": 2, "added": 0, "cdc": True, "dvs": 0,
    })


def test_jobs_delete_keys_dv(spark, tdir):
    t = _dv_table(spark, tdir)
    _check(spark, t, lambda: t.delete_keys(_keys(spark, 10, 20)), 7, {
        "fields": _fields("key_col", "deleted_rows"),
        "op": "delete", "replaced_rows": None, "deleted_rows": 10,
        "groups": 3, "added": 0, "cdc": False, "dvs": 1,
    })


# --- lookup: jobs at call time and the groups the frame reads --------


def _lookup(spark, t, value):
    """(jobs lookup() starts, sorted group ids its frame scans): the
    bloom probes run at call time; the groups come from the returned
    frame's input files, listed without a job."""
    df, n = _count_jobs(spark, lambda: t.lookup(value))
    gids = {p.rsplit("/", 2)[-2] for p in df.inputFiles()}
    names = [g["id"] for g in t._load()["groups"]]
    return n, sorted(names.index(g) for g in gids)


def _evens_then_odds(spark, path, cast="long", **kw):
    """Group 0 holds the multiples of 4 in [0, 80) (key type ``cast``),
    group 1 the odd keys in [41, 121) (bigint): their ranges overlap on
    [41, 76], so a key there survives range skipping in both groups."""
    t = SifTable.create(
        spark, path,
        spark.range(0, 80, 4).select(
            F.col("id").cast(cast).alias("k"), F.lit("a").alias("v")
        ),
        **kw,
    )
    t.append(_df(spark, 0, 40, "b").select(
        (F.col("k") * 2 + 41).alias("k"), "v"
    ))
    return t


def test_jobs_lookup_plain(spark, tdir):
    t = _evens_then_odds(spark, tdir, key_col="k")
    assert _lookup(spark, t, 999) == (0, [])  # range miss
    assert _lookup(spark, t, 62) == (0, [0, 1])  # no bloom: both read
    assert _lookup(spark, t, 20) == (0, [0])
    assert [r["v"] for r in t.lookup(61).collect()] == ["b"]


def test_jobs_lookup_key_bloom(spark, tdir):
    t = _evens_then_odds(spark, tdir, key_col="k", key_bloom=True)
    assert _lookup(spark, t, 999) == (0, [])
    assert _lookup(spark, t, 62) == (1, [])  # bloom miss in both
    assert _lookup(spark, t, 60) == (1, [0])
    assert _lookup(spark, t, 61) == (1, [1])
    assert [r["v"] for r in t.lookup(61).collect()] == ["b"]


def test_jobs_lookup_widened_key(spark, tdir):
    """Group 0 was written (and its bloom hashed) under an int key, the
    append widened it to bigint: one probe job per recorded ktype among
    the groups that survive range skipping."""
    t = _evens_then_odds(spark, tdir, cast="int", key_col="k",
                         key_bloom=True)
    m = t._load()
    assert [g["key_bloom"]["ktype"] for g in m["groups"]] == ["int", "bigint"]
    assert _lookup(spark, t, 999) == (0, [])
    assert _lookup(spark, t, 20) == (1, [0])  # only group 0's range
    assert _lookup(spark, t, 100) == (1, [])  # only group 1's range
    assert _lookup(spark, t, 62) == (2, [])
    assert _lookup(spark, t, 60) == (2, [0])
    assert _lookup(spark, t, 61) == (2, [1])
    assert [r["v"] for r in t.lookup(60).collect()] == ["a"]


def test_jobs_lookup_composite_key(spark, tdir):
    t = SifTable.create(
        spark, tdir, _cdf(spark, 0, 40, "a"), key_cols=["r", "d"],
        key_bloom=True,
    )
    t.append(_cdf(spark, 40, 80, "b").filter(F.col("d") != 3))
    assert _lookup(spark, t, (99, 0)) == (0, [])  # range miss on r
    assert _lookup(spark, t, (5, 3)) == (1, [])  # bloom miss
    assert _lookup(spark, t, (5, 2)) == (1, [1])
    assert _lookup(spark, t, (1, 3)) == (1, [0])
    assert [r["v"] for r in t.lookup((5, 2)).collect()] == ["b"]


def test_write_wave_jobs_keep_the_callers_job_group(spark, tdir):
    """The survivor rewrite, the batch group and the change file of a
    cdf upsert are written from pool threads: each of those jobs must
    still carry the job group the caller set."""
    t = _two_group_table(spark, tdir, key_col="k", cdf=True)
    sc = spark.sparkContext
    group = "sif-table-jobs-group"
    sc.setJobGroup(group, "cdf upsert")
    try:
        _, n = _count_jobs(spark, lambda: t.upsert(_df(spark, 35, 45, "u")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert t._load()["cdc"]
    assert n >= 3
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n


# --- change-feed folds: jobs one drained stream query starts ---------
#
# Each case fixes the source backlog BEFORE the fold starts, then
# counts every job from start through processAllAvailable(): the
# read / settle / fold path of the three change-feed consumers
# (incremental_aggregate_view, maintain_ivf_index_table,
# merge_changes_into_table) on the driver-side fold loop.


def _fold_jobs(spark, start) -> int:
    assert not spark.streams.active
    n0 = _jobs(spark)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return _jobs(spark) - n0


def _mv_source(spark, path, cdf):
    """A source table and its view, both at the source's first version;
    returns the source and the view query's starter."""
    from sif_spark.mview import incremental_aggregate_view

    t = SifTable.create(spark, f"{path}/src", _df(spark, 0, 40, "a"),
                        key_col="k", cdf=cdf)
    SifTable.create(
        spark, f"{path}/dst",
        t.read().groupBy("v").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("k").alias("s")),
        key_col="v",
    )
    return t, lambda: incremental_aggregate_view(
        spark, f"{path}/src", f"{path}/dst", key="v",
        sums={"n": "1", "s": "k"}, checkpoint_dir=f"{path}/ck",
        app_id="mvj", starting_version=1, cdf=cdf,
    )


def test_jobs_mview_additive_fold(spark, tdir):
    src, start = _mv_source(spark, tdir, cdf=False)
    src.append(_df(spark, 40, 60, "b"))
    assert _fold_jobs(spark, start) == 7
    view = SifTable(spark, f"{tdir}/dst").read()
    assert sorted(tuple(r) for r in view.collect()) == [
        ("a", 40, 780), ("b", 20, 990),
    ]


def test_jobs_mview_cdf_fold(spark, tdir):
    src, start = _mv_source(spark, tdir, cdf=True)
    src.upsert(_df(spark, 30, 50, "b"))
    assert _fold_jobs(spark, start) == 10
    view = SifTable(spark, f"{tdir}/dst").read()
    assert sorted(tuple(r) for r in view.collect()) == [
        ("a", 30, 435), ("b", 20, 790),
    ]


def _vec_df(spark, lo, hi, sign=1.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.lit(sign) * F.cos(F.col("id") * (i + 1))).cast("float")
            for i in range(4)
        ]).alias("embedding"),
    )


def test_jobs_ann_maintainer_folds(spark, tdir):
    """One index, two counted folds: an append-only window (the keyed
    APPEND path) and then an upsert window (the upsert path)."""
    import numpy as np

    from sif_spark.operators.similarity import maintain_ivf_index_table

    src = SifTable.create(spark, f"{tdir}/src", _vec_df(spark, 0, 40),
                          key_col="vec_id")
    cents = np.array(
        [[1, 0, 0, 0], [0, 1, 0, 0], [-1, 0, 0, 0]], dtype=np.float32
    )

    def start():
        return maintain_ivf_index_table(
            spark, f"{tdir}/src", f"{tdir}/idx", cents, f"{tdir}/ck",
            app_id="annj",
        )

    _fold_jobs(spark, start)  # the index exists before the counted folds
    idx = SifTable(spark, f"{tdir}/idx")
    src.append(_vec_df(spark, 40, 60))
    assert _fold_jobs(spark, start) == 4
    assert idx._load()["op"] == "append"
    src.upsert(_vec_df(spark, 10, 20, sign=-1.0))
    assert _fold_jobs(spark, start) == 9
    assert idx._load()["op"] == "upsert"
    nids = idx.read().select("nid")
    assert (nids.count(), nids.distinct().count()) == (60, 60)


def test_jobs_cdc_merge_fold(spark, tdir):
    from sif_spark.streaming.stream import merge_changes_into_table

    src = SifTable.create(spark, f"{tdir}/src", _df(spark, 0, 40, "a"),
                          key_col="k", cdf=True)
    dst = SifTable.create(spark, f"{tdir}/dst", src.read(), key_col="k")
    src.upsert(_df(spark, 30, 50, "b"))
    src.delete_keys(_keys(spark, 0, 5))
    n = _fold_jobs(spark, lambda: merge_changes_into_table(
        spark, f"{tdir}/src", f"{tdir}/dst", app_id="cdcj",
        checkpoint_dir=f"{tdir}/ck", starting_version=1,
    ))
    assert n == 10
    assert dst._load()["op"] == "merge"
    assert sorted(tuple(r) for r in dst.read().collect()) == sorted(
        tuple(r) for r in src.read().collect()
    )


# --- scans under the recorded schema ---------------------------------


def test_jobs_read_count_scans_with_recorded_schema(spark, tdir):
    """Every group records the DDL its files were written with, so a
    snapshot scan starts no parquet footer-inference job: a count over
    a one-class table is its own two jobs, not three."""
    t = _two_group_table(spark, tdir, key_col="k")
    count, n = _count_jobs(spark, lambda: t.read().count())
    assert (count, n) == (80, 2)


def test_column_name_with_space_reads_and_upserts(spark, tdir):
    """A name that is not a plain identifier is backquoted in the
    manifest DDL, so the table reads and upserts; a group whose
    recorded DDL does not parse back (unquoted "a b", as such a DDL was
    written before) reads through schema inference, one job dearer."""
    import json

    from sif_spark.table import _manifest_file

    def rows(lo, hi, val):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(val).alias("a b")
        )

    t = SifTable.create(spark, tdir, rows(0, 20, "x"), key_col="k",
                        key_bloom=True)
    t.append(rows(20, 30, "y"))
    t.upsert(rows(15, 25, "u"))
    want = sorted(
        [(k, "x") for k in range(15)] + [(k, "u") for k in range(15, 25)]
        + [(k, "y") for k in range(25, 30)]
    )
    m = t._load()
    assert m["schema"] == "k bigint, `a b` string"
    assert t.read().columns == ["k", "a b"]
    assert sorted(tuple(r) for r in t.read().collect()) == want
    _, quoted = _count_jobs(spark, lambda: t.read().count())
    path = _manifest_file(tdir, m["version"])
    with open(path) as fh:
        raw = json.load(fh)
    for g in raw["groups"]:
        g["schema"] = "k bigint, a b string"
    with open(path, "w") as fh:
        json.dump(raw, fh)
    assert sorted(tuple(r) for r in t.read().collect()) == want
    _, inferred = _count_jobs(spark, lambda: t.read().count())
    assert inferred == quoted + 1


# --- the other table ops: jobs, manifest shape and group layout ------


def _layout(m: dict) -> list[tuple]:
    """Each group of ``m`` in manifest order: its dir name without the
    random hex (kind, version, seq), its row count and its field set."""
    return [(g["id"][:16], g["rows"], sorted(g)) for g in m["groups"]]


_GROUP = ["bytes", "col_ids", "id", "path", "rows", "schema", "stats"]
_KEYED_GROUP = sorted(_GROUP + ["key_max", "key_min"])


def _check_op(spark, t, fn, jobs, shape, layout):
    _check(spark, t, fn, jobs, shape)
    assert _layout(t._load()) == layout


def _count_create(spark, path, df, **kw):
    t, n = _count_jobs(spark, lambda: SifTable.create(spark, path, df, **kw))
    assert t._load()["version"] == 1
    return t, n


def test_jobs_create_plain(spark, tdir):
    t, n = _count_create(spark, tdir, _df(spark, 0, 40, "a"))
    m = t._load()
    assert (n, _shape(m)) == (1, {
        "fields": _fields() - {"parent"},
        "op": "create", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 1, "cdc": False, "dvs": 0,
    })
    assert m["parent"] is None and m["txns"] == {}
    assert _layout(m) == [("g-0000000001-000", 40, _GROUP)]


def test_jobs_create_key_bloom(spark, tdir):
    t, n = _count_create(spark, tdir, _df(spark, 0, 40, "a"), key_col="k",
                         key_bloom=True, txn=("app", 3))
    m = t._load()
    assert (n, _shape(m)) == (3, {
        "fields": _fields("key_col") - {"parent"},
        "op": "create", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 1, "cdc": False, "dvs": 0,
    })
    assert m["txns"] == {"app": 3} and m["key_bloom"] is True
    assert _layout(m) == [
        ("g-0000000001-000", 40, sorted(_KEYED_GROUP + ["key_bloom"]))
    ]
    assert m["groups"][0]["key_bloom"]["ktype"] == "bigint"
    assert (m["groups"][0]["key_min"], m["groups"][0]["key_max"]) == (0, 39)


def test_jobs_create_bucketed(spark, tdir):
    t, n = _count_create(spark, tdir, _df(spark, 0, 40, "a"), key_col="k",
                         bucket_by="k", n_buckets=4)
    m = t._load()
    assert (n, _shape(m)) == (1, {
        "fields": _fields("key_col", "bucket") - {"parent"},
        "op": "create", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 1, "cdc": False, "dvs": 0,
    })
    assert m["bucket"] == {"col": "k", "n": 4}
    assert _layout(m) == [("g-0000000001-000", 40, _KEYED_GROUP)]


def test_jobs_overwrite(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check_op(spark, t, lambda: t.overwrite(_df(spark, 100, 110, "o")), 1, {
        "fields": _fields("key_col"),
        "op": "overwrite", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 1, "cdc": False, "dvs": 0,
    }, [("g-0000000003-000", 10, _KEYED_GROUP)])


def test_jobs_compact_plain(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    t.upsert(_df(spark, 5, 10, "u"))
    _check_op(spark, t, lambda: t.compact(), 3, {
        "fields": _fields("key_col"),
        "op": "compact", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 0, "cdc": False, "dvs": 0,
    }, [("g-0000000004-000", 80, _KEYED_GROUP)])
    assert t.read().filter("v = 'u'").count() == 5


def test_jobs_compact_zorder(spark, tdir):
    def xy(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 7).alias("x"), (F.col("id") % 5).alias("y")
        )

    t = SifTable.create(spark, tdir, xy(0, 40))
    t.append(xy(40, 70))
    _check_op(spark, t, lambda: t.compact(num_files=2, zorder_by=["x", "y"]),
              5, {
        "fields": _fields(),
        "op": "compact", "replaced_rows": None, "deleted_rows": None,
        "groups": 1, "added": 0, "cdc": False, "dvs": 0,
    }, [("g-0000000003-000", 70, _GROUP)])


def _four_group_table(spark, path, **kw):
    """[0, 40) a, [40, 50) b, [50, 60) c, [60, 80) d."""
    t = SifTable.create(spark, path, _df(spark, 0, 40, "a"), key_col="k",
                        **kw)
    t.append(_df(spark, 40, 50, "b"))
    t.append(_df(spark, 50, 60, "c"))
    t.append(_df(spark, 60, 80, "d"))
    return t


# the first and last groups rewrite, the second drops whole (every row
# matches), the third carries by reference: kept groups stay in place
_DELETE_PRED = "(k >= 30 AND k < 50) OR (k >= 70 AND k < 75)"


def test_jobs_delete_predicate_plain(spark, tdir):
    t = _four_group_table(spark, tdir)
    _check_op(spark, t, lambda: t.delete(_DELETE_PRED), 4, {
        "fields": _fields("key_col", "deleted_rows"),
        "op": "delete", "replaced_rows": None, "deleted_rows": 25,
        "groups": 3, "added": 0, "cdc": False, "dvs": 0,
    }, [
        ("g-0000000005-000", 30, _KEYED_GROUP),
        ("g-0000000003-000", 10, _KEYED_GROUP),
        ("g-0000000005-001", 15, _KEYED_GROUP),
    ])


def test_jobs_delete_predicate_cdf(spark, tdir):
    t = _four_group_table(spark, tdir, cdf=True)
    _check_op(spark, t, lambda: t.delete(_DELETE_PRED), 5, {
        "fields": _fields("key_col", "deleted_rows", "cdc"),
        "op": "delete", "replaced_rows": None, "deleted_rows": 25,
        "groups": 3, "added": 0, "cdc": True, "dvs": 0,
    }, [
        ("g-0000000005-000", 30, _KEYED_GROUP),
        ("g-0000000003-000", 10, _KEYED_GROUP),
        ("g-0000000005-001", 15, _KEYED_GROUP),
    ])
    cdc = t._load()["cdc"]
    assert cdc["path"].rsplit("/", 1)[1][:16] == "c-0000000005-000"
    assert (cdc["rows"], sorted(cdc)) == (25, ["col_ids", "path", "rows",
                                                "schema"])
    assert t.changes(4, cdf=True).count() == 25


def test_jobs_restore(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    t.upsert(_df(spark, 5, 10, "u"))
    _check_op(spark, t, lambda: t.restore(2), 0, {
        "fields": _fields("key_col", "restored_from"),
        "op": "restore", "replaced_rows": None, "deleted_rows": None,
        "groups": 2, "added": 0, "cdc": False, "dvs": 0,
    }, [
        ("g-0000000001-000", 40, _KEYED_GROUP),
        ("g-0000000002-000", 40, _KEYED_GROUP),
    ])
    assert t._load()["restored_from"] == 2


def test_jobs_rename_column(spark, tdir):
    t = _two_group_table(spark, tdir, key_col="k")
    _check_op(spark, t, lambda: t.rename_column("v", "w"), 0, {
        "fields": _fields("key_col", "renamed"),
        "op": "rename_column", "replaced_rows": None, "deleted_rows": None,
        "groups": 2, "added": 0, "cdc": False, "dvs": 0,
    }, [
        ("g-0000000001-000", 40, _KEYED_GROUP),
        ("g-0000000002-000", 40, _KEYED_GROUP),
    ])
    m = t._load()
    assert m["schema"] == "k bigint, w string"
    assert m["renamed"] == {"from": "v", "to": "w"}
    assert m["groups"][0]["col_ids"] == {"k": 0, "v": 1}
