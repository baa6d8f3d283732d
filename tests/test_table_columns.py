"""Column rename/drop via stable column ids (VERDICT r11 "Next round"
#3 — the Iceberg-style metadata-only schema churn `_align`-by-name
could not express): renames never rewrite data and old files surface
under the NEW name; a dropped-then-re-added name gets a fresh id so
old bytes never resurface; the CDC feed, data skipping, upsert
rewrite, the streaming source and the batch DataSource all follow the
id mapping; legacy (pre-id) tables bootstrap ids on their first
rename/drop from the by-name correspondence that was, until that
moment, exact."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _df(spark, lo, hi, val="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(val).alias("v"),
        (F.col("id") * 2).alias("m"),
    )


def test_rename_is_metadata_only_and_maps_old_groups(spark, tdir):
    t = SifTable.create(spark, tdir, _df(spark, 0, 50), key_col="k")
    t.append(_df(spark, 50, 100, "b"))
    groups_before = {g["id"] for g in t._load()["groups"]}
    v = t.rename_column("m", "metric")
    m = t._load(v)
    assert m["op"] == "rename_column"
    assert {g["id"] for g in m["groups"]} == groups_before  # no rewrite
    out = t.read()
    assert set(out.columns) == {"k", "v", "metric"}
    # old files' values surface under the NEW name
    assert out.filter("k = 7").collect()[0]["metric"] == 14
    assert out.count() == 100
    # time travel to the pre-rename snapshot keeps the OLD name
    assert "m" in t.read(version=2).columns
    # appends after the rename use the new name; both eras align
    t.append(
        spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit("c").alias("v"),
            (F.col("id") * 2).alias("metric"),
        )
    )
    assert t.read().filter("metric = 220").count() == 1
    assert t.read().filter("metric = 14").count() == 1


def test_rename_key_col_and_skipping_follow(spark, tdir):
    t = SifTable.create(
        spark, tdir, _df(spark, 0, 100), key_col="k", key_bloom=True
    )
    t.append(_df(spark, 1000, 1100, "b"))
    t.rename_column("k", "pk")
    assert t._load()["key_col"] == "pk"
    # lookup and read_between prune via the groups' WRITTEN stats
    assert t.lookup(1050).count() == 1
    assert t.read_between("pk", 10, 20).count() == 11
    # upsert by the new key name rewrites only the overlapping group
    g_before = {g["id"] for g in t._load()["groups"]}
    t.upsert(
        spark.range(1050, 1060).select(
            F.col("id").alias("pk"), F.lit("z").alias("v"),
            (F.col("id") * 3).alias("m"),
        )
    )
    m = t._load()
    kept = {g["id"] for g in m["groups"]} & g_before
    assert len(kept) == 1  # the 0..99 group carried by reference
    out = t.read()
    assert out.filter("v = 'z'").count() == 10
    assert out.count() == 200


def test_drop_then_readd_never_resurfaces(spark, tdir):
    t = SifTable.create(spark, tdir, _df(spark, 0, 40), key_col="k")
    t.drop_column("m")
    assert set(t.read().columns) == {"k", "v"}
    # re-add the SAME name: fresh id — old bytes must stay invisible
    t.append(
        spark.range(40, 60).select(
            F.col("id").alias("k"), F.lit("b").alias("v"),
            (F.col("id") + 7).alias("m"),
        )
    )
    out = t.read()
    old = out.filter("k < 40").select("m").distinct().collect()
    assert [r["m"] for r in old] == [None]
    assert out.filter("k = 41").collect()[0]["m"] == 48
    # compact physically reclaims the dropped column
    t.compact()
    gpath = t._load()["groups"][0]["path"]
    files = [f for f in os.listdir(gpath) if f.endswith(".parquet")]
    cols = set(spark.read.parquet(os.path.join(gpath, files[0])).columns)
    assert cols == {"k", "v", "m"}  # only the re-added m, not old bytes
    assert t.read().filter("k = 1").collect()[0]["m"] is None


def test_rename_drop_guards(spark, tdir):
    t = SifTable.create(spark, tdir, _df(spark, 0, 10), key_col="k")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("m", "v")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="merge key"):
        t.drop_column("k")
    b = tdir + "-bucketed"
    shutil.rmtree(b, ignore_errors=True)
    tb = SifTable.create(
        spark, b, _df(spark, 0, 10), key_col="k", bucket_by="m", n_buckets=4
    )
    with pytest.raises(ValueError, match="bucket"):
        tb.rename_column("m", "mm")
    with pytest.raises(ValueError, match="bucket"):
        tb.drop_column("m")
    shutil.rmtree(b, ignore_errors=True)


def test_cdc_preimages_surface_under_new_name(spark, tdir):
    """The CDC x rename interplay (the r11 VERDICT's named done-
    criterion): change files written BEFORE the rename surface their
    pre/post-images under the NEW column name in changes(cdf=True)."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 30), key_col="k", cdf=True)
    t.upsert(_df(spark, 10, 20, "up"))       # v2: cdc file, old names
    t.rename_column("v", "val")               # v3: metadata only
    t.upsert(                                 # v4: cdc file, new names
        spark.range(25, 35).select(
            F.col("id").alias("k"), F.lit("post").alias("val"),
            (F.col("id") * 2).alias("m"),
        )
    )
    ch = t.changes(0, cdf=True)
    assert "val" in ch.columns and "v" not in ch.columns
    pre = ch.filter(
        "_change_type = 'update_preimage' AND _commit_version = 2"
    )
    assert pre.count() == 10
    assert {r["val"] for r in pre.collect()} == {"a"}  # old file, new name
    post4 = ch.filter(
        "_change_type = 'update_postimage' AND _commit_version = 4"
    )
    assert {r["val"] for r in post4.collect()} == {"post"}


def test_stream_and_batch_ds_follow_rename(spark, tdir):
    """Both DataSource read paths map pre-rename files by id: a batch
    DS read (with pushdown on the renamed column) and a fresh stream
    read surface old groups under the new names."""
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    t = SifTable.create(spark, tdir, _df(spark, 0, 100), key_col="k")
    t.append(_df(spark, 1000, 1100, "b"))
    t.rename_column("k", "pk")
    t.rename_column("m", "metric")
    r = spark.read.format("sif_table").option("path", tdir).load()
    assert {"pk", "metric"} <= set(r.columns)
    assert r.count() == 200
    assert r.filter("metric = 14").count() == 1
    # pushdown prunes on the RENAMED column via written-name stats
    rp = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    flt = rp.filter("pk >= 1010 AND pk <= 1020")
    assert flt.count() == 11
    assert flt.rdd.getNumPartitions() < r.rdd.getNumPartitions()
    # streaming source: full replay lands under the new names
    ck = tdir + "-ck"
    outp = []
    q = (
        spark.readStream.format("sif_table")
        .option("path", tdir)
        .load()
        .writeStream.foreachBatch(
            lambda df, eid: outp.append(
                df.groupBy().agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("metric").alias("s"),
                ).collect()[0]
            )
        )
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    shutil.rmtree(ck, ignore_errors=True)
    n = sum(r["n"] for r in outp)
    s = sum(r["s"] for r in outp if r["s"] is not None)
    assert n == 200
    assert s == sum(2 * k for k in range(100)) + sum(
        2 * k for k in range(1000, 1100)
    )


def test_legacy_table_bootstraps_ids_on_first_rename(spark, tdir):
    """Pre-round-12 manifests have no column ids; the first rename
    synthesizes them from the (until then exact) by-name
    correspondence, so old groups keep aligning correctly."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 50), key_col="k")
    t.append(_df(spark, 50, 80, "b"))
    # simulate a legacy history: strip ids from every manifest
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = json.load(fh)
        m.pop("columns", None)
        m.pop("col_id_eras", None)
        for g in m["groups"]:
            g.pop("col_ids", None)
            g.pop("col_era", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    t2 = SifTable(spark, tdir)
    assert t2._load().get("columns") is None  # genuinely legacy now
    t2.rename_column("v", "val")
    m = t2._load()
    assert m["columns"] is not None
    assert all(g.get("col_ids") for g in m["groups"])
    out = t2.read()
    assert set(out.columns) == {"k", "val", "m"}
    assert out.filter("val = 'b'").count() == 30
    assert out.count() == 80


def test_restore_reverts_rename_and_future_groups_map_back(spark, tdir):
    """restore() to a pre-rename version carries that version's
    column ids, so groups written AFTER the rename (under the new
    name) map BACK to the old name by id — time travel and rollback
    stay coherent in both directions across a rename."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 30), key_col="k")
    t.rename_column("m", "metric")                    # v2
    t.append(                                          # v3: new-name group
        spark.range(30, 50).select(
            F.col("id").alias("k"), F.lit("b").alias("v"),
            (F.col("id") * 2).alias("metric"),
        )
    )
    t.restore(1)                                       # v4: old schema
    out = t.read()
    # v1's groups only — and the OLD name
    assert set(out.columns) == {"k", "v", "m"}
    assert out.count() == 30
    # roll forward again: restore(3) brings the renamed schema AND
    # both eras' groups, mapped by id
    t.restore(3)
    out = t.read()
    assert set(out.columns) == {"k", "v", "metric"}
    assert out.count() == 50
    assert out.filter("metric = 14").count() == 1   # v1-era file, new name
    assert out.filter("metric = 98").count() == 1   # v3-era file


def test_merge_after_rename_touches_pre_rename_groups(spark, tdir):
    """MERGE onto a renamed table: the update expressions use the
    CURRENT names, the matched target rows come from PRE-rename
    files (id-mapped), and unlisted columns keep their values."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 40), key_col="k")
    t.rename_column("v", "val")
    src = spark.range(30, 60).select(
        F.col("id").alias("k"), F.lit("patch").alias("val"),
        F.lit(-1).cast("long").alias("m"),
    )
    t.merge(
        src,
        when_matched_update={"val": "concat(t.val, '+', s.val)"},
        when_matched_delete="t.k % 10 = 5",
        when_not_matched_insert=True,
    )
    out = t.read()
    assert out.count() == 40 - 1 + 20  # k=35 deleted; 40..59 inserted
    r30 = out.filter("k = 30").collect()[0]
    assert r30["val"] == "a+patch" and r30["m"] == 60  # m kept (t value)
    assert out.filter("k = 35").count() == 0
    assert out.filter("k = 50").collect()[0]["val"] == "patch"
    m = t._load()
    assert m["replaced_rows"] == 9 and m["deleted_rows"] == 1


def test_changes_across_rename_for_prebootstrap_rewritten_group(spark, tdir):
    """ADVICE r12 medium: a LEGACY (pre-id) version whose added group
    was later rewritten away must replay in changes() with the
    bootstrap-rule ids — by-name against the first columns-bearing
    manifest — not by-name against the post-rename schema (which
    silently NULLed the renamed column)."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 30), key_col="k")
    t.append(_df(spark, 30, 50, "b"))
    # simulate a legacy history: strip ids everywhere
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = json.load(fh)
        m.pop("columns", None)
        m.pop("last_column_id", None)
        m.pop("col_id_eras", None)
        for g in m["groups"]:
            g.pop("col_ids", None)
            g.pop("col_era", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    t2 = SifTable(spark, tdir)
    t2.compact()                 # v3: the v1/v2 groups are no longer live
    t2.rename_column("m", "metric")  # v4: bootstrap (on the compacted group)
    ch = t2.changes(0)           # replays v1+v2's ORIGINAL group files
    assert "metric" in ch.columns and "m" not in ch.columns
    got = ch.filter("_commit_version <= 2").agg(
        F.sum("metric").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got["n"] == 50
    # pre-bootstrap bytes surface under the NEW name, values intact
    assert got["s"] == sum(2 * k for k in range(50))


def test_dropped_column_id_never_reminted_after_group_turnover(spark, tdir):
    """ADVICE r12 low: once every group carrying a dropped column's id
    is rewritten away (compact), re-adding the same name must STILL
    mint a fresh id — the manifest's monotonic last_column_id is the
    guard, not a scan of live groups."""
    t = SifTable.create(spark, tdir, _df(spark, 0, 25), key_col="k")
    old_id = {c["name"]: c["id"] for c in t._load()["columns"]}["m"]
    t.drop_column("m")   # v2
    t.compact()          # v3: no live group carries old m's id anymore
    assert all(
        old_id not in (g.get("col_ids") or {}).values()
        for g in t._load()["groups"]
    )
    t.append(             # v4: re-add the name
        spark.range(25, 40).select(
            F.col("id").alias("k"), F.lit("b").alias("v"),
            (F.col("id") + 1).alias("m"),
        )
    )
    m = t._load()
    new_id = {c["name"]: c["id"] for c in m["columns"]}["m"]
    assert new_id != old_id
    assert m["last_column_id"] >= new_id
    # changes() replay at HEAD: the PRE-drop version's bytes must stay
    # invisible under the re-added column (time travel to v1 itself —
    # to_version=1 — would rightly still show them: m was live there)
    ch = t.changes(0).filter("_commit_version = 1")
    assert ch.count() == 25
    assert ch.filter("m IS NOT NULL").count() == 0


def test_manifest_interns_col_id_eras(spark, tdir):
    """VERDICT r12 'Next round' #8: manifests stay
    O(groups + eras×columns), not groups×columns — each group stores
    a col_era pointer into one interned id-map per schema era; read
    paths see plain col_ids via load-side expansion."""
    import json as _json

    wide = spark.range(0, 20).select(
        F.col("id").alias("k"),
        *[(F.col("id") + i).alias(f"c{i:03d}") for i in range(200)],
    )
    t = SifTable.create(spark, tdir, wide, key_col="k")
    for lo in (20, 40, 60, 80):
        t.append(
            spark.range(lo, lo + 20).select(
                F.col("id").alias("k"),
                *[(F.col("id") + i).alias(f"c{i:03d}") for i in range(200)],
            )
        )
    mdir = os.path.join(tdir, "_manifests")
    latest = sorted(os.listdir(mdir))[-1]
    with open(os.path.join(mdir, latest)) as fh:
        raw = _json.load(fh)
    # one era, five pointers, zero per-group maps on disk
    assert len(raw["col_id_eras"]) == 1
    assert all("col_ids" not in g for g in raw["groups"])
    assert [g["col_era"] for g in raw["groups"]] == [0] * 5
    # evolving append mints a SECOND era (new column id)
    t.append(
        spark.range(100, 120).select(
            F.col("id").alias("k"),
            *[(F.col("id") + i).alias(f"c{i:03d}") for i in range(200)],
            F.lit(1).alias("extra"),
        )
    )
    with open(os.path.join(mdir, sorted(os.listdir(mdir))[-1])) as fh:
        raw2 = _json.load(fh)
    assert len(raw2["col_id_eras"]) == 2
    # read paths unchanged: rename still maps every era by id
    t.rename_column("c007", "lucky")
    out = t.read()
    assert out.count() == 120
    assert out.filter("k = 5").collect()[0]["lucky"] == 12
    assert out.filter("k = 105").collect()[0]["extra"] == 1
    assert out.filter("k = 5").collect()[0]["extra"] is None
    # the 1k-group x 200-column size law, on the real (de)serializer
    from sif_spark.table import _expand_col_eras, _intern_col_eras

    ids = {f"c{i:03d}": i for i in range(200)}
    big = {
        "version": 1,
        "groups": [
            {"id": f"g-{i:010d}-000-abcdef00", "path": f"/x/{i}",
             "rows": 1, "col_ids": dict(ids)}
            for i in range(1000)
        ],
    }
    fat = len(_json.dumps(big))
    slim = len(_json.dumps(_intern_col_eras(big)))
    assert slim * 20 < fat, (slim, fat)
    # and the round-trip is exact
    back = _expand_col_eras(_json.loads(_json.dumps(_intern_col_eras(big))))
    assert all(g["col_ids"] == ids for g in back["groups"])


def test_legacy_unquoted_ddl_reads_and_next_manifest_quotes(spark, tdir):
    """Manifests written before names were backquoted record a column
    "a b" as ``k bigint, a b string``. Such a table still reads,
    appends, upserts and serves the sif_table DataSource, and the next
    commit records its DDL quoted."""
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import _ddl_fields

    assert _ddl_fields(
        "k bigint, a b string, `c,d` map<string,int>, "
        "d interval day to second, e string collate UTF8_LCASE"
    ) == [
        ("k", "bigint"), ("a b", "string"), ("c,d", "map<string,int>"),
        ("d", "interval day to second"), ("e", "string collate UTF8_LCASE"),
    ]

    # a type with a space in it keeps its name: interval columns read,
    # compact (which re-records the manifest DDL) and read again
    def ivs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.expr("make_dt_interval(0, 0, 0, id)").alias("d"),
            F.expr("make_ym_interval(0, cast(id as int))").alias("ym"),
        )

    t = SifTable.create(spark, tdir, ivs(0, 10), key_col="k")
    t.append(ivs(10, 15))
    assert t._load()["schema"] == (
        "k bigint, d interval day to second, ym interval year to month"
    )

    def got(df):  # a year-month interval does not collect to Python
        return sorted(df.select("k", "d", F.col("ym").cast("string")).collect())

    want = got(ivs(0, 15))
    assert got(t.read()) == want
    t.compact()
    assert got(t.read()) == want
    shutil.rmtree(tdir)

    def rows(lo, hi, val):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(val).alias("a b")
        )

    def unquote(node):
        if isinstance(node, dict):
            return {
                k: v.replace("`a b`", "a b") if k == "schema" else unquote(v)
                for k, v in node.items()
            }
        return [unquote(v) for v in node] if isinstance(node, list) else node

    def recorded():  # the newest manifest's DDL as written on disk
        with open(os.path.join(mdir, max(os.listdir(mdir)))) as fh:
            return json.load(fh)["schema"]

    t = SifTable.create(spark, tdir, rows(0, 20, "x"), key_col="k")
    t.append(rows(20, 30, "y"))
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            m = json.load(fh)
        with open(p, "w") as fh:
            json.dump(unquote(m), fh)
    t = SifTable(spark, tdir)
    assert recorded() == "k bigint, a b string"
    want = [(k, "x") for k in range(20)] + [(k, "y") for k in range(20, 30)]
    assert sorted(tuple(r) for r in t.read().collect()) == want
    register_table_source(spark)
    ds = spark.read.format("sif_table").option("path", tdir).load()
    assert ds.columns[:2] == ["k", "a b"]
    assert sorted(tuple(r)[:2] for r in ds.collect()) == want
    t.append(rows(30, 35, "z"))
    t.upsert(rows(0, 5, "u"))
    want = (
        [(k, "u") for k in range(5)] + want[5:]
        + [(k, "z") for k in range(30, 35)]
    )
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert recorded() == "k bigint, `a b` string"


def test_nested_struct_field_names_are_quoted(spark, tdir):
    """A struct column whose field name is not a plain identifier
    (``s.`a b```) records ``s struct<`a b`:bigint>``, so the table
    reads and appends after create. A manifest written before nested
    names were quoted (``s struct<a b:bigint>``) reads and appends
    again, and the next manifest records the quoted form."""
    from sif_spark.table import _ddl_fields

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.struct(F.col("id").alias("a b"), F.lit("v").alias("c")).alias("s"),
        )

    def got(df):
        return sorted((r["k"], r["s"]["a b"], r["s"]["c"]) for r in df.collect())

    mdir = os.path.join(tdir, "_manifests")

    def recorded():  # the newest manifest's DDL as written on disk
        with open(os.path.join(mdir, max(os.listdir(mdir)))) as fh:
            return json.load(fh)["schema"]

    t = SifTable.create(spark, tdir, rows(0, 10), key_col="k")
    quoted = "k bigint, s struct<`a b`:bigint,c:string>"
    assert recorded() == quoted
    assert _ddl_fields(quoted)[1] == ("s", "struct<`a b`:bigint,c:string>")
    assert got(t.read()) == [(k, k, "v") for k in range(10)]
    t.append(rows(10, 15))
    assert got(t.read()) == [(k, k, "v") for k in range(15)]

    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        with open(p) as fh:
            text = fh.read()
        with open(p, "w") as fh:
            fh.write(text.replace("`a b`", "a b"))
    assert recorded() == "k bigint, s struct<a b:bigint,c:string>"
    t = SifTable(spark, tdir)
    assert got(t.read()) == [(k, k, "v") for k in range(15)]
    t.append(rows(15, 20))
    assert got(t.read()) == [(k, k, "v") for k in range(20)]
    assert recorded() == quoted
