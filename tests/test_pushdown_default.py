"""VERDICT r11 "Next round" #6 — pushdown-by-default investigation
for the batch `sif_table` DataSource, adjudicated.

Mechanism (reproduced in r11, re-pinned here): Spark 4.1's
`PythonDataSourceV2` keeps ONE mutable readInfo per RELATION
instance. A filtered query's planning calls pushFilters →
setReadInfo (pruned partition list); a later filter-less query on the
SAME DataFrame lineage never calls back into Python (no filters to
push) and replays the cached readInfo STALE — a full scan served the
pruned file list.

The proposed fix was a per-load() uniquifying option (nonce) so every
load() gets its own readInfo. The tests here show why that does NOT
make pruning safe to default-on:

1. Cross-load isolation needs no nonce — each `.load()` already
   builds a fresh DataSource instance with its own readInfo
   (test_fresh_loads_are_isolated_without_nonce).
2. The hazard is SAME-lineage reuse: one load(), a filtered count,
   then an unfiltered count. A nonce cannot split ONE relation into
   two, so the stale replay persists nonce or not
   (test_nonce_cannot_fix_same_lineage_reuse pins the wrong answer
   WITH a nonce option present).

Adjudication: pruning stays opt-in (`pushdown=true`, one load() per
filtered access pattern — docs/table.md); default mode absorbs no
bounds so the replayed cache is always a correct plan. A Python-side
fix is impossible (the stale replay never re-enters Python); the real
fix is upstream (per-scan readInfo keyed by the pushed-filter set).
These pins double as the upstream watchdog: when a Spark release
fixes the cache, test_nonce_cannot_fix_same_lineage_reuse FAILS and
the default can flip.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sif_spark.table import SifTable


def _table(spark, tdir):
    from sif_spark.sources.table_stream import register_table_source

    register_table_source(spark)
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = SifTable.create(spark, tdir, df.filter("k < 100"), key_col="k")
    t.append(df.filter("k >= 100 AND k < 200"))
    t.append(df.filter("k >= 200"))
    return t


def test_fresh_loads_are_isolated_without_nonce(spark, tdir):
    """Each load() builds a fresh PythonDataSourceV2 with its own
    readInfo: a pruned load never poisons a LATER separate load, with
    no nonce involved — the documented one-load-per-pattern contract
    needs nothing extra."""
    _table(spark, tdir)
    r1 = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    assert r1.filter("k >= 210 AND k <= 240").count() == 31
    r2 = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .load()
    )
    assert r2.count() == 300  # fresh relation: full snapshot


def test_nonce_cannot_fix_same_lineage_reuse(spark, tdir):
    """The nonce non-fix, pinned: with pruning on AND a unique nonce
    option on the load, a filtered count followed by an unfiltered
    count on the SAME lineage still replays the pruned readInfo — the
    nonce differentiates relations, but the hazard lives inside one
    relation. THIS TEST ASSERTS THE WRONG ANSWER on purpose: the day
    an upstream Spark fix lands, it fails, and pushdown can default
    on. (Default mode is immune — pinned next door in
    test_table.py::test_batch_datasource_default_mode_immune_to_readinfo_cache.)"""
    import uuid

    _table(spark, tdir)
    r = (
        spark.read.format("sif_table")
        .option("path", tdir)
        .option("pushdown", "true")
        .option("load_nonce", uuid.uuid4().hex)  # unknown options pass through
        .load()
    )
    assert r.filter("k >= 210 AND k <= 240").count() == 31  # prunes to 1 group
    stale = r.count()  # same lineage, no filter: replays the pruned plan
    assert stale == 100, (
        "same-lineage replay returned the full snapshot — upstream "
        "readInfo cache fixed? Re-adjudicate pushdown-by-default "
        f"(got {stale})"
    )
