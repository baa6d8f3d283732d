"""Catalog entries for the snapshot table layer (sif_spark/table.py):
time travel across upsert/delete, schema evolution on read, and
compaction content-preservation — each oracle-gated by DuckDB
recomputing the per-version expected state straight from the source
parquet (the table's versions are pure functions of scale-free modular
key predicates, so one SQL text is correct at every sf).

Reference basis: go-sif has NO write path (SURVEY §2.1) — this is
north-star storage surface layered on the fault-injection-proven
commit contract of the epoch stores."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from sif_spark.queries_ext import _io_dir
from sif_spark.sources.parquet import read_table
from sif_spark.table import _parallel_jobs


def _fresh_dir(sf_dir: str, leaf: str) -> str:
    path = _io_dir(sf_dir, leaf)
    shutil.rmtree(path, ignore_errors=True)
    return path


def q158_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE → UPSERT → DELETE on a SifTable, then read ALL THREE
    snapshots (time travel) and aggregate each: v1 is 80% of documents,
    v2 upserts lang='zz' onto the %5==1 slice AND inserts the held-out
    20%, v3 deletes %10==7. The upsert exercises group rewrite + the
    old snapshot staying intact (upsert-then-read-old-snapshot, the
    VERDICT r9 ask); any torn/leaked row flips a version's row count,
    char sum, or zz count."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_tt")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    t = SifTable.create(
        spark, base, d.filter(F.col("doc_id") % 5 != 4), key_col="doc_id"
    )
    updates = d.filter((F.col("doc_id") % 5).isin(1, 4)).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 1, F.lit("zz")).otherwise(F.col("lang")).alias(
            "lang"
        ),
        "source",
        "n_chars",
    )
    t.upsert(updates)
    t.delete("doc_id % 10 = 7")

    outs = []
    for v in (1, 2, 3):
        outs.append(
            t.read(version=v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("sum_chars"),
                F.sum(F.when(F.col("lang") == "zz", 1).otherwise(0)).alias("n_zz"),
            )
            .select(F.lit(v).cast("int").alias("version"), "*")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("version")


ORACLE_Q158 = """
SELECT 1 AS version,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(0 AS BIGINT) AS n_zz
FROM documents WHERE doc_id % 5 != 4
UNION ALL
SELECT 2,
       CAST(count(*) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT),
       CAST(sum(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
UNION ALL
SELECT 3,
       CAST(count(*) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT),
       CAST(sum(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM documents WHERE doc_id % 10 != 7
ORDER BY version
"""


def q159_table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: v1 has (event_id, event_type); v2
    appends rows carrying a NEW hour column. The latest snapshot
    serves old rows with hour=NULL and new rows with real values — no
    file rewrite — while time travel to v1 serves the OLD two-column
    schema. The single-row aggregate cross-checks both snapshots."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_evo")
    e = read_table(spark, sf_dir, "events")
    t = SifTable.create(
        spark,
        base,
        e.filter(F.col("event_id") % 3 == 0).select("event_id", "event_type"),
        key_col="event_id",
    )
    t.append(
        e.filter(F.col("event_id") % 3 == 1).select(
            "event_id", "event_type", F.hour("ts").cast("long").alias("hour")
        )
    )
    # both snapshots in ONE aggregate over a tagged union — a 1×1
    # cross/constant-key join of the two aggregates would plan the
    # BNLJ the catalog-wide invariant forbids (Catalyst folds a
    # constant equi-key away); a union never joins at all
    latest = t.read().select(F.lit(0).alias("src"), "hour")
    v1 = t.read(version=1).select(
        F.lit(1).alias("src"), F.lit(None).cast("long").alias("hour")
    )
    u = latest.unionByName(v1)
    return u.agg(
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("n"),
        F.sum(
            F.when((F.col("src") == 0) & F.col("hour").isNull(), 1).otherwise(0)
        ).alias("n_hour_null"),
        F.sum(F.when(F.col("src") == 0, F.col("hour"))).alias("sum_hour"),
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("n_v1"),
    )


ORACLE_Q159 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hour_null,
       CAST(sum(CASE WHEN event_id % 3 = 1
                     THEN EXTRACT(hour FROM ts) END) AS BIGINT) AS sum_hour,
       (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0)
           AS n_v1
FROM events WHERE event_id % 3 IN (0, 1)
"""


def q160_table_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction content-preservation: five appends fragment the
    table into five groups; compact() rewrites them into ONE
    key-sorted group as a NEW snapshot (readers pinned on the
    fragmented version are untouched — pinned in tests/test_table.py).
    The aggregate must equal DuckDB's straight scan of the same rows:
    compaction may change layout, never content."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_compact")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = SifTable.create(spark, base, o.filter(F.col("o_orderkey") % 5 == 0),
                        key_col="o_orderkey")
    for r in range(1, 5):
        t.append(o.filter(F.col("o_orderkey") % 5 == r))
    v = t.compact(num_files=4)
    m = t._load(v)
    assert len(m["groups"]) == 1, "compaction must produce one group"
    return t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


ORACLE_Q160 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders
"""


def q169_stream_table_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest into the snapshot table with
    EXACTLY-ONCE semantics (streaming/stream.py stream_into_table):
    the bounded deterministic generator source (q52's LCG, 5
    micro-batches of 24 rows) foreachBatch-appends into a SifTable,
    each batch committing txn=(app_id, epoch) into the manifest; the
    entry then DELIBERATELY replays the last committed epoch — the
    crash-replay Structured Streaming performs after a failure — and
    the aggregate must still equal the oracle's 120-row LCG replay.
    Without the manifest's txn high-water the replay would double the
    last batch and flip every aggregate."""
    from sif_spark.sources.custom import register
    from sif_spark.streaming.stream import stream_into_table
    from sif_spark.table import SifTable

    register(spark)
    base = _fresh_dir(sf_dir, "table_stream")
    ckpt = _fresh_dir(sf_dir, "table_stream_ckpt")
    stream = (
        spark.readStream.format("sif_generator")
        .option("batch_size", 24)
        .option("seed", 42)
        .option("max_rows", 120)
        .load()
    )
    q = stream_into_table(stream, base, app_id="q169", checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    t = SifTable(spark, base)
    n = t.read().count()
    if n < 120:  # fail loudly, never flakily (the q52 discipline)
        raise TimeoutError(f"stream ingest drained only {n}/120 rows")
    # simulated crash-replay: re-commit the last epoch; must be a no-op
    last = t.last_txn_epoch("q169")
    assert last >= 1, f"expected multiple streamed epochs, saw {last}"
    t.append(t.read().limit(24), txn=("q169", last))
    return (
        t.read()
        .groupBy("col1")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("col1")
    )


ORACLE_Q169 = """
WITH rows AS (
  SELECT CAST(i AS BIGINT) AS id,
         CAST((((CAST(i AS HUGEINT) * 6364136223846793005
                 + 42 * CAST(1442695040888963407 AS HUGEINT))
                % CAST(18446744073709551616 AS HUGEINT)) // 8589934592) % 10 AS INT) AS col1
  FROM (SELECT unnest(range(120)) AS i)
)
SELECT col1, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(id) AS BIGINT) AS sum_id,
       MIN(id) AS min_id, MAX(id) AS max_id
FROM rows GROUP BY col1 ORDER BY col1
"""


def q170_table_bloom_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert into a key_bloom=True table whose groups INTERLEAVE on
    key parity — min/max ranges fully overlap, so only the per-group
    key Bloom filter (manifest-stored, auto-sized, opt-in like Delta's
    bloom indexes) can prove the odd-keys group untouched by the
    even-keys batch and carry it by reference. The gate checks
    CONTENT at every sf (a false positive may rewrite a group, never
    change rows); the structural skip itself is pinned at controlled
    sizes in tests/test_table.py."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_bloom")
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t = SifTable.create(
        spark,
        base,
        d.filter(F.col("doc_id") % 2 == 0),
        key_col="doc_id",
        key_bloom=True,
    )
    t.append(d.filter(F.col("doc_id") % 2 == 1))
    t.upsert(
        d.filter(F.col("doc_id") % 10 == 4).select(
            "doc_id",
            F.lit("yy").alias("lang"),
            (F.col("n_chars") + 1).alias("n_chars"),
        )
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.col("lang") == "yy", 1).otherwise(0)).alias("n_yy"),
    )


ORACLE_Q170 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 10 = 4 THEN n_chars + 1
                     ELSE n_chars END) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN doc_id % 10 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_yy
FROM documents
"""


def q175_table_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side data skipping (Delta-style): orders land in THREE
    groups bucketed by order year (≤1994 / 1995-1996 / ≥1997), so
    every group's manifest carries o_orderdate min/max; a
    read_between over mid-1995..mid-1996 must prune the first and
    third groups from the MANIFEST alone (asserted in-entry — the
    year buckets make the decision deterministic at every sf) and
    still return exactly the oracle's full-scan filter."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_skip")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    yr = F.year("o_orderdate")
    t = SifTable.create(spark, base, o.filter(yr <= 1994), key_col="o_orderkey")
    t.append(o.filter(yr.isin(1995, 1996)))
    t.append(o.filter(yr >= 1997))
    import datetime as _dt

    lo = _dt.datetime(1995, 6, 1)
    hi = _dt.datetime(1996, 6, 1)
    m = t._load()
    from sif_spark.table import _stat_bound, prune_groups

    kept = prune_groups(m, {"o_orderdate": (_stat_bound(lo), _stat_bound(hi))})
    assert len(kept) == 1, f"data skipping must keep 1 of 3 groups, kept {len(kept)}"
    return t.read_between("o_orderdate", lo, hi).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


ORACLE_Q175 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-06-01'
  AND o_orderdate <= TIMESTAMP '1996-06-01'
"""


def q176_table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed (SifTable.changes): after create(%3==0) /
    append(%3==1) / upsert(lang='cc' onto %5==0) / delete(%7==0), the
    feed after v1 must contain EXACTLY the appended rows and the
    upsert batch — replaced-row copies, deleted rows, and compaction
    rewrites never appear. Grouped by _commit_version so any leak
    lands in the wrong bucket and flips the hash."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_cdf")
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t = SifTable.create(
        spark, base, d.filter(F.col("doc_id") % 3 == 0), key_col="doc_id"
    )
    t.append(d.filter(F.col("doc_id") % 3 == 1))
    t.upsert(
        d.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", F.lit("cc").alias("lang"), "n_chars"
        )
    )
    t.delete("doc_id % 7 = 0")
    t.compact()
    return (
        t.changes(1)
        .groupBy("_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.when(F.col("lang") == "cc", 1).otherwise(0)).alias("n_cc"),
        )
        .orderBy("_commit_version")
    )


ORACLE_Q176 = """
SELECT 2 AS _commit_version,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(0 AS BIGINT) AS n_cc
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT 3,
       CAST(count(*) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM documents WHERE doc_id % 5 = 0
ORDER BY _commit_version
"""


def q177_table_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the table (`sif_table` custom streaming source,
    sources/table_stream.py): version offsets make each committed
    append one exactly-once micro-batch whose files are read by the
    EXECUTORS as Arrow batches (the driver only lists manifests). The
    stream starts after v1, so v2/v3's rows — tagged with their
    _commit_version — must be exactly the two appended event slices;
    a delete version mid-stream must deliver nothing."""
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import SifTable

    register_table_source(spark)
    base = _fresh_dir(sf_dir, "table_src")
    ckpt = _fresh_dir(sf_dir, "table_src_ckpt")
    e = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    t = SifTable.create(
        spark, base, e.filter(F.col("event_id") % 3 == 0), key_col="event_id"
    )
    t.append(e.filter(F.col("event_id") % 3 == 1))
    t.append(e.filter(F.col("event_id") % 3 == 2))
    t.delete("event_id % 11 = 3")  # a no-feed version mid-stream
    name = f"cat_table_src_{abs(hash(sf_dir)) % 10_000}"
    q = (
        spark.readStream.format("sif_table")
        .option("path", base)
        .option("starting_version", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_id"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("_commit_version")
    )


ORACLE_Q177 = """
SELECT 2 AS _commit_version,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_id,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events WHERE event_id % 3 = 1
UNION ALL
SELECT 3,
       CAST(count(*) AS BIGINT),
       CAST(sum(event_id) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT)
FROM events WHERE event_id % 3 = 2
ORDER BY _commit_version
"""


def q178_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view (sif_spark/mview.py): the orders
    table lands in three committed slices; the view
    ``revenue by custkey-bucket`` is maintained by FOLDING each
    slice's change feed into the view table (additive partials +
    txn-idempotent upsert merge — never a source re-scan). The final
    view must equal DuckDB's one-shot GROUP BY over all of orders; a
    dropped batch, a double-fold, or a leaked rewrite all flip the
    per-bucket sums."""
    from sif_spark.mview import incremental_aggregate_view
    from sif_spark.table import SifTable

    src_path = _fresh_dir(sf_dir, "mv_src")
    dst_path = _fresh_dir(sf_dir, "mv_dst")
    ckpt = _fresh_dir(sf_dir, "mv_ckpt")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("bucket"),
        "o_totalprice",
    )
    src = SifTable.create(
        spark, src_path, o.filter(F.col("o_orderkey") % 3 == 0),
        key_col="o_orderkey",
    )
    src.append(o.filter(F.col("o_orderkey") % 3 == 1))
    src.append(o.filter(F.col("o_orderkey") % 3 == 2))
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket",
        sums={
            "n": "1",
            "rev_cents": "CAST(ROUND(o_totalprice*100) AS BIGINT)",
        },
        checkpoint_dir=ckpt, app_id="q178",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return (
        SifTable(spark, dst_path)
        .read()
        .select("bucket", "n", "rev_cents")
        .orderBy("bucket")
    )


ORACLE_Q178 = """
SELECT o_custkey % 50 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS rev_cents
FROM orders
GROUP BY 1 ORDER BY bucket
"""


def q179_incremental_mv_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV over a MUTATING source (the r10 verdict's #2
    ask): the source table is created with cdf=True, receives an
    append, an UPSERT that replaces existing keys (+1.00 on every
    %5==0 order) and a DELETE (%7==0); the view folds the change-data
    feed with SIGNED partials — insert/update_postimage add,
    update_preimage/delete subtract — so it must equal DuckDB's
    one-shot GROUP BY over the FINAL table state. The r10 engine could
    only refuse this topology; a missed retraction, a double fold, or
    a leaked pre-image flips a bucket's sums."""
    from sif_spark.mview import incremental_aggregate_view
    from sif_spark.table import SifTable

    src_path = _fresh_dir(sf_dir, "mv_cdf_src")
    dst_path = _fresh_dir(sf_dir, "mv_cdf_dst")
    ckpt = _fresh_dir(sf_dir, "mv_cdf_ckpt")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("bucket"),
        "o_totalprice",
    )
    k = F.col("o_orderkey")
    src = SifTable.create(
        spark, src_path, o.filter(k % 3 == 0), key_col="o_orderkey",
        cdf=True,
    )
    src.append(o.filter(k % 3 == 1))
    src.upsert(
        o.filter(k % 5 == 0).select(
            "o_orderkey", "bucket",
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        )
    )
    src.delete("o_orderkey % 7 = 0")
    q = incremental_aggregate_view(
        spark, src_path, dst_path, key="bucket",
        sums={
            "n": "1",
            "rev_cents": "CAST(ROUND(o_totalprice*100) AS BIGINT)",
        },
        checkpoint_dir=ckpt, app_id="q179", cdf=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return (
        SifTable(spark, dst_path)
        .read()
        .filter(F.col("n") > 0)  # a fully-retracted bucket leaves a 0-row
        .select("bucket", "n", "rev_cents")
        .orderBy("bucket")
    )


ORACLE_Q179 = """
SELECT o_custkey % 50 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(
           (o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0 END)
           * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
WHERE (o_orderkey % 3 IN (0, 1) OR o_orderkey % 5 = 0)
  AND o_orderkey % 7 != 0
GROUP BY 1 ORDER BY bucket
"""


def q180_table_sql_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot table as a PLAIN SQL source (VERDICT r10 "Next
    round" #3): `spark.read.format("sif_table")` + a temp view, with
    the batch reader's pushFilters turning a vanilla WHERE into
    manifest-stats group pruning — no bespoke read_between call. The
    orders land in three year-ranged groups; the in-entry assert pins
    that the pushed [1995-06-01, 1996-06-01] bounds prune to ONE
    group's files (deterministic at every sf — the year split makes
    the ranges disjoint), and the aggregate must still equal DuckDB's
    full-scan filter (pruning is never the correctness input)."""
    from sif_spark.sources.table_stream import (
        _SifTableBatchReader,
        register_table_source,
    )
    from sif_spark.table import SifTable

    register_table_source(spark)
    base = _fresh_dir(sf_dir, "table_sqlpd")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    yr = F.year("o_orderdate")
    t = SifTable.create(spark, base, o.filter(yr <= 1994), key_col="o_orderkey")
    t.append(o.filter(yr.isin(1995, 1996)))
    t.append(o.filter(yr >= 1997))
    import datetime as _dt
    import os as _os

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from pyspark.sql.types import StructType

    # structural pin: the SAME pushdown the SQL below triggers, on the
    # reader object so the group-level decision is observable —
    # 3 year-disjoint groups must prune to exactly 1
    rd = _SifTableBatchReader(StructType([]), {"path": base, "pushdown": "true"})
    list(
        rd.pushFilters(
            [
                GreaterThanOrEqual(("o_orderdate",), _dt.datetime(1995, 6, 1)),
                LessThanOrEqual(("o_orderdate",), _dt.datetime(1996, 6, 1)),
            ]
        )
    )
    kept_groups = {_os.path.dirname(p.file_path) for p in rd.partitions()}
    assert len(kept_groups) == 1, (
        f"pushdown must prune 3 year groups to 1, kept {len(kept_groups)}"
    )
    name = f"sif_table_sqlpd_{abs(hash(sf_dir)) % 10_000}"
    (
        spark.read.format("sif_table")
        .option("path", base)
        .option("pushdown", "true")  # one load per filtered pattern
        .load()
        .createOrReplaceTempView(name)
    )
    return spark.sql(
        f"""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key
        FROM {name}
        WHERE o_orderdate >= TIMESTAMP '1995-06-01'
          AND o_orderdate <= TIMESTAMP '1996-06-01'
        """
    )


ORACLE_Q180 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-06-01'
  AND o_orderdate <= TIMESTAMP '1996-06-01'
"""


def q181_incremental_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index maintenance over the change feed (VERDICT r10 "Next
    round" #6): the embedding corpus is a SifTable built in three
    appends plus a RE-EMBEDDING upsert (%10==3 vectors negated); a
    streaming maintainer folds each committed version into an IVF
    index table — (nid, cell) keyed on nid, assignments against the
    centroids fitted ONCE on the day-1 slice, exactly-once via txn=.
    In-entry pins: a crash-replay of the last epoch is a committed
    no-op, and the incrementally-maintained assignment set EQUALS the
    rebuilt-from-scratch assignment of the final corpus (stronger than
    recall@k equality — identical assignments give identical recall at
    ANY n_probe). The returned kNN probes all cells (the q35
    discipline: full probe = exact, so DuckDB's exact-kNN SQL over the
    final corpus — negations applied — is a true oracle)."""
    from sif_spark.operators import similarity as sgsim
    from sif_spark.table import SifTable

    corpus_path = _fresh_dir(sf_dir, "ann_corpus")
    idx_path = _fresh_dir(sf_dir, "ann_idx")
    ckpt = _fresh_dir(sf_dir, "ann_ckpt")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k3 = F.col("vec_id") % 3
    corpus = SifTable.create(
        spark, corpus_path, emb.filter(k3 == 0), key_col="vec_id"
    )

    # centroids are fitted once, on the day-1 slice — the maintainer
    # never re-pays the fit (extend_ivf_index's contract, streaming).
    # NOTE: overlapping the fit with the ingest chain via
    # _parallel_jobs was measured (r14 A/B, both orderings) at +1.5 s
    # on this entry — the k-means fit's short action waves lose more
    # to core contention with the ingest writes than the overlap
    # saves — so the schedule stays serial here (q183 keeps its
    # 3-way overlap, where the extra PQ-training chain amortizes it).
    seed_index = sgsim.build_ivf_index(
        emb.filter(k3 == 0), n_cells=16, max_iter=2
    )
    corpus.append(emb.filter(k3 == 1))
    corpus.append(emb.filter(k3 == 2))
    corpus.upsert(
        emb.filter(F.col("vec_id") % 10 == 3).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    # 2 corpus versions per micro-batch (round 15, guide §4.1/VERDICT
    # r14 #1): the fold is version-associative — the per-fold window
    # dedup keeps each nid's LATEST image, so folding (v1,v2] then
    # (v3,v4] lands exactly the rows four per-version folds landed —
    # and each micro-batch costs a fixed JVM<->Python DSV2 planning
    # round-trip plus an upsert's action waves, so halving the batch
    # count halves the dominant fixed cost. Two batches keep the
    # multi-epoch txn pin below meaningful (epochs 0 and 1).
    q = sgsim.maintain_ivf_index_table(
        spark, corpus_path, idx_path, seed_index.centroids, ckpt,
        app_id="q181", max_versions_per_trigger=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    idx_table = SifTable(spark, idx_path)
    # crash-replay: re-committing the last epoch must be a no-op
    last = idx_table.last_txn_epoch("q181")
    assert last >= 1, f"expected multiple maintained epochs, saw {last}"
    v_before = idx_table._load()["version"]
    idx_table.upsert(idx_table.read().limit(5), txn=("q181", last))
    assert idx_table._load()["version"] == v_before, "replay must not commit"
    final_corpus = corpus.read()
    incr = idx_table.read().select("nid", "cell")
    fresh = sgsim.assign_cells(final_corpus, seed_index.centroids)
    # drift (both exceptAll directions) AND the corpus row count in
    # ONE tagged-union count job — each tag's count equals what its
    # separate action returned
    tag = lambda df, s: df.select(F.lit(s).alias("__t"))  # noqa: E731
    counts = {
        r["__t"]: r["count"]
        for r in tag(incr.exceptAll(fresh), "d")
        .unionAll(tag(fresh.exceptAll(incr), "d"))
        .unionAll(tag(final_corpus, "c"))
        .groupBy("__t")
        .count()
        .collect()
    }
    drift = counts.get("d", 0)
    assert drift == 0, f"incremental index drifted from rebuild: {drift} rows"
    index = sgsim.IVFIndex(
        seed_index.centroids, incr, vec_col="embedding",
        corpus_rows=int(counts.get("c", 0)),
    )
    queries = final_corpus.filter(F.col("vec_id") < 5)
    return sgsim.ivf_knn(
        final_corpus, queries, k=5, n_probe=16, index=index
    ).select("qid", "nid", "rank")


ORACLE_Q181 = """
WITH corpus AS (
  SELECT vec_id,
         CASE WHEN vec_id % 10 = 3
              THEN list_transform(embedding, x -> -x)
              ELSE embedding END AS embedding
  FROM embeddings
),
qs AS (SELECT vec_id AS qid, embedding AS qe FROM corpus WHERE vec_id < 5),
pairs AS (
  SELECT qid, c.vec_id AS nid, qe, c.embedding AS ne
  FROM qs, corpus c WHERE c.vec_id <> qs.qid
),
comps AS (
  SELECT qid, nid, unnest(qe) AS qv, unnest(ne) AS nv FROM pairs
),
sims AS (
  SELECT qid, nid,
         SUM(CAST(qv AS DOUBLE)*CAST(nv AS DOUBLE))
         / (sqrt(SUM(CAST(qv AS DOUBLE)*CAST(qv AS DOUBLE)))
            * sqrt(SUM(CAST(nv AS DOUBLE)*CAST(nv AS DOUBLE)))) AS sim
  FROM comps GROUP BY qid, nid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM sims
) WHERE rank <= 5
"""


def q182_table_sql_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the SQL surface: ``df.write.format(
    "sif_table")`` — executors stage Arrow batches straight to
    parquet (stats ride the commit messages), the driver-side commit
    moves them into a version-named group and publishes the manifest
    through the conditional-put log store. The entry creates the table
    with one DS write, appends a second slice with txn options, then
    REPLAYS the exact same txn write — the crash-replay a foreachBatch
    sink performs — which must be a committed no-op (version pinned
    in-entry). The aggregate over the DS-read-back table must equal
    DuckDB over all of orders; a doubled replay or a dropped slice
    flips every column."""
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import SifTable

    register_table_source(spark)
    base = _fresh_dir(sf_dir, "table_sqlwrite")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    k = F.col("o_orderkey")
    (
        o.filter(k % 2 == 0)
        .write.format("sif_table")
        .option("path", base)
        .option("key_col", "o_orderkey")
        .mode("append")
        .save()
    )
    second = (
        o.filter(k % 2 == 1)
        .write.format("sif_table")
        .option("path", base)
        .option("txn_app", "q182")
        .option("txn_epoch", "7")
    )
    second.mode("append").save()
    t = SifTable(spark, base)
    assert t._load()["version"] == 2
    # crash-replay of the same epoch: committed no-op, version pinned
    second.mode("append").save()
    assert t._load()["version"] == 2, "txn replay must not commit"
    r = spark.read.format("sif_table").option("path", base).load()
    return r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


ORACLE_Q182 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key,
       min(o_orderdate) AS min_date,
       max(o_orderdate) AS max_date
FROM orders
"""


def q183_incremental_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ artifact maintained incrementally (completing
    VERDICT r10 #6's 'assigned/encoded per batch'): the streaming
    maintainer folds each corpus version into a SifTable of
    (nid, cell, codes, gen) — nearest-centroid assignment AND PQ
    encoding, exactly-once via txn=, keyed replacement on the
    re-embedding upsert. Serving is q109's production shape at a
    FIXED budget — ADC prefilter to 200 candidates from the
    MAINTAINED codes, raw vectors join back for only that subset,
    exact cosine re-ranks top-5 — gated against the exact-kNN SQL.

    The fixed 200 is safe at ANY scale because the maintainer runs
    the serving-health refresh loop (VERDICT r11 "Next round" #1,
    replacing r11's max(200, n/10) corpus-fraction re-rank — the
    flagged wrong asymptote): whenever the corpus has grown 1.5×
    since the last probe, it measures exact-top-5 containment in the
    ADC top-100 (margin 0.5 × the protected budget) and, on a miss,
    re-trains with the code width ESCALATED (m 8→16 — the lever that
    measurably fixes the sf1 recall cliff: worst true-neighbor rank
    833 → 46, where a same-width retrain gives 1048) and publishes
    via an atomic overwrite. At gate scale the day-1 codebook holds
    the margin and no refresh fires; at sf1 the probe trips and the
    swap restores it — the SAME fixed-budget serving code passes
    both, which is the point. In-entry pins: the maintained rows
    EQUAL a from-scratch assignment+encode of the final corpus under
    the SERVED generation's meta."""
    from sif_spark.operators import similarity as sgsim
    from sif_spark.table import SifTable

    corpus_path = _fresh_dir(sf_dir, "pq_corpus")
    idx_path = _fresh_dir(sf_dir, "pq_idx")
    ckpt = _fresh_dir(sf_dir, "pq_ckpt")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k3 = F.col("vec_id") % 3
    day1 = emb.filter(k3 == 0)
    corpus = SifTable.create(
        spark, corpus_path, day1, key_col="vec_id"
    )

    # the IVF fit, the PQ training and the day-2/3 ingest chain all
    # read only the raw parquet slices — three independent job chains,
    # overlapped (guide §2.6); every side is seed-deterministic, so
    # centroids, codebook and corpus equal the serial schedule's
    def _ingest():
        corpus.append(emb.filter(k3 == 1))
        corpus.append(emb.filter(k3 == 2))
        corpus.upsert(
            emb.filter(F.col("vec_id") % 10 == 3).select(
                "vec_id",
                F.transform("embedding", lambda x: -x).alias("embedding"),
            )
        )

    seed_index, cb, _ = _parallel_jobs(
        lambda: sgsim.build_ivf_index(day1, n_cells=16, max_iter=2),
        lambda: sgsim.train_pq(day1, m=8, ksub=256, sample_rows=4096, iters=8),
        _ingest,
    )
    # 2 versions per micro-batch — same version-associative fold
    # argument as q181 (round 15): identical final index, half the
    # per-fold DSV2 round-trips and merge action waves
    q = sgsim.maintain_ivf_index_table(
        spark, corpus_path, idx_path, seed_index.centroids, ckpt,
        app_id="q183", max_versions_per_trigger=2, pq_codebook=cb,
        refresh_candidates=200, refresh_sample_rows=32768,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    idx_table = SifTable(spark, idx_path)
    final_corpus = corpus.read()
    meta, rows = sgsim.load_maintained_index(spark, idx_path)
    incr = rows.select("nid", "cell", "codes")
    fresh = sgsim.assign_cells(final_corpus, meta.centroids).join(
        sgsim.pq_encode(final_corpus, meta.codebook), "nid"
    )
    # both exceptAll directions counted in ONE job (the union's count
    # is exactly the sum the two separate count() actions returned)
    drift = incr.exceptAll(fresh).unionAll(fresh.exceptAll(incr)).count()
    assert drift == 0, f"incremental IVF-PQ drifted from rebuild: {drift}"
    queries = final_corpus.filter(F.col("vec_id") < 5)
    cand = (
        sgsim.pq_knn(
            incr.select("nid", "codes"), meta.codebook, queries, k=200
        )
        .select("nid")
        .distinct()
    )
    subset = final_corpus.join(
        cand, final_corpus.vec_id == cand.nid, "left_semi"
    )
    return sgsim.brute_force_knn(subset, queries, k=5).select(
        "qid", "nid", "rank"
    )


def q184_table_cdf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH half of the CDC feed (q179 gates the streaming half):
    a cdf=True table takes an append, a replacing UPSERT (%5==0 →
    lang='zz', n_chars+7) and a DELETE (%11==0); changes(0, cdf=True)
    grouped by (_commit_version, _change_type) must equal DuckDB's
    closed-form replay — pre-images carry OLD values, post-images and
    tombstones carry the CURRENT (post-upsert) values, inserts split
    exactly at key existence. Any leaked survivor copy, missed
    tombstone, or image mix-up lands in the wrong bucket."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_cdf_batch")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    k = F.col("doc_id")
    t = SifTable.create(
        spark, base, d.filter(k % 3 == 0), key_col="doc_id", cdf=True
    )
    t.append(d.filter(k % 3 == 1))
    t.upsert(
        d.filter(k % 5 == 0).select(
            "doc_id", F.lit("zz").alias("lang"),
            (F.col("n_chars") + 7).alias("n_chars"),
        )
    )
    t.delete("doc_id % 11 = 0")
    return (
        t.changes(0, cdf=True)
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.when(F.col("lang") == "zz", 1).otherwise(0)).alias(
                "n_zz"
            ),
        )
        .orderBy("_commit_version", "_change_type")
    )


# closed-form CDC replay: each branch aggregates the slice of
# documents the corresponding change class covers; empty branches are
# dropped (Spark's groupBy emits no group for them)
ORACLE_Q184 = """
WITH branches AS (
  SELECT 1 AS _commit_version, 'insert' AS _change_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(0 AS BIGINT) AS n_zz
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 2, 'insert', CAST(count(*) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT), CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT 3, 'insert', CAST(count(*) AS BIGINT),
         CAST(sum(n_chars + 7) AS BIGINT), CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 2
  UNION ALL
  SELECT 3, 'update_postimage', CAST(count(*) AS BIGINT),
         CAST(sum(n_chars + 7) AS BIGINT), CAST(count(*) AS BIGINT)
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 IN (0, 1)
  UNION ALL
  SELECT 3, 'update_preimage', CAST(count(*) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT), CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 IN (0, 1)
  UNION ALL
  SELECT 4, 'delete', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
                       ELSE n_chars END) AS BIGINT),
         CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
  WHERE doc_id % 11 = 0
    AND (doc_id % 3 IN (0, 1) OR doc_id % 5 = 0)
)
SELECT * FROM branches WHERE n > 0
ORDER BY _commit_version, _change_type
"""


def q185_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE (VERDICT r11 "Next round" #2 — the
    Debezium-style CDC-apply shape): a cdf=True table built from the
    %4!=3 documents slice takes ONE merge of an external change batch
    (the %6==0 slice, column-subset: no `source` column) that
    conditionally DELETES matched rows (t.doc_id % 30 = 0), updates a
    COLUMN SUBSET of the rest (lang + n_chars recomputed from BOTH
    sides, gated on s.n_chars % 2 = 0; `source` keeps its target
    value), and INSERTS the unmatched keys (their `source` surfaces
    NULL — the aligned column-subset contract). The oracle replays the
    exact ANSI MERGE semantics as a closed-form LEFT JOIN + CASE in
    DuckDB (1.0 has no MERGE statement). In-entry pins: the txn
    replay of the same merge is a committed no-op, and the change
    file's image counts balance the counters exactly."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_merge")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    t = SifTable.create(
        spark, base, d.filter(F.col("doc_id") % 4 != 3),
        key_col="doc_id", cdf=True,
    )
    cdc_batch = d.filter(F.col("doc_id") % 6 == 0).select(
        "doc_id",
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    v = t.merge(
        cdc_batch,
        when_matched_delete="t.doc_id % 30 = 0",
        when_matched_update={
            "lang": "s.lang",
            "n_chars": "t.n_chars + s.n_chars",
        },
        when_matched_update_condition="s.n_chars % 2 = 0",
        when_not_matched_insert=True,
        txn=("q185", 1),
    )
    # pin 1: crash-replay of the same epoch is a committed no-op
    v2 = t.merge(
        cdc_batch,
        when_matched_delete="true",
        txn=("q185", 1),
    )
    if (v, v2) != (2, 2) or t._versions()[-1] != 2:
        raise AssertionError(f"merge txn replay not a no-op: {v} {v2}")
    # pin 2: the change file's images balance the manifest counters
    m = t._load(2)
    by_type = {
        r["_change_type"]: r["n"]
        for r in t.changes(1, cdf=True)
        .groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if by_type.get("delete", 0) != m["deleted_rows"] or by_type.get(
        "update_postimage", 0
    ) != m["replaced_rows"] or by_type.get("update_preimage", 0) != m[
        "replaced_rows"
    ]:
        raise AssertionError(f"cdc images vs counters: {by_type} vs {m}")
    return (
        t.read()
        .groupBy((F.col("doc_id") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.when(F.col("lang") == "xx", 1).otherwise(0)).alias(
                "n_xx"
            ),
            F.sum(
                F.when(F.col("source").isNull(), 1).otherwise(0)
            ).alias("n_nosrc"),
        )
        .orderBy("bucket")
    )


# closed-form ANSI MERGE replay: matched+delete-cond rows vanish,
# matched+update-cond rows recompute lang/n_chars (source kept),
# other matched rows carry, unmatched source keys insert with NULL
# source (the column-subset alignment)
ORACLE_Q185 = """
WITH t AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 4 <> 3
), s AS (
  SELECT doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 6 = 0
), merged AS (
  SELECT t.doc_id,
         CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 = 0
              THEN s.lang ELSE t.lang END AS lang,
         t.source,
         CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 = 0
              THEN t.n_chars + s.n_chars ELSE t.n_chars END AS n_chars
  FROM t LEFT JOIN s ON t.doc_id = s.doc_id
  WHERE NOT (s.doc_id IS NOT NULL AND t.doc_id % 30 = 0)
  UNION ALL
  SELECT s.doc_id, s.lang, NULL AS source, s.n_chars
  FROM s LEFT JOIN t ON s.doc_id = t.doc_id
  WHERE t.doc_id IS NULL
)
SELECT doc_id % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN lang = 'xx' THEN 1 ELSE 0 END) AS BIGINT) AS n_xx,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nosrc
FROM merged
GROUP BY 1
ORDER BY 1
"""


def q186_table_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename + drop via stable column ids (VERDICT r11 "Next
    round" #3), read across a SEVEN-version, three-era history:
    era 1 (old names): create the %3!=2 documents slice + an upsert
    ('zz', +7 chars on %5==0) that materializes a change file under
    the OLD name; era 2: rename lang→language (metadata-only), append
    the %3==2 slice under the new name, then DROP `source`; era 3: an
    upsert ('yy', +1000 on %11==0) and an append of shifted-id rows
    that RE-ADDS `source` with a fresh column id. The final read must
    surface era-1 files under the new name, show NULL `source` for
    every pre-drop row (the old bytes may never resurface under the
    re-added id), and carry the re-added values for era-3 rows — all
    recomputed closed-form by DuckDB from the source parquet.
    In-entry pins: time travel keeps the OLD name; the CDC feed
    surfaces the era-1 change file's images under the NEW name; the
    rename and drop commits rewrote no data group; rename-collision /
    drop-merge-key raise typed errors."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_col_evo")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    k = F.col("doc_id")
    t = SifTable.create(
        spark, base, d.filter(k % 3 != 2), key_col="doc_id", cdf=True
    )
    t.upsert(
        d.filter((k % 5 == 0) & (k % 3 != 2)).select(
            "doc_id", F.lit("zz").alias("lang"), "source",
            (F.col("n_chars") + 7).alias("n_chars"),
        )
    )
    groups_v2 = {g["id"] for g in t._load(2)["groups"]}
    t.rename_column("lang", "language")                      # v3
    m3 = t._load(3)
    if {g["id"] for g in m3["groups"]} != groups_v2:
        raise AssertionError("rename rewrote data groups")
    t.append(
        d.filter(k % 3 == 2).select(
            "doc_id", F.col("lang").alias("language"), "source", "n_chars"
        )
    )                                                        # v4
    t.drop_column("source")                                  # v5
    t.upsert(
        d.filter(k % 11 == 0).select(
            "doc_id", F.lit("yy").alias("language"),
            (F.col("n_chars") + 1000).alias("n_chars"),
        )
    )                                                        # v6
    t.append(
        d.filter(k % 9 == 0).select(
            (k + 10000000).alias("doc_id"),
            F.lit("xx").alias("language"),
            (F.col("n_chars") + 3).alias("n_chars"),
            F.lit("new").alias("source"),
        )
    )                                                        # v7
    # pin: time travel keeps the old name; typed errors
    if "lang" not in t.read(version=2).columns:
        raise AssertionError("time travel lost the pre-rename name")
    # a feed pinned at the PRE-rename version keeps the old name...
    if "lang" not in t.changes(1, to_version=2, cdf=True).columns:
        raise AssertionError("pre-rename feed window lost the old name")
    # ...and the full-history feed surfaces the SAME era-1 change file
    # under the new name, values mapped (not just the header)
    ch = t.changes(1, cdf=True)
    if "language" not in ch.columns:
        raise AssertionError("CDC feed did not map the rename")
    post2 = ch.filter(
        "_change_type = 'update_postimage' AND _commit_version = 2"
    )
    # both pin counts in ONE aggregate job (same totals as the old
    # count() + filtered count() pair)
    prow = post2.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("language") == "zz", 1).otherwise(0)).alias(
            "n_zz"
        ),
    ).collect()[0]
    n_post = int(prow["n"])
    if n_post != t._load(2)["replaced_rows"]:
        raise AssertionError(f"cdc/counter imbalance: {n_post}")
    if int(prow["n_zz"] or 0) != n_post:
        raise AssertionError("era-1 images not mapped under new name")
    for fn in (
        lambda: t.rename_column("language", "n_chars"),
        lambda: t.drop_column("doc_id"),
    ):
        try:
            fn()
            raise AssertionError("schema guard did not raise")
        except ValueError:
            pass
    return (
        t.read()
        .groupBy((F.col("doc_id") % 6).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(
                F.when(F.col("language") == "zz", 1).otherwise(0)
            ).alias("n_zz"),
            F.sum(
                F.when(F.col("language") == "yy", 1).otherwise(0)
            ).alias("n_yy"),
            F.sum(
                F.when(F.col("source").isNull(), 1).otherwise(0)
            ).alias("n_nullsrc"),
        )
        .orderBy("bucket")
    )


# closed-form replay of the three eras: every original doc_id is
# present once (%3!=2 from create, %3==2 from the era-2 append), the
# %11 upsert wins over the %5 one (later version), `source` reads
# NULL for every pre-drop row, and the shifted-id era-3 rows carry
# the re-added source
ORACLE_Q186 = """
WITH final_state AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'yy'
              WHEN doc_id % 5 = 0 AND doc_id % 3 <> 2 THEN 'zz'
              ELSE lang END AS language,
         CASE WHEN doc_id % 11 = 0 THEN n_chars + 1000
              WHEN doc_id % 5 = 0 AND doc_id % 3 <> 2 THEN n_chars + 7
              ELSE n_chars END AS n_chars,
         CAST(NULL AS VARCHAR) AS source
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000, 'xx', n_chars + 3, 'new'
  FROM documents WHERE doc_id % 9 = 0
)
SELECT doc_id % 6 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN language = 'zz' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zz,
       CAST(sum(CASE WHEN language = 'yy' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_yy,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nullsrc
FROM final_state
GROUP BY 1
ORDER BY 1
"""


def q187_ann_refresh_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN refresh LIFECYCLE (VERDICT r11 "Next round" #1's
    machinery, pinned end to end): a maintained IVF index rides a
    corpus through (a) a same-distribution append — the staleness
    trigger must NOT fire — and (b) a genuine distribution shift
    (every vector re-embedded to embedding+2.5 per component, so the
    batch's mean squared assignment distance explodes past the
    anchor), which re-trains centroids on the CURRENT corpus and
    publishes rows+meta in ONE atomic overwrite. In-entry pins: gen
    stays 0 through the append and is 1 after the shift; the swapped
    rows equal a fresh assignment under the served generation's
    centroids; the pre-swap snapshot still reads as a coherent gen-0
    pair (snapshot isolation across the swap); a crash-replay of the
    refresh epoch's overwrite is a committed no-op. The returned kNN
    probes all cells (full probe = exact), so DuckDB's exact-kNN SQL
    over the shifted corpus is a true oracle."""
    from sif_spark.operators import similarity as sgsim
    from sif_spark.table import SifTable

    corpus_path = _fresh_dir(sf_dir, "refresh_corpus")
    idx_path = _fresh_dir(sf_dir, "refresh_idx")
    ckpt = _fresh_dir(sf_dir, "refresh_ckpt")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    corpus = SifTable.create(spark, corpus_path, day1, key_col="vec_id")
    # serial fit-then-append: overlapping the two via _parallel_jobs
    # was A/B'd flat-to-negative here (same contention as q181 — see
    # that entry's note), so the simpler serial schedule stays
    seed_index = sgsim.build_ivf_index(day1, n_cells=16, max_iter=2)
    corpus.append(emb.filter(F.col("vec_id") % 2 == 1))
    # Round 15 (guide §4.1 / VERDICT r14 #1): ONE maintainer stream
    # instance rides BOTH lifecycle phases — the maintainer is a
    # continuous query, so the mid-lifecycle pins run between
    # processAllAvailable() waits instead of paying a second stream's
    # cold Python-DSV2 source runner (~1.5-3 s fixed per QUERY,
    # measured). 2 versions per micro-batch: the create+append window
    # folds once (version-associative, q181's argument); the combined
    # same-distribution batch trips the staleness trigger exactly as
    # little as the per-version batches did (gen pin below).
    q = sgsim.maintain_ivf_index_table(
        spark, corpus_path, idx_path, seed_index.centroids, ckpt,
        app_id="q187", max_versions_per_trigger=2,
        refresh_staleness_ratio=2.0,
    )
    try:
        q.processAllAvailable()
        if sgsim._committed_gen(spark, idx_path) != 0:
            raise AssertionError(
                "refresh fired on a same-distribution append"
            )
        idx = SifTable(spark, idx_path)
        v_pre_swap = idx._load()["version"]
        # the drift event: every vector re-embedded (shifted)
        corpus.upsert(
            emb.select(
                "vec_id",
                F.transform("embedding", lambda x: x + 2.5)
                .cast("array<float>")
                .alias("embedding"),
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    meta, rows = sgsim.load_maintained_index(spark, idx_path)
    if meta.gen != 1:
        raise AssertionError(f"expected one refresh, gen={meta.gen}")
    final_corpus = corpus.read()
    fresh = sgsim.assign_cells(final_corpus, meta.centroids)
    got = rows.select("nid", "cell")
    # ALL four pin measurements in ONE tagged-union count job (each
    # tag's count equals what its separate action returned): 'd' =
    # both exceptAll drift directions, 'g' = mixed-generation rows
    # after the atomic swap, 'p' = non-gen-0 rows in the pre-swap
    # snapshot, 'c' = final corpus rows (the serving index size)
    tag = lambda df, s: df.select(F.lit(s).alias("__t"))  # noqa: E731
    counts = {
        r["__t"]: r["count"]
        for r in tag(got.exceptAll(fresh), "d")
        .unionAll(tag(fresh.exceptAll(got), "d"))
        .unionAll(tag(rows.filter("gen != 1"), "g"))
        .unionAll(tag(idx.read(version=v_pre_swap).filter("gen != 0"), "p"))
        .unionAll(tag(final_corpus, "c"))
        .groupBy("__t")
        .count()
        .collect()
    }
    if counts.get("g", 0):
        raise AssertionError("mixed generations after the atomic swap")
    if counts.get("d", 0):
        raise AssertionError(
            f"swapped index != fresh assignment: {counts.get('d', 0)}"
        )
    # snapshot isolation across the swap: the pre-swap version is a
    # coherent gen-0 pair
    if counts.get("p", 0):
        raise AssertionError("pre-swap snapshot not coherent gen 0")
    if sgsim.load_ann_meta(idx_path, 0).gen != 0:
        raise AssertionError("gen-0 meta lost")
    # crash-replay of the refresh epoch: committed no-op
    last = idx.last_txn_epoch("q187-refresh")
    v_now = idx._load()["version"]
    idx.overwrite(rows.limit(3), txn=("q187-refresh", last))
    if idx._load()["version"] != v_now:
        raise AssertionError("replayed refresh committed")
    queries = final_corpus.filter(F.col("vec_id") < 5)
    index = sgsim.IVFIndex(
        meta.centroids, rows.select("nid", "cell"), vec_col="embedding",
        corpus_rows=int(counts.get("c", 0)),
    )
    return sgsim.ivf_knn(
        final_corpus, queries, k=5, n_probe=16, index=index
    ).select("qid", "nid", "rank")


# exact kNN over the shifted corpus (every row re-embedded to
# embedding + 2.5 — cosine is NOT shift-invariant, so the shift is a
# real ranking change the oracle must reproduce)
ORACLE_Q187 = """
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x + 2.5 AS FLOAT)) AS embedding
  FROM embeddings
),
qs AS (SELECT vec_id AS qid, embedding AS qe FROM corpus WHERE vec_id < 5),
pairs AS (
  SELECT qid, c.vec_id AS nid, qe, c.embedding AS ne
  FROM qs, corpus c WHERE c.vec_id <> qs.qid
),
comps AS (
  SELECT qid, nid, unnest(qe) AS qv, unnest(ne) AS nv FROM pairs
),
sims AS (
  SELECT qid, nid,
         SUM(CAST(qv AS DOUBLE)*CAST(nv AS DOUBLE))
         / (sqrt(SUM(CAST(qv AS DOUBLE)*CAST(qv AS DOUBLE)))
            * sqrt(SUM(CAST(nv AS DOUBLE)*CAST(nv AS DOUBLE)))) AS sim
  FROM comps GROUP BY qid, nid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM sims
) WHERE rank <= 5
"""


TABLE_QUERIES = {
    "q158_table_time_travel": q158_table_time_travel,
    "q159_table_schema_evolution": q159_table_schema_evolution,
    "q160_table_compaction": q160_table_compaction,
}

TABLE_ORACLES = {
    "q158_table_time_travel": ORACLE_Q158,
    "q159_table_schema_evolution": ORACLE_Q159,
    "q160_table_compaction": ORACLE_Q160,
}


def q188_table_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class composite merge keys (VERDICT r12 "Next round" #1):
    a cdf=True table keyed on the REAL two-column business key
    (l_orderkey, l_linenumber) — never a derived hash, whose 64-bit
    chain silently folds distinct keys at ~n^2/2^65 (and
    deterministically on any null part: Spark's xxhash64 skips null
    columns). One merge applies an external CDC batch by the tuple:
    conditional delete (t.l_orderkey % 30 = 0), column-subset update
    (qty accumulated from both sides, flag overwritten; gated on
    s.l_linenumber % 2 = 0 — the key's second column steering the
    clause), and inserts for the unmatched tuples (their `status`
    surfaces NULL). Skipping runs per key COLUMN (range) plus the
    key-TUPLE bloom (key_bloom=True). The oracle replays ANSI MERGE
    as a closed-form LEFT JOIN + CASE on BOTH columns. In-entry pins:
    txn replay is a committed no-op; cdc image counts balance the
    manifest counters exactly."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_composite")
    # the synthetic lineitem is NOT unique on (l_orderkey,
    # l_linenumber) — canonicalize to one row per business tuple with
    # a deterministic GROUP BY (same SQL on the oracle side)
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
            F.max("l_returnflag").alias("flag"),
            F.max("l_linestatus").alias("status"),
        )
    )
    t = SifTable.create(
        spark, base, li.filter(F.col("l_orderkey") % 5 != 3),
        key_cols=["l_orderkey", "l_linenumber"], cdf=True, key_bloom=True,
    )
    cdc_batch = li.filter(F.col("l_orderkey") % 6 == 0).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("qty") + 100).alias("qty"),
        F.lit("Z").alias("flag"),
    )
    v = t.merge(
        cdc_batch,
        when_matched_delete="t.l_orderkey % 30 = 0",
        when_matched_update={"qty": "t.qty + s.qty", "flag": "s.flag"},
        when_matched_update_condition="s.l_linenumber % 2 = 0",
        when_not_matched_insert=True,
        txn=("q188", 1),
    )
    v2 = t.merge(cdc_batch, when_matched_delete="true", txn=("q188", 1))
    if (v, v2) != (2, 2) or t._versions()[-1] != 2:
        raise AssertionError(f"composite merge txn replay broke: {v} {v2}")
    m = t._load(2)
    by_type = {
        r["_change_type"]: r["n"]
        for r in t.changes(1, cdf=True)
        .groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if by_type.get("delete", 0) != m["deleted_rows"] or by_type.get(
        "update_postimage", 0
    ) != m["replaced_rows"] or by_type.get("update_preimage", 0) != m[
        "replaced_rows"
    ]:
        raise AssertionError(f"cdc images vs counters: {by_type} vs {m}")
    return (
        t.read()
        .groupBy((F.col("l_orderkey") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qty").alias("sum_qty"),
            F.sum(F.when(F.col("flag") == "Z", 1).otherwise(0)).alias(
                "n_z"
            ),
            F.sum(
                F.when(F.col("status").isNull(), 1).otherwise(0)
            ).alias("n_nostatus"),
        )
        .orderBy("bucket")
    )


# closed-form ANSI MERGE replay joined on BOTH key columns: matched +
# delete-cond rows vanish, matched + update-cond rows recompute
# qty/flag (status kept), other matched rows carry, unmatched source
# tuples insert with NULL status (the column-subset alignment)
ORACLE_Q188 = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         max(l_returnflag) AS flag, max(l_linestatus) AS status
  FROM lineitem GROUP BY 1, 2
), t AS (
  SELECT l_orderkey, l_linenumber, qty, flag, status
  FROM li WHERE l_orderkey % 5 <> 3
), s AS (
  SELECT l_orderkey, l_linenumber, qty + 100 AS qty, 'Z' AS flag
  FROM li WHERE l_orderkey % 6 = 0
), merged AS (
  SELECT t.l_orderkey,
         CASE WHEN s.l_orderkey IS NOT NULL AND s.l_linenumber % 2 = 0
              THEN t.qty + s.qty ELSE t.qty END AS qty,
         CASE WHEN s.l_orderkey IS NOT NULL AND s.l_linenumber % 2 = 0
              THEN s.flag ELSE t.flag END AS flag,
         t.status
  FROM t LEFT JOIN s
    ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
  WHERE NOT (s.l_orderkey IS NOT NULL AND t.l_orderkey % 30 = 0)
  UNION ALL
  SELECT s.l_orderkey, s.qty, s.flag, NULL AS status
  FROM s LEFT JOIN t
    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
  WHERE t.l_orderkey IS NULL
)
SELECT l_orderkey % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(CASE WHEN flag = 'Z' THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
       CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nostatus
FROM merged
GROUP BY 1
ORDER BY 1
"""


def q189_table_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors — merge-on-read deletes (VERDICT r12 "Next
    round" #2): a dv=True cdf table built from THREE full-keyrange
    document slices (every group overlaps every delete batch — range
    skipping cannot save copy-on-write here) takes TWO scattered
    delete_keys batches (doc_id % 97 = 0, then % 89 = 3, overlapping
    on 97*89 multiples). Each delete writes a (group id, key)
    tombstone sidecar + the full pre-image change file and REWRITES
    ZERO group files. In-entry pins: all group paths are unchanged
    across both deletes; the CDF tombstone counts balance the exact
    deleted_rows counters (the overlap counts once); time travel to
    the pre-delete snapshot still reads every row. Reads apply the
    sidecars as one broadcast anti-join. Oracle: the surviving rows
    are a pure predicate over the source parquet."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_dv")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = SifTable.create(
        spark, base, d.filter(F.col("doc_id") % 3 == 0),
        key_col="doc_id", dv=True, cdf=True,
    )
    t.append(d.filter(F.col("doc_id") % 3 == 1))
    t.append(d.filter(F.col("doc_id") % 3 == 2))       # v3: 3 groups
    paths_v3 = [g["path"] for g in t._load(3)["groups"]]
    n_v3 = t.read(version=3).count()
    v4 = t.delete_keys(d.filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    v5 = t.delete_keys(d.filter(F.col("doc_id") % 89 == 3).select("doc_id"))
    m5 = t._load(v5)
    # pin 1: ZERO group rewrites across both scattered deletes
    if [g["path"] for g in m5["groups"]] != paths_v3:
        raise AssertionError("dv delete rewrote a group file")
    # pin 2: CDF tombstones balance the exact counters (overlap once)
    d4, d5 = t._load(v4)["deleted_rows"], m5["deleted_rows"]
    tombs = (
        t.changes(3, to_version=v5, cdf=True)
        .filter("_change_type = 'delete'")
        .count()
    )
    if tombs != d4 + d5 or sum(g.get("dv_rows", 0) for g in m5["groups"]) != d4 + d5:
        raise AssertionError(f"tombstones {tombs} vs counters {d4}+{d5}")
    # pin 3: time travel to the pre-delete snapshot is intact
    if t.read(version=3).count() != n_v3:
        raise AssertionError("time travel broken by dv delete")
    return (
        t.read()
        .groupBy((F.col("doc_id") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("bucket")
    )


ORACLE_Q189 = """
SELECT doc_id % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 3
GROUP BY 1
ORDER BY 1
"""


def q190_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply — stream → MERGE per micro-batch, exactly
    once (VERDICT r12 "Next round" #7; streaming/stream.py
    merge_changes_into_table): a cdf=True SOURCE table takes a
    create (doc_id % 2 = 0) + an upsert (doc_id % 3 = 0 → lang='zz',
    n_chars+7) + a bulk keyed delete (doc_id % 5 = 0); the TARGET is
    created from the source's v1 snapshot, then the source's change
    feed streams in, each micro-batch folded to each key's FINAL
    image and applied as one conditional merge carrying
    txn=(app, epoch). (Round 15: the stream is uncapped — the backlog
    lands as ONE batch whose per-key fold applies the upsert+delete
    window exactly as the per-version batches did, at one merge's
    action waves instead of two; the fold is the version-associative
    piece that makes the coalescing sound.) In-entry pins: (1) the
    target's content equals the source's final snapshot row-for-row;
    (2) a FULL REPLAY of the stream from scratch (fresh checkpoint,
    same app_id — the deterministic offset plan re-fires the same
    epochs) leaves the target at the SAME version: every replayed
    merge lands as a committed no-op, the no-double-apply contract.
    Oracle: the closed-form final state of the three ops."""
    import shutil as _sh

    from sif_spark.streaming.stream import merge_changes_into_table
    from sif_spark.table import SifTable

    src_base = _fresh_dir(sf_dir, "cdc_apply_src")
    tgt_base = _fresh_dir(sf_dir, "cdc_apply_tgt")
    ckpt = _fresh_dir(sf_dir, "cdc_apply_ckpt")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    s = SifTable.create(
        spark, src_base, d.filter(F.col("doc_id") % 2 == 0),
        key_col="doc_id", cdf=True,
    )
    s.upsert(
        d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.lit("zz").alias("lang"),
            (F.col("n_chars") + 7).alias("n_chars"),
        )
    )
    s.delete_keys(d.filter(F.col("doc_id") % 5 == 0).select("doc_id"))
    SifTable.create(
        spark, tgt_base, s.read(version=1), key_col="doc_id"
    )

    def run_stream(ck):
        q = merge_changes_into_table(
            spark, src_base, tgt_base, app_id="q190",
            checkpoint_dir=ck, starting_version=1,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    run_stream(ckpt)
    t = SifTable(spark, tgt_base)
    v_done = t._versions()[-1]
    # pin 1: target content == source final snapshot, row for row —
    # both exceptAll directions counted in ONE job (the union's count
    # is exactly the sum the two separate count() actions returned)
    tr, sr = t.read(), s.read()
    if tr.exceptAll(sr).unionAll(sr.exceptAll(tr)).count():
        raise AssertionError("cdc-apply target diverged from source")
    # pin 2: full replay (fresh checkpoint, same deterministic epochs)
    # is a chain of committed no-ops — no double-apply
    ckpt2 = _fresh_dir(sf_dir, "cdc_apply_ckpt2")
    run_stream(ckpt2)
    _sh.rmtree(ckpt2, ignore_errors=True)
    if t._versions()[-1] != v_done:
        raise AssertionError(
            f"replayed stream re-applied: v{v_done} -> "
            f"v{t._versions()[-1]}"
        )
    return (
        t.read()
        .groupBy((F.col("doc_id") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(
                F.when(F.col("lang") == "zz", 1).otherwise(0)
            ).alias("n_zz"),
        )
        .orderBy("bucket")
    )


# closed-form final state: evens ∪ multiples of 3 (those get lang zz,
# n_chars+7), minus multiples of 5
ORACLE_Q190 = """
WITH final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'zz' ELSE lang END AS lang,
         CASE WHEN doc_id % 3 = 0 THEN n_chars + 7 ELSE n_chars END
           AS n_chars
  FROM documents
  WHERE (doc_id % 2 = 0 OR doc_id % 3 = 0) AND doc_id % 5 <> 0
)
SELECT doc_id % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN lang = 'zz' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zz
FROM final
GROUP BY 1
ORDER BY 1
"""


def q191_dv_erasure_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-only conditional MERGE on a deletion-vector table — the
    GDPR/CDC-erasure shape at scale: a dv=True cdf table built from
    three full-keyrange document slices takes ONE merge whose source
    is an erasure batch (op='D' for doc_id % 13 = 0, op='K'
    keep-markers for % 17 = 0, plus unmatched rows that INSERT). The
    matched op='D' rows become (group id, key) tombstones — ZERO
    group rewrites (pinned via unchanged paths); the op column steers
    the clause without ever becoming a table column
    (evolve_schema=False); the change file carries the tombstones AND
    the rider inserts. Oracle: closed-form predicate over the source
    parquet."""
    from sif_spark.table import SifTable

    base = _fresh_dir(sf_dir, "table_dv_merge")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = SifTable.create(
        spark, base, d.filter(F.col("doc_id") % 3 == 0),
        key_col="doc_id", dv=True, cdf=True,
    )
    t.append(d.filter(F.col("doc_id") % 3 == 1))
    t.append(d.filter(F.col("doc_id") % 3 == 2))
    paths = [g["path"] for g in t._load()["groups"]]
    erasure = d.filter(
        (F.col("doc_id") % 13 == 0) | (F.col("doc_id") % 17 == 0)
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, "D").otherwise("K").alias("op"),
    ).unionByName(
        # unmatched synthetic rows: insert path (doc_id beyond corpus)
        spark.range(5).select(
            (F.col("id") - 100).alias("doc_id"), F.lit("K").alias("op")
        )
    )
    v = t.merge(
        erasure,
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert={
            "doc_id": "s.doc_id", "lang": "'new'", "n_chars": "0"
        },
        when_not_matched_insert_condition="s.op <> 'D'",
        evolve_schema=False,
        txn=("q191", 1),
    )
    m = t._load(v)
    if [g["path"] for g in m["groups"][:3]] != paths:
        raise AssertionError("dv erasure merge rewrote a group file")
    if m["replaced_rows"] != 0:
        raise AssertionError("delete-only merge reported updates")
    tombs = (
        t.changes(v - 1, to_version=v, cdf=True)
        .groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by = {r["_change_type"]: r["n"] for r in tombs}
    if by.get("delete", 0) != m["deleted_rows"]:
        raise AssertionError(f"cdc tombstones vs counter: {by} vs {m}")
    return (
        t.read()
        .groupBy((F.pmod(F.col("doc_id"), F.lit(7))).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(
                F.when(F.col("lang") == "new", 1).otherwise(0)
            ).alias("n_new"),
        )
        .orderBy("bucket")
    )


# final state: documents minus %13==0, plus 5 synthetic inserts at
# doc_id -100..-96 (lang 'new', 0 chars)
ORACLE_Q191 = """
WITH final AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT CAST(i - 100 AS BIGINT) AS doc_id, 'new' AS lang, 0 AS n_chars
  FROM (SELECT unnest(range(5)) AS i)
)
SELECT ((doc_id % 7) + 7) % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN lang = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new
FROM final
GROUP BY 1
ORDER BY 1
"""
