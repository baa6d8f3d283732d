"""Extension catalog: oracle-checked entries for the operators that
round 1 covered only with pytest (VERDICT.md "Next round" #3).

Every §2 operator the reference ships — sources (DSV conf, decoder,
memory, custom DataSource, memorystream), SifFrame transforms (Group,
Repartition, RepartitionReduce, map_rows/IgnoreRowErrors, reduce_rows,
schema ops), terminators (Collect partition-limit, custom
accumulators), sinks (CSV, bucketed tables) and streaming — gets a
``(spark, sf_dir) → DataFrame`` entry here plus a DuckDB oracle, so the
driver's hash gate verifies it value-for-value instead of trusting unit
tests.

I/O-exercising entries (DSV round-trip, JSONL, bucketed tables) write
derived files under /tmp and read them back; the oracle computes the
same answer straight from the parquet views, so the gate proves the
write→read path preserves data exactly. Paths are keyed by scale factor
and overwritten idempotently.
"""

from __future__ import annotations

import contextlib
import gzip
import os
import time
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sif_spark.accumulators import PyAccumulator
from sif_spark.frame import SifFrame
from sif_spark.functions import cents, key_columns_portable
from sif_spark.sources.dsv import DSVConf, read_dsv, read_dsv_decoded
from sif_spark.sources.jsonl import read_jsonl
from sif_spark.sources.memory import from_rows, local_frame
from sif_spark.sources.parquet import read_table


def _io_dir(sf_dir: str, leaf: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/sif_catalog_io/{base}/{leaf}"


@contextlib.contextmanager
def _stream_partitions(spark: SparkSession, n: int = 4):
    """Size stateful-streaming shuffle partitions to the stream.

    A stateful query's fixed cost is per-partition state-store commits
    (fsync per partition per micro-batch, per join side) — with the
    global 32 shuffle partitions that overhead dominated every
    streaming catalog entry (measured 4× on the interval join). This is
    the streaming instance of the "size shuffle partitions to the
    data" rule; on a real cluster you size it to state volume instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column across the generator's
    timestamp encodings — long nanos (legacy nanosAsLong read) or
    tz-less µs (Spark 4 infers TIMESTAMP_NTZ) — to a plain UTC
    TimestampType. Batch reads get this from ``read_table``; the
    streaming entries build their own readers and must apply it too
    (callers already force the session zone to UTC, so the NTZ→LTZ
    cast reinterprets the naive value as the same UTC instant)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


# ---------------------------------------------------------------------------
# Sources: DSV conf / decoder / memory / custom DataSource
# ---------------------------------------------------------------------------

_SUPPLIER_CSV_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_nationkey", T.LongType()),
        T.StructField("acct_cents", T.LongType()),
    ]
)


def _supplier_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → (suppkey, nationkey, acct_cents with negatives as
    NULL) — the shape both DSV round-trips write out. The NULLs
    exercise the reference's NilValue parsing (dsv_utils.go:16-18)."""
    s = read_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.when(F.col("s_acctbal") >= 0, cents("s_acctbal")).alias("acct_cents"),
    )


_DSV_AGG_ORACLE = """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       COUNT(CASE WHEN s_acctbal >= 0 THEN 1 END) AS n_with_acct,
       CAST(SUM(CASE WHEN s_acctbal >= 0
                     THEN CAST(round(s_acctbal*100) AS BIGINT) END) AS BIGINT) AS acct_cents_sum
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def _dsv_aggregate(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.count("acct_cents").alias("n_with_acct"),
            F.sum("acct_cents").alias("acct_cents_sum"),
        )
        .orderBy("s_nationkey")
    )


def q36_dsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSV parser conf + CSV sink round-trip: write supplier as
    pipe-delimited CSV with header and an explicit NilValue marker,
    read it back through the reference-config DSV source
    (dsv_parser.go:11-17 {Delimiter, HeaderLines, NilValue}), and
    aggregate. The oracle computes the same aggregate straight from
    parquet — equality proves the sink→parse path loses nothing,
    including nulls."""
    out = _io_dir(sf_dir, "supplier_dsv")
    (
        _supplier_projection(spark, sf_dir)
        .write.mode("overwrite")
        .option("header", "true")
        .option("sep", "|")
        .option("nullValue", r"\N")
        .option("emptyValue", r"\N")
        .csv(out)
    )
    frame = read_dsv(
        spark,
        f"{out}/*.csv",
        _SUPPLIER_CSV_SCHEMA,
        DSVConf(delimiter="|", header_lines=1, nil_value=r"\N"),
    )
    return _dsv_aggregate(frame.df)


def q37_dsv_decoder_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file decoder pre-pass (reference DataSourceConf.Decoder,
    datasource/file/file_datasource.go:24-47): write the same supplier
    projection gzip-compressed, read via binaryFile → per-file
    gzip.decompress → DSV parse. Same oracle as q36."""
    out = _io_dir(sf_dir, "supplier_dsv_gz")
    (
        _supplier_projection(spark, sf_dir)
        .write.mode("overwrite")
        .option("header", "true")
        .option("sep", "|")
        .option("nullValue", r"\N")
        .option("emptyValue", r"\N")
        .option("compression", "gzip")
        .csv(out)
    )
    frame = read_dsv_decoded(
        spark,
        f"{out}/*.csv.gz",
        _SUPPLIER_CSV_SCHEMA,
        gzip.decompress,
        DSVConf(delimiter="|", header_lines=1, nil_value=r"\N"),
    )
    return _dsv_aggregate(frame.df)


def q38_memory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """memory.CreateDataFrame (memory_datasource.go:14-19): a static
    in-memory dimension (region growth factors) broadcast-joined onto
    parquet facts. The oracle inlines the same rows as VALUES."""
    lookup = from_rows(
        spark,
        [(0, 11), (1, 12), (2, 13), (3, 14), (4, 15)],
        "r_regionkey long, factor long",
        num_partitions=2,
    )
    n = read_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_regionkey", "r_regionkey"
    )
    c = read_table(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(lookup.df), "r_regionkey")
        .groupBy("r_regionkey", "factor")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents("c_acctbal") * F.col("factor")).alias("weighted_cents"),
        )
        .orderBy("r_regionkey")
    )


ORACLE_Q38 = """
WITH lookup(r_regionkey, factor) AS (VALUES (0, 11), (1, 12), (2, 13), (3, 14), (4, 15))
SELECT n.r_regionkey, factor,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT) * factor) AS BIGINT) AS weighted_cents
FROM customer c
JOIN (SELECT n_nationkey, n_regionkey AS r_regionkey FROM nation) n
  ON c.c_nationkey = n.n_nationkey
JOIN lookup USING (r_regionkey)
GROUP BY n.r_regionkey, factor
ORDER BY n.r_regionkey
"""


def q45_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PySpark DataSource (the reference's DataSource/
    PartitionLoader extension point, datasource.go:21-27): the
    deterministic LCG generator source read as a normal format. The
    oracle replays the LCG in HUGEINT arithmetic over range(1000) —
    every generated row is value-checked."""
    from sif_spark.sources.custom import register

    register(spark)
    return (
        spark.read.format("sif_generator")
        .option("rows", 1000)
        .option("partitions", 4)
        .option("seed", 42)
        .load()
        .orderBy("id")
    )


ORACLE_Q45 = """
SELECT CAST(i AS BIGINT) AS id,
       CAST((((CAST(i AS HUGEINT) * 6364136223846793005
               + 42 * CAST(1442695040888963407 AS HUGEINT))
              % CAST(18446744073709551616 AS HUGEINT)) // 8589934592) % 10 AS INT) AS col1
FROM (SELECT unnest(range(1000)) AS i)
ORDER BY id
"""


# ---------------------------------------------------------------------------
# SifFrame transforms: schema ops / Group / Repartition(Reduce) /
# map_rows / reduce_rows / KeyColumns
# ---------------------------------------------------------------------------

def q51_schema_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema-operator chain end-to-end: AddColumn →
    Map(fill) → RenameColumn → RemoveColumn → Filter
    (with_column.go/rename_column.go/remove_column.go). Catalyst
    collapses the whole chain into one pruned projection."""
    p = read_table(spark, sf_dir, "part")
    frame = (
        SifFrame(p)
        .add_column("price_cents", T.LongType())
        .with_column("price_cents", cents("p_retailprice"))
        .rename_column("p_brand", "brand")
        .remove_column("p_comment", "p_mfgr", "p_type")
        .filter(F.col("p_size") >= 25)
        .select("p_partkey", "brand", "p_size", "price_cents")
        .order_by("p_partkey")
    )
    return frame.df


ORACLE_Q51 = """
SELECT p_partkey, p_brand AS brand, p_size,
       CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
FROM part WHERE p_size >= 25 ORDER BY p_partkey
"""


def q39_group_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group (transform/group.go:9-23) feeding a keyed Reduce: the
    group's hash repartitioning co-locates equal keys, and Catalyst's
    exchange reuse means the downstream reduce re-uses that shuffle
    instead of adding one — the reference's group-then-reduce pattern
    with exactly one exchange."""
    c = read_table(spark, sf_dir, "customer")
    frame = (
        SifFrame(c)
        .group("c_nationkey")
        .reduce(
            ["c_nationkey"],
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents("c_acctbal")).alias("acct_cents"),
        )
        .order_by("c_nationkey")
    )
    return frame.df


ORACLE_Q39 = """
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acct_cents
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q40_repartition_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repartition + RepartitionReduce (repartition.go:10-24,
    repartition_reduce.go:10-25): explicit partition-count override on
    the reduce shuffle. With AQE on the override is a hint runtime
    coalescing may improve — exactly the right split of
    responsibilities at scale."""
    o = read_table(spark, sf_dir, "orders")
    frame = (
        SifFrame(o)
        .repartition(16)
        .repartition_reduce(
            8,
            ["o_orderpriority"],
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .order_by("o_orderpriority")
    )
    return frame.df


ORACLE_Q40 = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q41_map_rows_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque Map with per-row error tolerance (IgnoreRowErrors,
    internal/util/operation.go:10-27): the closure raises on parts with
    p_size = 50 (the rare top size — errors are exceptional by
    contract); those rows are dropped via bisection isolation, not the
    task. The oracle is the surviving-row set — equality proves exactly
    the failing rows (and only those) were discarded."""
    import numpy as np

    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")

    def to_cents(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["p_size"] >= 50).any():
            raise ValueError("oversize part")
        return pd.DataFrame(
            {
                "p_partkey": pdf["p_partkey"],
                "price_cents": np.round(pdf["p_retailprice"] * 100).astype("int64"),
            }
        )

    frame = SifFrame(p).map_rows(
        to_cents, "p_partkey long, price_cents long", ignore_row_errors=True
    )
    return frame.df.orderBy("p_partkey")


ORACLE_Q41 = """
SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
FROM part WHERE p_size < 50 ORDER BY p_partkey
"""


def q42_reduce_rows_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom ReductionOperation (the reference's arbitrary-merge
    escape hatch) via applyInPandas: per market segment, keep the
    top-10 customers by account balance (integer-cents ordering,
    custkey tie-break) and emit count + sum. The oracle replays it
    with a window."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", cents("c_acctbal").alias("acct_cents")
    )

    def top10(pdf: pd.DataFrame) -> pd.DataFrame:
        top = pdf.sort_values(
            ["acct_cents", "c_custkey"], ascending=[False, True]
        ).head(10)
        return pd.DataFrame(
            {
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "n_top": [len(top)],
                "top_cents": [int(top["acct_cents"].sum())],
            }
        )

    frame = SifFrame(c).reduce_rows(
        ["c_mktsegment"], top10, "c_mktsegment string, n_top long, top_cents long"
    )
    return frame.df.orderBy("c_mktsegment")


ORACLE_Q42 = """
SELECT c_mktsegment, COUNT(*) AS n_top,
       CAST(SUM(acct_cents) AS BIGINT) AS top_cents
FROM (
  SELECT c_mktsegment, acct_cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY acct_cents DESC, c_custkey) AS rn
  FROM (SELECT c_mktsegment, c_custkey,
               CAST(round(c_acctbal*100) AS BIGINT) AS acct_cents
        FROM customer)
) WHERE rn <= 10
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q44_key_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyColumns (reduce.go:112-128): compound shuffle key over named
    columns, in the portable hash60 form so DuckDB replays the exact
    key values. Emits per-shipmode distinct-key counts and the min/max
    key — verifying the key function value-for-value."""
    l = read_table(spark, sf_dir, "lineitem")
    keyed = l.select(
        "l_returnflag",
        key_columns_portable("l_orderkey", "l_linenumber").alias("k"),
    )
    return (
        keyed.groupBy("l_returnflag")
        .agg(
            F.countDistinct("k").alias("n_keys"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_Q44 = """
SELECT l_returnflag,
       COUNT(DISTINCT k) AS n_keys, MIN(k) AS min_key, MAX(k) AS max_key
FROM (
  SELECT l_returnflag,
         CAST(('0x' || substr(md5(concat_ws(chr(31),
              coalesce(CAST(l_orderkey AS VARCHAR), chr(0)),
              coalesce(CAST(l_linenumber AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT) AS k
  FROM lineitem
)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Terminators: Collect partition-limit / custom accumulator
# ---------------------------------------------------------------------------

def q43_collect_partition_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """util.Collect with a PARTITION limit (collect.go:68-84 — the
    reference limits collected partitions, not rows; SURVEY.md §7
    hard-part c). The frame is repartitioned to 3 partitions and
    collected with partition_limit=3 (full coverage), so the result is
    deterministic and the oracle is the underlying query; the
    subset-of-partitions case is inherently layout-dependent (exactly
    as in the reference, where it returns 'whichever partitions arrive
    first') and stays pytest-covered."""
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    rows = SifFrame(n).repartition(3, "n_regionkey").collect(partition_limit=3)
    out = local_frame(spark, n.schema, {c: [r[c] for r in rows] for c in n.columns})
    return out.orderBy("n_nationkey")


ORACLE_Q43 = """
SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
"""


def q47_custom_accumulator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PyAccumulator (reference extension point,
    accumulator.go:12-17): per-Arrow-batch fold into a dict state,
    commutative merge, driver-side finish — here a language histogram
    over documents. The tiny final state is re-lifted into a DataFrame
    so the oracle can hash it."""
    d = read_table(spark, sf_dir, "documents").select("lang")

    def fold(pdf: pd.DataFrame) -> dict:
        return pdf["lang"].value_counts().to_dict()

    def merge(a: dict, b: dict) -> dict:
        out = dict(a)
        for k, v in b.items():
            out[k] = out.get(k, 0) + v
        return out

    hist = SifFrame(d).accumulate(PyAccumulator(accumulate=fold, merge=merge, zero={}))
    langs = sorted(hist)
    return local_frame(
        spark,
        "lang string, n_docs long",
        {"lang": langs, "n_docs": [int(hist[lang]) for lang in langs]},
    )


ORACLE_Q47 = """
SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Sinks: bucketed tables
# ---------------------------------------------------------------------------

def q46_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + shuffle-elided join: orders and customer
    are written bucketed by the join key (8 buckets, sorted), then
    joined — the join reads co-located buckets and skips both shuffles
    (asserted plan-level in tests/test_plans.py). This is the
    amortize-one-shuffle-forever pattern for 100 TB fact tables. The
    oracle joins the parquet views directly."""
    base = _io_dir(sf_dir, "bucketed")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    SifFrame(o.withColumnRenamed("o_custkey", "custkey")).write_bucketed(
        "cat_orders_bkt", 8, ["custkey"], path=f"{base}/orders", sort_by=["custkey"]
    )
    SifFrame(c.withColumnRenamed("c_custkey", "custkey")).write_bucketed(
        "cat_customer_bkt", 8, ["custkey"], path=f"{base}/customer", sort_by=["custkey"]
    )
    joined = spark.table("cat_orders_bkt").join(spark.table("cat_customer_bkt"), "custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q46 = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# JSONL dotted paths (EDSM shape) + streaming
# ---------------------------------------------------------------------------

def q50_jsonl_dotted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dotted-path JSONL (the reference's gjson parser + EDSM workload,
    jsonl_utils.go:53-61, edsm_test.go:27-110): events are re-emitted
    as nested JSON lines {"id", "meta": {"type", "k"}}, read back with
    dotted paths ['id', 'meta.type', 'meta.k'] — flattened columns
    NAMED by path, nil for missing — and aggregated. Oracle from the
    original events table."""
    out = _io_dir(sf_dir, "events_jsonl")
    e = read_table(spark, sf_dir, "events")
    nested = e.select(
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.struct(
                    F.col("event_type").alias("type"),
                    F.get_json_object("props", "$.k").cast("long").alias("k"),
                ).alias("meta"),
            )
        ).alias("value")
    )
    nested.write.mode("overwrite").text(out)
    frame = read_jsonl(spark, f"{out}/*.txt", paths=["id", "meta.type", "meta.k"])
    df = frame.df
    return (
        df.groupBy(F.col("`meta.type`").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("`meta.k`").alias("k_sum"),
            F.countDistinct("id").alias("n_ids"),
        )
        .orderBy("event_type")
    )


ORACLE_Q50 = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(DISTINCT event_id) AS n_ids
FROM events
GROUP BY event_type ORDER BY event_type
"""


def q48_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end, oracle-checked: the events
    parquet is replayed as a file stream (availableNow trigger), the
    hourly tumbling aggregation runs in complete mode into a memory
    sink, and the settled sink contents are returned as a batch frame.
    Equality with the batch oracle is the streaming-vs-batch
    differential the reference only eyeballs
    (internal/test/integration/stream_test.go:43)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, "events.parquet")
    # The streaming file source requires a DIRECTORY; expose the single
    # testdata file through a symlinked stream dir (bytes untouched).
    stream_dir = _io_dir(sf_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw_schema = spark.read.parquet(path).schema
    stream = _normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(stream_dir)
    )
    agg = stream.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    name = f"cat_stream_hourly_{abs(hash(sf_dir)) % 10_000}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("hour", "event_type")


ORACLE_Q48 = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q52_memorystream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """memorystream.CreateDataFrame parity (memorystream_datasource_
    partitionloader.go:22-36): the custom DataSource's stream reader
    generates 12-row micro-batches with exactly-once offsets; the
    stream appends into a memory sink until the bounded generator
    (max_rows=120) drains, then the sink is aggregated as a batch
    frame. The oracle replays the LCG over range(120)."""
    from sif_spark.sources.custom import register

    register(spark)
    stream = (
        spark.readStream.format("sif_generator")
        .option("batch_size", 12)
        .option("seed", 42)
        .option("max_rows", 120)
        .load()
    )
    name = f"cat_memorystream_{abs(hash(sf_dir)) % 10_000}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        # blocks until the bounded generator drains and every batch is
        # committed — replaces the old 0.2s polling loop (VERDICT r8
        # "Next round" #9: the poll was a wall-clock floor, not a cost)
        q.processAllAvailable()
        n = spark.table(name).count()
        if n < 120:
            # fail LOUDLY — a partial frame would flip the gate
            # flakily on a loaded machine (ADVICE r2)
            raise TimeoutError(f"memorystream drained only {n}/120 rows")
    finally:
        q.stop()
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("col1")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("col1")
    )


ORACLE_Q52 = """
WITH rows AS (
  SELECT CAST(i AS BIGINT) AS id,
         CAST((((CAST(i AS HUGEINT) * 6364136223846793005
                 + 42 * CAST(1442695040888963407 AS HUGEINT))
                % CAST(18446744073709551616 AS HUGEINT)) // 8589934592) % 10 AS INT) AS col1
  FROM (SELECT unnest(range(120)) AS i)
)
SELECT col1, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
FROM rows GROUP BY col1 ORDER BY col1
"""


# ---------------------------------------------------------------------------
# Scenario pipelines (reference acceptance workloads)
# ---------------------------------------------------------------------------

def q49_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's NYC-taxi heatmap acceptance shape
    (internal/test/integration/nyc_taxi_test.go:30-226: bucket
    coordinates to a grid, reduce to per-cell counts): events bucketed
    to a (day-of-week × hour-of-day) grid with per-cell counts and
    exact-cents value totals. Emitted as grid rows — the relational
    form of the reference's HEATMAP custom column type."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).alias("cell_x"),  # 0=Sunday, matching DuckDB dow
            F.hour("ts").alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .orderBy("cell_x", "cell_y")
    )


ORACLE_Q49 = """
SELECT CAST(date_part('dow', ts) AS INT) AS cell_x,
       CAST(date_part('hour', ts) AS INT) AS cell_y,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q53_lsh_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH similar-pair search WITHOUT the broadcast-corpus assumption
    (similarity.lsh_similar_pairs) — the beyond-broadcast tier of q20.
    Catalog parameters (16 tables × 2 bits) give perfect recall at gate
    scale (verified vs the exact all-pairs), so q20's exact SQL is a
    true oracle; production narrows tables/bits for cost."""
    from sif_spark.operators.similarity import lsh_similar_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = lsh_similar_pairs(
        emb, "embedding", "vec_id", min_cosine=0.45, dim=64, bits=2, tables=16
    )
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


ORACLE_Q53 = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
),
c AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs),
s AS (
  SELECT id_a, id_b,
         SUM(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
         / (sqrt(SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
            * sqrt(SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)))) AS sim
  FROM c GROUP BY id_a, id_b
)
SELECT id_a, id_b FROM s WHERE sim >= 0.45 ORDER BY id_a, id_b
"""


def q54_multimodal_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline over REAL blobs: binaryFile-ingest the
    sf-dir's parquet files themselves as opaque media, then
    attach_metadata (sniffed format via magic bytes, size, content
    hash) → dedup_blobs → decode_features with the deterministic
    decoder (codecs are stubbed in this environment —
    multimodal.py:119's documented gate).

    The feature digest makes the DECODE path oracle-checkable: the
    stand-in decoder's 8×8 byte-mod-64 histogram sums to exactly the
    blob's byte count, and the 16 features are its row/col means, so
    round(4 × Σfeatures) == n_bytes. DuckDB recomputes n_bytes, the
    content hash (md5 of the lowercase hex of the bytes), and the magic
    sniff from the same files via read_blob — any corruption anywhere
    in ingest→hash→decode breaks equality.

    The oracle's SQL carries the driver's gate-scale path (read_blob
    needs a real path, not a registered view, and the driver runs the
    string verbatim at sf0.01); tools/check_oracle.py rewrites the
    path to the sweep's sf_dir, so the oracle is scale-parametric —
    no pinned SKIPs in the full-catalog sweep (round 9)."""
    from sif_spark.operators.multimodal import (
        attach_metadata,
        dedup_blobs,
        decode_features,
        fake_decoder,
    )

    blobs = (
        spark.read.format("binaryFile")
        .load(f"{sf_dir}/*.parquet")
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("fname"),
            F.col("content"),
        )
    )
    # The plan references the ingested blobs from three consumers
    # (metadata projection, dedup self-join, decode) — materialize the
    # scan+hash once instead of re-reading the files per consumer.
    meta = attach_metadata(blobs, "content").localCheckpoint(eager=False)
    deduped = dedup_blobs(meta, "content", "fname")
    feats = decode_features(deduped, "content", "fname", decoder=fake_decoder)
    digest = F.round(
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double")) * 4
    ).cast("long")
    return (
        deduped.select(
            "fname",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.md5(F.lower(F.hex("content"))).alias("content_md5"),
            F.col("meta.format").alias("format"),
        )
        .join(feats.select("fname", digest.alias("feature_digest")), "fname")
        .orderBy("fname")
    )


ORACLE_Q54 = """
SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
       octet_length(content) AS n_bytes,
       md5(lower(hex(content))) AS content_md5,
       CASE WHEN left(hex(content), 8) = '50415231' THEN 'parquet'
            ELSE 'unknown' END AS format,
       octet_length(content) AS feature_digest
FROM read_blob('/root/testdata/sf0.01/*.parquet')
ORDER BY fname
"""


def q55_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation: event_type is a deliberately
    hot grouping key (5 values over the whole table), so phase 1
    aggregates by (key, random salt) — spreading each hot key over 16
    shuffle buckets — and phase 2 re-aggregates the per-salt partials
    by key. Integer sums re-associate exactly, so the output is
    deterministic even though the salt is random, and the plain GROUP
    BY oracle verifies it. This is the hot-key pattern for 100 TB
    streams where one key dominates (functions.salted_key)."""
    from sif_spark.functions import salted_key

    e = read_table(spark, sf_dir, "events")
    phase1 = (
        e.withColumn("__salt", salted_key("event_type", buckets=16))
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(cents("value")).alias("pv"),
        )
    )
    return (
        phase1.groupBy("event_type")
        .agg(F.sum("pn").alias("n_events"), F.sum("pv").alias("value_cents"))
        .orderBy("event_type")
    )


ORACLE_Q55 = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


def q56_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one partitioned plan: lag / lead /
    first / last / percent_rank over each customer's orders (total
    order by price cents with orderkey tie-break — percent_rank is
    (rank-1)/(n-1), an exact integer division identical in both
    engines)."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", cents("o_totalprice").alias("price_cents")
    )
    w = Window.partitionBy("o_custkey").orderBy("price_cents", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "price_cents",
        F.lag("price_cents").over(w).alias("prev_cents"),
        F.lead("price_cents").over(w).alias("next_cents"),
        F.first("price_cents").over(wf).alias("min_cents"),
        F.last("price_cents").over(wf).alias("max_cents"),
        F.percent_rank().over(w).alias("pr"),
    )


ORACLE_Q56 = """
SELECT o_custkey, o_orderkey, price_cents,
       lag(price_cents) OVER w AS prev_cents,
       lead(price_cents) OVER w AS next_cents,
       first_value(price_cents) OVER w2 AS min_cents,
       last_value(price_cents) OVER w2 AS max_cents,
       percent_rank() OVER w AS pr
FROM (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY price_cents, o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY price_cents, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q57_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming session windows, oracle-checked: the events
    file stream aggregates per-user 30-minute-gap sessions via
    ``session_window`` (complete mode, availableNow) into a memory
    sink; the oracle rebuilds identical sessions with the batch
    gaps-and-islands idiom (lag + cumulative sum). This puts a real
    DuckDB differential on the streaming state machinery q14 covers
    only in batch form. (Verified: the dataset has no exact-boundary
    gaps, so the two formulations' boundary conventions coincide.)"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = _io_dir(sf_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw_schema = spark.read.parquet(path).schema
    stream = _normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(stream_dir)
    )
    agg = (
        stream.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )
    name = f"cat_stream_sessions_{abs(hash(sf_dir)) % 10_000}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("user_id", "session_start")


ORACLE_Q57 = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM ids GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q58_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth: write part as ORC (Spark's second
    bundled columnar format — vectorized reads, predicate pushdown),
    read it back with a filter, aggregate. The oracle computes the same
    answer from parquet — equality proves the ORC write→read path is
    lossless, the analogue of what q36 proves for DSV."""
    out = _io_dir(sf_dir, "part_orc")
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", cents("p_retailprice").alias("price_cents")
    )
    p.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("p_size") >= 20)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("price_cents").alias("price_cents_sum"),
        )
        .orderBy("p_brand")
    )


ORACLE_Q58 = """
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS price_cents_sum
FROM part WHERE p_size >= 20
GROUP BY p_brand ORDER BY p_brand
"""


def q59_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition pruning — the single
    biggest 100 TB lever: orders written partitioned by order year,
    then a one-year query reads ONLY that year's directory (pruning
    asserted plan-level in tests/test_plans.py::
    test_q59_reads_one_partition). The oracle filters the unpartitioned
    view — equality proves pruning loses no rows."""
    out = _io_dir(sf_dir, "orders_by_year")
    o = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    # idempotent build: static overwrite of the whole dataset
    o.write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_year") == 1997)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_Q59 = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE year(o_orderdate) = 1997
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q60_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rank-based percentiles without engine-specific quantile
    functions: per market segment, the p50 and p90 account balance
    (in cents) selected by the PERCENTILE_DISC rule — smallest value
    whose cumulative rank reaches ⌈p·n⌉. Pure integer rank arithmetic,
    identical in both engines; the partitioned window keeps the plan
    scale-safe."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", cents("c_acctbal").alias("acct_cents")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("acct_cents", "c_custkey")
    ranked = c.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment"))
    )

    def pick(p: float, alias: str) -> F.Column:
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("acct_cents"))
        ).alias(alias)

    return (
        ranked.groupBy("c_mktsegment")
        .agg(pick(0.5, "p50_cents"), pick(0.9, "p90_cents"))
        .orderBy("c_mktsegment")
    )


ORACLE_Q60 = """
WITH ranked AS (
  SELECT c_mktsegment, acct_cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY acct_cents, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM (SELECT c_mktsegment, c_custkey,
               CAST(round(c_acctbal*100) AS BIGINT) AS acct_cents
        FROM customer)
)
SELECT c_mktsegment,
       CAST(MIN(CASE WHEN rn >= ceil(0.5 * n) THEN acct_cents END) AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN rn >= ceil(0.9 * n) THEN acct_cents END) AS BIGINT) AS p90_cents
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q61_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling plumbing (multimodal.sample_frames — the
    FlatMap-shaped opaque op: 1 blob → N frame rows via Arrow batches),
    over real binaryFile blobs with the deterministic stand-in decoder
    (every 10th 256-byte chunk; codecs are stubbed in this
    environment). The oracle recomputes the frame count and total
    sampled bytes from each file's length in closed form — chunk
    arithmetic any corruption in the 1→N path would break.

    Like q54, the oracle's SQL carries the driver's gate-scale path
    (read_blob needs a real path, not a registered view);
    tools/check_oracle.py rewrites it to the sweep's sf_dir, so both
    entries run un-skipped at every scale (round 9)."""
    from sif_spark.operators.multimodal import fake_frame_decoder, sample_frames

    blobs = (
        spark.read.format("binaryFile")
        .load(f"{sf_dir}/*.parquet")
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("fname"),
            F.col("content"),
        )
    )
    frames = sample_frames(
        blobs, "content", "fname", every_n=10, frame_decoder=fake_frame_decoder
    )
    return (
        frames.groupBy("fname")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).cast("long").alias("frame_bytes"),
            F.min("frame_idx").cast("long").alias("first_idx"),
            F.max("frame_idx").cast("long").alias("last_idx"),
        )
        .orderBy("fname")
    )


ORACLE_Q61 = """
WITH f AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
         octet_length(content) AS n,
         CAST(ceil(octet_length(content) / 256.0) AS BIGINT) AS nc
  FROM read_blob('/root/testdata/sf0.01/*.parquet')
),
calc AS (
  SELECT fname, n, nc,
         ((nc - 1) // 10) + 1 AS k          -- frames = len(chunks[::10])
  FROM f WHERE n > 0
)
SELECT fname,
       k AS n_frames,
       -- every sampled chunk is 256 bytes except possibly the last one
       CAST(256 * (k - 1)
            + least(256, n - 256 * (10 * (k - 1))) AS BIGINT) AS frame_bytes,
       CAST(0 AS BIGINT) AS first_idx,
       CAST(k - 1 AS BIGINT) AS last_idx
FROM calc
ORDER BY fname
"""


def q62_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, oracle-checked: purchases and
    clicks (two streams over the events file) equi-join on user_id
    with clicks constrained to the hour before each purchase
    (streaming.interval_join — watermark-bounded state). INNER
    stream-stream joins emit matches eagerly — the watermark bounds
    STATE, not emission — so an availableNow replay produces the
    complete, deterministic pair set and the plain batch SQL join is an
    exact oracle. The reference cannot express any two-input operator,
    let alone a state-bounded streaming join (SURVEY.md §3.1)."""
    from sif_spark.streaming.stream import interval_join

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = _io_dir(sf_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw_schema = spark.read.parquet(path).schema

    def read_stream() -> DataFrame:
        return _normalize_event_ts(
            spark.readStream.schema(raw_schema).parquet(stream_dir)
        )

    # user_id < 50 keeps the state-store footprint proportionate for a
    # catalog entry (state writes dominate wall-clock on a single-batch
    # replay); the oracle applies the same cut. Semantics are identical
    # at any cardinality — the interval join is exercised end to end.
    purchases = (
        read_stream()
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 50))
        .select("event_id", "user_id", "ts")
    )
    clicks = (
        read_stream()
        .filter((F.col("event_type") == "click") & (F.col("user_id") < 50))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("cts"),
        )
    )
    joined = interval_join(
        purchases, clicks,
        keys=["user_id"], left_time="ts", right_time="cts",
        lower="interval 0 seconds", upper="interval 1 hour",
    ).select(purchases["event_id"], purchases["user_id"], F.col("click_id"))
    name = f"cat_stream_ijoin_{abs(hash(sf_dir)) % 10_000}"
    with _stream_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("event_id", "click_id")


ORACLE_Q62 = """
SELECT p.event_id, p.user_id, c.click_id
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id < 50) p
JOIN (SELECT event_id AS click_id, user_id, ts AS cts FROM events
      WHERE event_type = 'click' AND user_id < 50) c
  ON p.user_id = c.user_id
 AND c.cts >= p.ts - INTERVAL 1 HOUR
 AND c.cts <= p.ts
ORDER BY p.event_id, c.click_id
"""


def q63_lsh_knn_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-QUERY-SET tier of SRP-LSH kNN (q25's scale escape,
    VERDICT r2 "What's wrong" #1): ``broadcast_queries=False`` joins
    the bucketized corpus and query sides on the uniform (table,
    bucket) sketch key with NO forced broadcast — the strategy that
    survives a query set too large for the broadcast limit (the plan
    shape is pinned by tests/test_plans.py::test_lsh_knn_shuffle_tier
    with auto-broadcast disabled). 50 query vectors, 16 tables × 2
    bits: empirically perfect recall at both gate scales, so exact-kNN
    SQL is a true oracle."""
    from sif_spark.operators.similarity import lsh_knn

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return lsh_knn(
        emb, queries, k=5, dim=64, bits=2, tables=16, broadcast_queries=False
    ).select("qid", "nid", "rank")


ORACLE_Q63 = """
WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 50),
pairs AS (
  SELECT qid, e.vec_id AS nid, qe, e.embedding AS ne
  FROM qs, embeddings e WHERE e.vec_id <> qs.qid
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


def q64_asof_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12's as-of join in ``hot_key_bucket`` mode (operators/asof.py):
    the carry window partitions by (user_id, day) instead of (user_id),
    so a pathologically hot user spreads over #days tasks — the
    window-shaped skew escape AQE cannot provide (a window partition is
    atomic to AQE, unlike a join). Exact cross-bucket carry-in makes the
    result identical to q12, so DuckDB's ASOF JOIN is the oracle."""
    from sif_spark.operators.asof import asof_join as _asof

    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    joined = _asof(
        purchases, clicks, on=["user_id"], left_time="ts", right_time="ts",
        right_cols=["click_id"], hot_key_bucket="day",
    )
    return joined.select("event_id", "user_id", "click_id")


ORACLE_Q64 = """
SELECT p.event_id, p.user_id, c.click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click') c
ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q65_ivf_knn_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's IVF kNN through the LARGE-query tier
    (``broadcast_queries=False``, operators/similarity.py): probe cells
    are computed distributed via a GEMM against the broadcast centroid
    matrix — the query set is never collected to the driver — and
    candidates flow id-only through the cell equi-join. Full probing
    (n_probe = n_cells) makes IVF exact regardless of k-means training,
    so the exact-kNN SQL is a true oracle, here over a 50-query set."""
    from sif_spark.operators.similarity import ivf_knn

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return ivf_knn(
        emb, queries, k=5, n_cells=16, n_probe=16, max_iter=2,
        broadcast_queries=False,
    ).select("qid", "nid", "rank")


def q66_uint64_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the Uint64→Decimal(20,0) mapping (types.py:36;
    reference ``column_type.go:80-129``, SURVEY §1.2) with values ABOVE
    2^63 end-to-end: a Decimal(20,0) group key at 2^63+k and per-group
    sum/min/max/count over values descending from uint64-max
    (18446744073709551615 − o_orderkey). Spark widens the sum to
    decimal(31,0) and DuckDB to DECIMAL(38,0); the driver's hash is
    category-sensitive (decimal==decimal) and value-exact, so any
    wraparound, silent truncation to int64, or float rounding in the
    widened-decimal path fails the gate."""
    o = read_table(spark, sf_dir, "orders")
    u64_max = F.expr("CAST('18446744073709551615' AS DECIMAL(20,0))")
    two_63 = F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
    return (
        o.select(
            (two_63 + (F.col("o_custkey") % 5)).alias("u64_key"),
            (u64_max - F.col("o_orderkey")).alias("u64_val"),
        )
        .groupBy("u64_key")
        .agg(
            F.sum("u64_val").alias("sum_u64"),
            F.min("u64_val").alias("min_u64"),
            F.max("u64_val").alias("max_u64"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_Q66 = """
SELECT CAST('9223372036854775808' AS DECIMAL(20,0)) + (o_custkey % 5) AS u64_key,
       SUM(u64_val) AS sum_u64,
       MIN(u64_val) AS min_u64,
       MAX(u64_val) AS max_u64,
       COUNT(*) AS n
FROM (
  SELECT o_custkey,
         CAST('18446744073709551615' AS DECIMAL(20,0)) - o_orderkey AS u64_val
  FROM orders
) GROUP BY 1
"""


def q67_bf_knn_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-query EXACT brute-force kNN (VERDICT r3 #8): the tier
    for a query set past the broadcast limit when approximate recall
    (q63/q65) is unacceptable. ``query_chunks=4`` hash-splits the 50
    queries; each chunk is broadcast and GEMM-scanned in turn with
    partials eagerly materialized, so driver/executors hold one
    chunk's matrix at a time (operators/similarity.py). Bit-identical
    to the single-broadcast plan — exact-kNN SQL is the oracle."""
    from sif_spark.operators.similarity import brute_force_knn

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return brute_force_knn(emb, queries, k=5, query_chunks=4).select(
        "qid", "nid", "rank"
    )


def q68_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → connected components → survivors: the step a real dedup
    pipeline runs after pair generation (a~b, b~c ⇒ {a,b,c} must keep
    ONE doc). Edges are q13's exact n-gram Jaccard pairs; clustering is
    min-label propagation (`near_dup_clusters`, one shuffle per
    iteration — the formulation that survives billion-edge graphs).
    cluster_id = component-min doc id = the keep-min survivor. The
    oracle replays the edge SQL and closes it with a recursive CTE."""
    from sif_spark.operators.dedup import near_dup_clusters, ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.2, max_shingle_freq=100
    )
    return near_dup_clusters(pairs)


ORACLE_Q68 = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
ok AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 100),
shf AS (SELECT sh.doc_id, sh.gram FROM sh JOIN ok USING (gram)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shf a JOIN shf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
),
und AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT id_a, id_a FROM edges
  UNION SELECT id_b, id_b FROM edges
),
reach(s, d) AS (
  SELECT s, d FROM und
  UNION
  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
)
SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
"""


def q69_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus cleaning — the composed pipeline a training-
    data user actually runs, as one oracle-gated entry: quality filter
    (score ≥ 0.5) → language filter (heuristic id ≠ 'und') → exact
    dedup (keep-min per md5 fingerprint) → near-dup clustering over
    exact n-gram Jaccard pairs (drop non-survivors) → per-language doc
    counts + whitespace-token budget. Every stage is an
    already-oracle-gated operator (q17/q18/q08/q13/q68 fragments); the
    oracle replays the full composition, recursive closure included.
    All shuffles are the stages' own (hash-groupBys on fingerprints,
    inverted-index join, per-iteration label propagation) — composing
    them adds none. The deduped corpus is localCheckpoint-materialized
    once (referenced by the shingle pass AND the final anti-join+agg),
    and the shingle frame is built once and handed to the pair
    generator, so the composition scans/tokenizes each doc exactly once
    (VERDICT r4 "Next round" #1 — it used to re-normalize in
    exact_dedup and re-tokenize `kept` from scratch)."""
    from sif_spark.operators.dedup import (
        exact_dedup,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )
    from sif_spark.operators.text import (
        language_id,
        quality_score,
        shingle_hash_rows,
        token_count,
    )

    d = read_table(spark, sf_dir, "documents")
    filtered = d.filter(quality_score("text") >= 0.5).filter(
        language_id("text") != "und"
    )
    kept = exact_dedup(filtered, "text", "doc_id", persist=True).localCheckpoint(
        eager=False
    )
    sh = shingle_hash_rows(kept, "text", "doc_id", 3).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(
        kept, "text", "doc_id", k=3, threshold=0.2, max_shingle_freq=100,
        shingles_df=sh,
    )
    dupes = (
        near_dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    cleaned = kept.join(dupes, "doc_id", "left_anti")
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_Q69 = """
WITH RECURSIVE feat AS (
  SELECT doc_id, lang, text,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS wlow
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text, n_tok,
         CASE WHEN n_tok = 0 THEN 0.0 ELSE
           (CASE WHEN (CASE WHEN n_tok > 0 THEN n_alpha/n_tok ELSE 0.0 END) >= 3.0
                  AND (CASE WHEN n_tok > 0 THEN n_alpha/n_tok ELSE 0.0 END) <= 10.0
                 THEN 1.0 ELSE 0.5 END) * 0.4
           + (CASE WHEN n_chars > 0 THEN n_alpha/n_chars ELSE 0.0 END) * 0.4
           + least(n_chars/500.0, 1.0) * 0.2
         END AS q,
         len(list_filter(wlow, t -> t IN ('der','die','und','das','ist'))) AS s_de,
         len(list_filter(wlow, t -> t IN ('the','and','of','to','a'))) AS s_en,
         len(list_filter(wlow, t -> t IN ('el','la','los','que','de'))) AS s_es,
         len(list_filter(wlow, t -> t IN ('le','la','et','les','des'))) AS s_fr
  FROM feat
),
flt AS (
  SELECT doc_id, lang, text, CAST(n_tok AS BIGINT) AS n_tok FROM scored
  WHERE q >= 0.5
    AND (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
              WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
              WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
              WHEN s_fr > 0 THEN 'fr'
              ELSE 'und' END) <> 'und'
),
kept AS (
  SELECT f.doc_id, f.lang, f.text, f.n_tok FROM flt f
  JOIN (
    SELECT MIN(doc_id) AS doc_id
    FROM (SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
          FROM flt)
    GROUP BY fp
  ) s USING (doc_id)
),
ktoks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM kept
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM ktoks WHERE len(w) >= 3
  )
),
ok AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 100),
shf AS (SELECT sh.doc_id, sh.gram FROM sh JOIN ok USING (gram)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shf a JOIN shf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
),
und_e AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT id_a, id_a FROM edges
  UNION SELECT id_b, id_b FROM edges
),
reach(s, d) AS (
  SELECT s, d FROM und_e
  UNION
  SELECT r.s, u.d FROM reach r JOIN und_e u ON r.d = u.s
),
dupes AS (
  SELECT s AS doc_id FROM (SELECT s, MIN(d) AS m FROM reach GROUP BY s)
  WHERE s <> m
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
GROUP BY lang ORDER BY lang
"""


def q70_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET detection: exact shingle containment
    |A∩B| / min(|A|,|B|) ≥ 0.8 — the asymmetric companion to q13's
    Jaccard (a short doc embedded in a long one scores ~1.0 on
    containment but low on Jaccard). Same inverted-index plan, score
    is a single division of exact ints — bit-identical in DuckDB."""
    from sif_spark.operators.dedup import ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.8, max_shingle_freq=100,
        metric="containment",
    )


ORACLE_Q70 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
ok AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 100),
shf AS (SELECT sh.doc_id, sh.gram FROM sh JOIN ok USING (gram)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shf a JOIN shf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       inter / least(sa.sz, sb.sz) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / least(sa.sz, sb.sz) >= 0.8
"""


def q71_corpus_clean_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q69's cleaning pipeline with the near-dup edge set widened to
    include CONTAINMENT edges (|A∩B|/min ≥ 0.8): q69 drops near-dups
    by Jaccard only, so a short doc embedded in a long one (quotes,
    boilerplate — the q70 case) survives. Both metrics are scored in
    the SAME inverted-index pass over the shared shingle frame
    (VERDICT r4 "Next round" #6 — zero extra scans vs q69), and one
    cluster formation runs over the union edge set."""
    from sif_spark.operators.dedup import (
        exact_dedup,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )
    from sif_spark.operators.text import (
        language_id,
        quality_score,
        shingle_hash_rows,
        token_count,
    )

    d = read_table(spark, sf_dir, "documents")
    filtered = d.filter(quality_score("text") >= 0.5).filter(
        language_id("text") != "und"
    )
    kept = exact_dedup(filtered, "text", "doc_id", persist=True).localCheckpoint(
        eager=False
    )
    sh = shingle_hash_rows(kept, "text", "doc_id", 3).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(
        kept, "text", "doc_id", k=3, threshold=0.2, max_shingle_freq=100,
        shingles_df=sh, containment_threshold=0.8,
    )
    dupes = (
        near_dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    cleaned = kept.join(dupes, "doc_id", "left_anti")
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


# q69's oracle with the edge predicate widened by the containment term
# (everything else identical — same composition, same closure).
ORACLE_Q71 = ORACLE_Q69.replace(
    "WHERE inter / (sa.sz + sb.sz - inter) >= 0.2",
    "WHERE inter / (sa.sz + sb.sz - inter) >= 0.2\n"
    "     OR inter / least(sa.sz, sb.sz) >= 0.8",
)
assert ORACLE_Q71 != ORACLE_Q69


def q72_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (`chunk_documents`): overlapping
    token-window chunks (32 tokens, stride 24) — the training-sequence
    packing pre-pass. Pure expression plan (sequence → filter →
    posexplode → slice), zero shuffle, zero Python; the oracle replays
    the start-position arithmetic with range()/list_slice."""
    from sif_spark.operators.text import chunk_documents

    d = read_table(spark, sf_dir, "documents")
    return chunk_documents(d, "text", "doc_id", chunk_tokens=32, stride=24)


ORACLE_Q72 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
starts AS (
  SELECT doc_id, w, len(w) AS n, unnest(range(1, len(w) + 1, 24)) AS s
  FROM toks WHERE len(w) > 0
),
kept AS (
  SELECT doc_id, w, s,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT)
           AS chunk_idx
  FROM starts
  WHERE s = 1 OR s - 24 + 32 - 1 < n
)
SELECT doc_id, chunk_idx,
       CAST(len(list_slice(w, s, s + 31)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(w, s, s + 31), ' ') AS chunk_text
FROM kept
"""


def q73_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus budgets
    (`stratified_hash_sample`): keep a doc iff hash60(doc_id) mod 100
    falls under its language's percent — reproducible on any cluster
    size/partitioning (rng sampling is not), zero shuffle. The entry
    aggregates surviving docs per language; the oracle replays the md5
    bucket arithmetic exactly."""
    from sif_spark.operators.text import stratified_hash_sample, token_count

    d = read_table(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        d, "lang", {"en": 25, "de": 100, "fr": 50, "es": 50, "zh": 75}, "doc_id"
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_Q73 = """
WITH b AS (
  SELECT lang, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))
            AS BIGINT) AS total_tokens
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 100 WHEN 'fr' THEN 50
                         WHEN 'es' THEN 50 WHEN 'zh' THEN 75 ELSE 0 END
GROUP BY lang ORDER BY lang
"""


def q74_repetition_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/spam signal (`repetition_stats`): per-doc bigram
    repetition 1 − distinct/total, bucketed ×10 into a histogram. One
    shuffle (the per-doc gram agg shares the lead()-window's doc-id
    partitioning); the score is a bit-identical double formula tree in
    both engines (integer inputs, same op order)."""
    from sif_spark.operators.text import repetition_stats

    d = read_table(spark, sf_dir, "documents")
    stats = repetition_stats(d, "text", "doc_id", k=2)
    return (
        stats.groupBy(F.floor(F.col("repetition") * 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


ORACLE_Q74 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(w), 2)),
                               i -> w[i] || ' ' || w[i+1])) AS g
  FROM toks WHERE len(w) >= 2
),
stats AS (
  SELECT doc_id, COUNT(*) AS total_grams, COUNT(DISTINCT g) AS distinct_grams
  FROM grams GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
         CASE WHEN s.total_grams IS NULL OR s.total_grams = 0 THEN 0.0
              ELSE 1.0 - s.distinct_grams / s.total_grams END AS repetition
  FROM documents d LEFT JOIN stats s USING (doc_id)
)
SELECT CAST(floor(repetition * 10) AS BIGINT) AS bucket, COUNT(*) AS n_docs
FROM scored GROUP BY bucket ORDER BY bucket
"""


def q75_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keyword extraction (`distinctive_terms`): top-3
    most frequent terms per language excluding corpus-common terms
    (global document frequency > 80% of docs) and terms < 4 chars —
    the integer-exact stand-in for tf-idf (float idf wouldn't replay
    bit-identically across engines). One explode feeds both counts;
    the rank window partitions by language, never global."""
    from sif_spark.operators.text import distinctive_terms

    d = read_table(spark, sf_dir, "documents")
    return distinctive_terms(
        d, "text", "doc_id", "lang", top_k=3, max_df_frac=0.8, min_len=4
    )


ORACLE_Q75 = """
WITH total AS (SELECT COUNT(*) AS n FROM documents),
toks AS (
  SELECT DISTINCT doc_id, lang, term FROM (
    SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS term
    FROM documents
  ) WHERE length(term) >= 4
),
per AS (SELECT lang, term, COUNT(*) AS n_docs FROM toks GROUP BY 1, 2),
dfg AS (SELECT term, COUNT(*) AS df_ FROM toks GROUP BY 1),
rare AS (SELECT term FROM dfg, total WHERE df_ <= CAST(floor(0.8 * n) AS BIGINT)),
ranked AS (
  SELECT per.lang, per.term, per.n_docs,
         CAST(row_number() OVER (PARTITION BY per.lang
                                 ORDER BY per.n_docs DESC, per.term) AS INT)
           AS rank
  FROM per JOIN rare USING (term)
)
SELECT lang, term, n_docs, rank FROM ranked WHERE rank <= 3
"""


def q76_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`dedup.decontaminate`): flag corpus
    docs sharing >=1 distinct 4-gram shingle with a held-out eval set
    (the GPT-3/PaLM n-gram collision test). The eval set is carved
    deterministically (hash60(doc_id) mod 20 == 0 — ~5%); the corpus
    is the rest. The tiny benchmark shingle set is BROADCAST, so the
    100 TB side never shuffles for candidate generation — the only
    shuffle is the per-doc hit count, keyed by uniform doc id."""
    from sif_spark.operators.dedup import decontaminate
    from sif_spark.operators.text import hash60

    d = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(20))
    bench = d.filter(bucket == 0)
    corpus = d.filter(bucket != 0)
    return decontaminate(
        corpus, bench, "text", "doc_id", k=4, min_hits=1
    ).orderBy("doc_id")


ORACLE_Q76 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 2),
                               i -> array_to_string(list_slice(w, i, i + 3), ' ')))
           AS g
  FROM toks WHERE len(w) >= 4
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 20 AS bucket
  FROM documents
),
bench AS (
  SELECT DISTINCT g FROM grams JOIN b USING (doc_id) WHERE bucket = 0
)
SELECT grams.doc_id, COUNT(*) AS n_hits
FROM grams JOIN b USING (doc_id) JOIN bench USING (g)
WHERE b.bucket <> 0
GROUP BY grams.doc_id HAVING COUNT(*) >= 1 ORDER BY doc_id
"""


def q77_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (`text.redact_pii`): count + redact emails / IPv4
    / phone shapes. The synthetic corpus carries no PII, so the entry
    injects it deterministically from doc_id (every 3rd doc an email,
    5th an IP, 7th a phone) and the oracle replays the same injection
    — the regex literals are shared verbatim (RE2 ∩ Java dialect).
    Pure codegen expressions: zero Python, zero shuffle; the md5 of
    the redacted text proves replacement byte-parity."""
    from sif_spark.operators.text import redact_pii

    d = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(i % 3 == 0, F.concat(F.lit(" contact user"), s, F.lit("@example.com")))
            .otherwise(F.lit("")),
            F.when(i % 5 == 0, F.concat(F.lit(" host 10."), (i % 200).cast("string"), F.lit(".0.1")))
            .otherwise(F.lit("")),
            F.when(i % 7 == 0, F.concat(F.lit(" call 555-"), F.lpad((i % 1000).cast("string"), 3, "0"), F.lit("-0199")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(injected, "text").select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5(F.col("text")).alias("redacted_md5"),
    )


ORACLE_Q77 = """
WITH injected AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-0199'
              ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'),
         '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS redacted_md5
FROM injected
"""


def q78_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain blocklist (`text.extract_urls` +
    `domain_stats`): URLs injected deterministically (every 4th doc
    links site<doc_id mod 7>.example.com; every 6th links a blocked
    domain), extracted by a shared-dialect regex, exploded at scan
    parallelism, blocklist-filtered, and aggregated per domain — the
    URL-based curation step of a web-corpus pipeline."""
    from sif_spark.operators.text import domain_stats, extract_urls

    d = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                i % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (i % 7).cast("string"),
                    F.lit(".example.com/p/"),
                    i.cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(i % 6 == 0, F.lit(" ref https://blocked.example.com/x")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    urls = extract_urls(injected, "text", "doc_id")
    return domain_stats(urls, "doc_id", blocklist=["blocked.example.com"]).orderBy(
        "domain"
    )


ORACLE_Q78 = """
WITH injected AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 4 = 0
              THEN ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN ' ref https://blocked.example.com/x'
              ELSE '' END AS text
  FROM documents
),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS url
  FROM injected
),
dom AS (
  SELECT doc_id, url, regexp_extract(url, '^https?://([^/:?#]+)', 1) AS domain
  FROM urls
)
SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM dom WHERE domain <> 'blocked.example.com'
GROUP BY domain ORDER BY domain
"""


def q79_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (`timeseries.resample`): per
    event_type hourly buckets over the global span with EVERY empty
    bucket materialized and totals carried forward (LOCF). The dense
    grid is generated executor-side (distinct keys x sequence
    explode); the fill join keys on the uniform (key, bucket) pair;
    the carry-forward window partitions per key — never global.
    Buckets surface as epoch seconds so both engines compare exact
    integers, and totals are rounded to 4 decimals."""
    from sif_spark.operators.timeseries import resample

    e = read_table(spark, sf_dir, "events")
    dense = resample(e, "ts", "event_type", "value", 3600, fill="locf")
    return dense.select(
        F.col("key").alias("event_type"),
        F.unix_timestamp("bucket").cast("long").alias("bucket_s"),
        "n_events",
        F.round("total", 4).alias("total"),
    ).orderBy("event_type", "bucket_s")


ORACLE_Q79 = """
WITH b AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         value
  FROM events
),
per AS (
  SELECT key, bucket_s, COUNT(*) AS n_events, SUM(value) AS total
  FROM b GROUP BY 1, 2
),
span AS (SELECT min(bucket_s) AS lo, max(bucket_s) AS hi FROM b),
grid AS (
  SELECT k.key, g.bucket_s
  FROM (SELECT DISTINCT key FROM b) k
  CROSS JOIN (SELECT unnest(range(lo, hi + 1, 3600)) AS bucket_s FROM span) g
),
dense AS (
  SELECT grid.key, grid.bucket_s,
         COALESCE(per.n_events, 0) AS n_events, per.total
  FROM grid LEFT JOIN per USING (key, bucket_s)
)
SELECT key AS event_type, bucket_s, n_events,
       round(last_value(total IGNORE NULLS) OVER (
         PARTITION BY key ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS total
FROM dense ORDER BY event_type, bucket_s
"""


def q80_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (`text.pack_sequences`) over `chunk_documents`
    output: chunks → 8 independent hash-bucket streams → per-bucket
    cumsum window assigns each chunk a (bin_id, bin_offset) in
    256-token bins, then one agg summarizes bin fill. The only window
    is per-bucket (parallelism = bucket count, never global) and the
    assignment is partitioning-independent, so a repacked 100 TB
    corpus is bit-reproducible."""
    from sif_spark.operators.text import chunk_documents, pack_sequences

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, "text", "doc_id", chunk_tokens=32, stride=24)
    packed = pack_sequences(
        chunks, "doc_id", "chunk_idx", "n_tokens", target_tokens=256, buckets=8
    )
    return (
        packed.groupBy("bucket", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("bucket", "bin_id")
    )


ORACLE_Q80 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
starts AS (
  SELECT doc_id, w, len(w) AS n, unnest(range(1, len(w) + 1, 24)) AS s
  FROM toks WHERE len(w) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT)
           AS chunk_idx,
         CAST(len(list_slice(w, s, s + 31)) AS BIGINT) AS n_tokens
  FROM starts
  WHERE s = 1 OR s - 24 + 32 - 1 < n
),
packed AS (
  SELECT doc_id, chunk_idx, n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS bucket,
         SUM(n_tokens) OVER (
           PARTITION BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT) % 8
           ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chunks
)
SELECT bucket, CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS bin_id,
       COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM packed GROUP BY 1, 2 ORDER BY bucket, bin_id
"""


def q81_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (`text.weighted_sample`): 5 docs
    per language, inclusion probability proportional to n_chars — the
    Efraimidis–Spirakis priority `-ln(u)/w` with the random draw
    replaced by the portable 60-bit id hash, so the sample is a pure
    function of the data (reproducible on any cluster size /
    partitioning / engine). The rank window partitions per language,
    never globally."""
    from sif_spark.operators.text import weighted_sample

    d = read_table(spark, sf_dir, "documents")
    return weighted_sample(d, "n_chars", 5, ["lang"], "doc_id").select(
        "lang", "doc_id", "n_chars"
    ).orderBy("lang", "doc_id")


ORACLE_Q81 = """
WITH prio AS (
  SELECT lang, doc_id, n_chars,
         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846976.0) / n_chars AS p
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY p, doc_id) AS rk
  FROM prio
)
SELECT lang, doc_id, n_chars FROM ranked WHERE rk <= 5 ORDER BY lang, doc_id
"""


def q82_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters (`sketch.heavy_hitters`): top-10
    tokens WITHOUT shuffling the key universe — per-partition
    Misra-Gries candidates (512 Arrow-batched counters) → broadcast
    semi-join → exact recount of candidates only. Capacity puts the
    guarantee bar at N/512 ≈ 0.2% of tokens while the 10th token holds
    >2% (Zipfian corpus), so the result is exact and
    partitioning-independent — the plain SQL top-k is a true oracle."""
    from sif_spark.operators.sketch import heavy_hitters
    from sif_spark.operators.text import tokenize

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize("text")).alias("token"))
    return heavy_hitters(toks, "token", k=10, capacity=512)


ORACLE_Q82 = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
    AS token
  FROM documents
)
SELECT token, COUNT(*) AS cnt FROM toks
GROUP BY token ORDER BY cnt DESC, token LIMIT 10
"""


def q83_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (`dedup.exact_dedup_incremental`):
    docs with id < 250 play the persisted historical corpus (their
    fingerprint store), the rest arrive as tonight's batch; batch rows
    whose content already exists in history are dropped by a skew-free
    anti-join on the md5 key, then the batch dedups within itself.
    The shape that avoids re-scanning 100 TB of history every night."""
    from sif_spark.operators.dedup import exact_dedup_incremental
    from sif_spark.operators.text import fingerprint_md5

    d = read_table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 250).select(
        fingerprint_md5("text").alias("fingerprint")
    )
    batch = d.filter(F.col("doc_id") >= 250)
    return exact_dedup_incremental(batch, history).select(
        "doc_id", "fingerprint"
    ).orderBy("doc_id")


ORACLE_Q83 = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
),
hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
fresh AS (
  SELECT * FROM fp WHERE doc_id >= 250
    AND fingerprint NOT IN (SELECT fingerprint FROM hist)
)
SELECT MIN(doc_id) AS doc_id, fingerprint
FROM fresh GROUP BY fingerprint ORDER BY doc_id
"""


def q84_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best survivor selection (`dedup.cluster_survivors`): q68's
    near-dup components, but each cluster keeps its HIGHEST
    quality-score member (tie → smaller id) instead of the min id —
    the production choice when near-dups differ by noise. The per-
    cluster window sees only component members (tiny), and the quality
    formula is the same bit-identical double tree both engines share
    since q17."""
    from sif_spark.operators.dedup import (
        cluster_survivors,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )
    from sif_spark.operators.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.2, max_shingle_freq=100
    )
    clusters = near_dup_clusters(pairs)
    survivors = cluster_survivors(clusters, d, quality_score("text"))
    return survivors.select("cluster_id", "doc_id", "n_members").orderBy(
        "cluster_id"
    )


ORACLE_Q84 = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
ok AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 100),
shf AS (SELECT sh.doc_id, sh.gram FROM sh JOIN ok USING (gram)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shf a JOIN shf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
),
und AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT id_a, id_a FROM edges
  UNION SELECT id_b, id_b FROM edges
),
reach(s, d) AS (
  SELECT s, d FROM und
  UNION
  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
),
clusters AS (SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s),
q AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           AS n_alpha
  FROM documents
),
scored AS (
  SELECT doc_id,
         CASE WHEN n_tok = 0 THEN 0.0 ELSE
           (CASE WHEN (CASE WHEN n_tok > 0 THEN n_alpha/n_tok ELSE 0.0 END) >= 3.0
                  AND (CASE WHEN n_tok > 0 THEN n_alpha/n_tok ELSE 0.0 END) <= 10.0
                 THEN 1.0 ELSE 0.5 END) * 0.4
           + (CASE WHEN n_chars > 0 THEN n_alpha/n_chars ELSE 0.0 END) * 0.4
           + least(n_chars/500.0, 1.0) * 0.2
         END AS score
  FROM q
),
ranked AS (
  SELECT c.cluster_id, c.doc_id,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.score DESC, c.doc_id) AS rk
  FROM clusters c JOIN scored s USING (doc_id)
)
SELECT cluster_id, doc_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rk = 1 ORDER BY cluster_id
"""


def q85_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (`dedup.minhash_dedup_incremental`):
    docs with id < 250 play the historical corpus, persisted as their
    MinHash signature store (32 portable hashes — the nightly run
    re-reads 32 longs per historical doc, never its text); the rest
    arrive as tonight's batch. Batch docs whose estimated Jaccard vs
    ANY historical doc reaches 0.5 (band collision → signature verify)
    are dropped, then verified within-batch pairs drop their greater
    id. The oracle replays signatures, banding, both verification
    passes, and the survivor rule exactly."""
    from sif_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )
    from sif_spark.queries import MINHASH_NUM_BANDS, MINHASH_NUM_HASHES

    assert (MINHASH_NUM_HASHES, MINHASH_NUM_BANDS) == (_Q85_HASHES, _Q85_BANDS)
    d = read_table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 250)
    batch = d.filter(F.col("doc_id") >= 250)
    hist_sigs = minhash_signatures(
        history, "text", "doc_id", MINHASH_NUM_HASHES, 3, hash_fn="md5"
    )
    out = minhash_dedup_incremental(
        batch,
        hist_sigs,
        "text",
        "doc_id",
        num_hashes=MINHASH_NUM_HASHES,
        num_bands=MINHASH_NUM_BANDS,
        threshold=0.5,
        hash_fn="md5",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


# Mirrors queries.MINHASH_NUM_HASHES / MINHASH_NUM_BANDS (asserted
# equal inside q85) — not imported at module level because queries.py
# imports this module at its tail, and a top-level back-import would
# make the init order queries_ext-first → ImportError.
_Q85_HASHES = 32
_Q85_BANDS = 8

ORACLE_Q85 = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
based AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483647 AS base
  FROM sh
),
sig AS (
  SELECT doc_id, j,
         MIN((((j * 2654435761 + 1) % 2147483647) * base
              + ((j * 40503 + 7) % 2147483647)) % 2147483647) AS h
  FROM based CROSS JOIN (SELECT unnest(range({_Q85_HASHES})) AS j) js
  GROUP BY doc_id, j
),
bandsig AS (
  SELECT doc_id, CAST(j // {_Q85_HASHES // _Q85_BANDS} AS INT) AS band,
         list(h ORDER BY j) AS bsig
  FROM sig GROUP BY 1, 2
),
cross_cand AS (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM bandsig b JOIN bandsig h ON b.band = h.band AND b.bsig = h.bsig
  WHERE b.doc_id >= 250 AND h.doc_id < 250
),
cross_m AS (
  SELECT c.bid, c.hid, SUM(CASE WHEN sb.h = sh2.h THEN 1 ELSE 0 END) AS nm
  FROM cross_cand c
  JOIN sig sb ON sb.doc_id = c.bid
  JOIN sig sh2 ON sh2.doc_id = c.hid AND sh2.j = sb.j
  GROUP BY c.bid, c.hid
),
hist_dropped AS (
  SELECT DISTINCT bid FROM cross_m WHERE nm * 2 >= {_Q85_HASHES}
),
batch_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsig a JOIN bandsig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
  WHERE a.doc_id >= 250 AND b.doc_id >= 250
    AND a.doc_id NOT IN (SELECT bid FROM hist_dropped)
    AND b.doc_id NOT IN (SELECT bid FROM hist_dropped)
),
batch_m AS (
  SELECT c.id_a, c.id_b, SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS nm
  FROM batch_cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.j = sa.j
  GROUP BY c.id_a, c.id_b
),
within_dropped AS (
  SELECT DISTINCT id_b AS bid FROM batch_m WHERE nm * 2 >= {_Q85_HASHES}
)
SELECT doc_id, lang FROM documents
WHERE doc_id >= 250
  AND doc_id NOT IN (SELECT bid FROM hist_dropped)
  AND doc_id NOT IN (SELECT bid FROM within_dropped)
ORDER BY doc_id
"""


def q86_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (`text.clean_text`): control chars → space,
    whitespace collapse, trim — the pre-fingerprint cleanup pass. The
    entry dirties each doc deterministically (C0/DEL wrapping; every
    2nd doc's spaces become tabs), cleans it, and proves byte-parity
    via md5 plus the removed-char count. Zero shuffle, zero Python —
    a codegen regexp chain both engines share."""
    from sif_spark.operators.text import clean_text

    d = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    dirty = F.concat(
        F.lit("\x01  "),
        F.when(i % 2 == 0, F.translate(F.col("text"), " ", "\t")).otherwise(
            F.col("text")
        ),
        F.lit(" \x7f"),
    )
    return d.select(
        "doc_id",
        F.md5(clean_text(dirty)).alias("clean_md5"),
        (F.length(dirty) - F.length(clean_text(dirty))).cast("long").alias(
            "removed"
        ),
    ).orderBy("doc_id")


ORACLE_Q86 = """
WITH dirty AS (
  SELECT doc_id,
         chr(1) || '  ' ||
         CASE WHEN doc_id % 2 = 0 THEN translate(text, ' ', chr(9)) ELSE text END
         || ' ' || chr(127) AS t
  FROM documents
),
cleaned AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(t, '[\\x00-\\x1F\\x7F]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS c
  FROM dirty
)
SELECT doc_id, md5(c) AS clean_md5,
       CAST(length(t) - length(c) AS BIGINT) AS removed
FROM cleaned ORDER BY doc_id
"""


def q87_multisignal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup clustering: TEXT edges (exact n-gram
    Jaccard >= 0.2, stop-shingle-guarded) and EMBEDDING edges (cosine
    >= 0.45 over the aligned vector table) union into ONE edge set and
    ONE label-propagation pass — the production shape where lexical
    and semantic duplicate signals reinforce each other (a paraphrase
    caught by cosine transitively merges with its lexical near-dups).
    Both edge generators are independently oracle-gated (q13/q20);
    this entry gates the composed closure. min-label propagation is
    duplicate-edge-insensitive, so the union needs no dedup shuffle."""
    from sif_spark.operators.dedup import (
        embedding_near_dup_pairs,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    text_edges = ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.2, max_shingle_freq=100
    ).select("id_a", "id_b")
    emb_edges = embedding_near_dup_pairs(
        e, "embedding", "vec_id", threshold=0.45
    ).select("id_a", "id_b")
    edges = text_edges.unionByName(emb_edges)
    return near_dup_clusters(edges).orderBy("doc_id")


ORACLE_Q87 = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM toks WHERE len(w) >= 3
  )
),
ok AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 100),
shf AS (SELECT sh.doc_id, sh.gram FROM sh JOIN ok USING (gram)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shf a JOIN shf b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
text_edges AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
),
ep AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
ec AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM ep),
emb_edges AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           SUM(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
           / (sqrt(SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
              * sqrt(SUM(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)))) AS sim
    FROM ec GROUP BY id_a, id_b
  ) WHERE sim >= 0.45
),
edges AS (
  SELECT id_a, id_b FROM text_edges UNION SELECT id_a, id_b FROM emb_edges
),
und AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT id_a, id_a FROM edges
  UNION SELECT id_b, id_b FROM edges
),
reach(s, d) AS (
  SELECT s, d FROM und
  UNION
  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
)
SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s ORDER BY doc_id
"""


def q88_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip (Spark 4 native StAX reader —
    `sources/xml.py`): write the supplier projection (with NULLs — XML
    omits null elements; read-back must restore them) as XML, read it
    back with a pinned schema, and run the q36 aggregate. Same oracle
    as q36/q37: equality against parquet proves the sink→parse path
    loses nothing. Avro is environment-blocked (external spark-avro
    jar absent) — documented in the module."""
    from sif_spark.sources.xml import read_xml, write_xml

    out = _io_dir(sf_dir, "supplier_xml")
    write_xml(
        _supplier_projection(spark, sf_dir), out, row_tag="supplier",
        root_tag="suppliers",
    )
    frame = read_xml(
        spark,
        f"{out}/*.xml",
        row_tag="supplier",
        schema="s_suppkey BIGINT, s_nationkey BIGINT, acct_cents BIGINT",
    )
    return _dsv_aggregate(frame.df)


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q36_dsv_roundtrip": q36_dsv_roundtrip,
    "q37_dsv_decoder_gzip": q37_dsv_decoder_gzip,
    "q38_memory_source": q38_memory_source,
    "q39_group_colocate": q39_group_colocate,
    "q40_repartition_reduce": q40_repartition_reduce,
    "q41_map_rows_errors": q41_map_rows_errors,
    "q42_reduce_rows_topn": q42_reduce_rows_topn,
    "q43_collect_partition_limit": q43_collect_partition_limit,
    "q44_key_columns": q44_key_columns,
    "q45_custom_source": q45_custom_source,
    "q46_bucketed_join": q46_bucketed_join,
    "q47_custom_accumulator": q47_custom_accumulator,
    "q48_streaming_hourly": q48_streaming_hourly,
    "q49_heatmap": q49_heatmap,
    "q50_jsonl_dotted": q50_jsonl_dotted,
    "q51_schema_ops": q51_schema_ops,
    "q52_memorystream": q52_memorystream,
    "q53_lsh_similar_pairs": q53_lsh_similar_pairs,
    "q54_multimodal_blobs": q54_multimodal_blobs,
    "q55_salted_agg": q55_salted_agg,
    "q56_window_suite": q56_window_suite,
    "q57_streaming_sessions": q57_streaming_sessions,
    "q58_orc_roundtrip": q58_orc_roundtrip,
    "q59_partition_pruning": q59_partition_pruning,
    "q60_exact_percentiles": q60_exact_percentiles,
    "q61_frame_sampling": q61_frame_sampling,
    "q62_streaming_interval_join": q62_streaming_interval_join,
    "q63_lsh_knn_shuffle": q63_lsh_knn_shuffle,
    "q64_asof_hot_key": q64_asof_hot_key,
    "q65_ivf_knn_distributed": q65_ivf_knn_distributed,
    "q66_uint64_agg": q66_uint64_agg,
    "q67_bf_knn_chunked": q67_bf_knn_chunked,
    "q68_dedup_clusters": q68_dedup_clusters,
    "q69_corpus_clean": q69_corpus_clean,
    "q70_containment_pairs": q70_containment_pairs,
    "q71_corpus_clean_containment": q71_corpus_clean_containment,
    "q72_doc_chunks": q72_doc_chunks,
    "q73_stratified_sample": q73_stratified_sample,
    "q74_repetition_hist": q74_repetition_hist,
    "q75_distinctive_terms": q75_distinctive_terms,
    "q76_decontamination": q76_decontamination,
    "q77_pii_redaction": q77_pii_redaction,
    "q78_url_domains": q78_url_domains,
    "q79_gap_fill": q79_gap_fill,
    "q80_sequence_packing": q80_sequence_packing,
    "q81_weighted_sample": q81_weighted_sample,
    "q82_heavy_hitters": q82_heavy_hitters,
    "q83_incremental_dedup": q83_incremental_dedup,
    "q84_cluster_survivors": q84_cluster_survivors,
    "q85_minhash_incremental": q85_minhash_incremental,
    "q86_clean_text": q86_clean_text,
    "q87_multisignal_dedup": q87_multisignal_dedup,
    "q88_xml_roundtrip": q88_xml_roundtrip,
}

EXT_ORACLES: dict[str, str] = {
    "q36_dsv_roundtrip": _DSV_AGG_ORACLE,
    "q37_dsv_decoder_gzip": _DSV_AGG_ORACLE,
    "q38_memory_source": ORACLE_Q38,
    "q39_group_colocate": ORACLE_Q39,
    "q40_repartition_reduce": ORACLE_Q40,
    "q41_map_rows_errors": ORACLE_Q41,
    "q42_reduce_rows_topn": ORACLE_Q42,
    "q43_collect_partition_limit": ORACLE_Q43,
    "q44_key_columns": ORACLE_Q44,
    "q45_custom_source": ORACLE_Q45,
    "q46_bucketed_join": ORACLE_Q46,
    "q47_custom_accumulator": ORACLE_Q47,
    "q48_streaming_hourly": ORACLE_Q48,
    "q49_heatmap": ORACLE_Q49,
    "q50_jsonl_dotted": ORACLE_Q50,
    "q51_schema_ops": ORACLE_Q51,
    "q52_memorystream": ORACLE_Q52,
    "q53_lsh_similar_pairs": ORACLE_Q53,
    "q54_multimodal_blobs": ORACLE_Q54,
    "q55_salted_agg": ORACLE_Q55,
    "q56_window_suite": ORACLE_Q56,
    "q57_streaming_sessions": ORACLE_Q57,
    "q58_orc_roundtrip": ORACLE_Q58,
    "q59_partition_pruning": ORACLE_Q59,
    "q60_exact_percentiles": ORACLE_Q60,
    "q61_frame_sampling": ORACLE_Q61,
    "q62_streaming_interval_join": ORACLE_Q62,
    "q63_lsh_knn_shuffle": ORACLE_Q63,
    "q64_asof_hot_key": ORACLE_Q64,
    "q65_ivf_knn_distributed": ORACLE_Q63,  # same exact-kNN contract & query set
    "q66_uint64_agg": ORACLE_Q66,
    "q67_bf_knn_chunked": ORACLE_Q63,  # same exact-kNN contract & query set
    "q68_dedup_clusters": ORACLE_Q68,
    "q69_corpus_clean": ORACLE_Q69,
    "q70_containment_pairs": ORACLE_Q70,
    "q71_corpus_clean_containment": ORACLE_Q71,
    "q72_doc_chunks": ORACLE_Q72,
    "q73_stratified_sample": ORACLE_Q73,
    "q74_repetition_hist": ORACLE_Q74,
    "q75_distinctive_terms": ORACLE_Q75,
    "q76_decontamination": ORACLE_Q76,
    "q77_pii_redaction": ORACLE_Q77,
    "q78_url_domains": ORACLE_Q78,
    "q79_gap_fill": ORACLE_Q79,
    "q80_sequence_packing": ORACLE_Q80,
    "q81_weighted_sample": ORACLE_Q81,
    "q82_heavy_hitters": ORACLE_Q82,
    "q83_incremental_dedup": ORACLE_Q83,
    "q84_cluster_survivors": ORACLE_Q84,
    "q85_minhash_incremental": ORACLE_Q85,
    "q86_clean_text": ORACLE_Q86,
    "q87_multisignal_dedup": ORACLE_Q87,
    "q88_xml_roundtrip": _DSV_AGG_ORACLE,
}
