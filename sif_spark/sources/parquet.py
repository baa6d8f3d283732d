"""Parquet source — the engine's primary columnar format.

The reference has no columnar format at all (row-major fixed-width
partitions only, SURVEY.md §1.1); Parquet is the idiomatic Spark
replacement and the format the project's testdata ships in. Vectorized
reads, predicate pushdown, column pruning and partition pruning are all
built in — `.explain` should show PushedFilters/ReadSchema on every
query built from these readers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from sif_spark.frame import SifFrame

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_parquet(spark: SparkSession, path: str) -> SifFrame:
    return SifFrame(spark.read.parquet(path))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the project's testdata tables as a plain DataFrame,
    normalizing every timestamp encoding the generator has shipped to a
    plain (LTZ) TimestampType under a UTC session zone:

    - TIMESTAMP(NANOS) → read as long nanos under
      ``spark.sql.legacy.parquet.nanosAsLong``, truncated to µs
      (matching DuckDB's ns→µs cast);
    - tz-less ``timestamp[us]`` (Spark 4 infers TIMESTAMP_NTZ) → cast
      to TIMESTAMP; with the session zone forced to UTC the instant
      equals the naive value read as UTC, i.e. exactly what the DuckDB
      oracle computes on the same file.

    Defensive: the confs are (re)applied here at runtime, not only in
    get_session — callers (e.g. the verification driver) may hand us a
    session built without them, which would otherwise fail the scan
    (PARQUET_TYPE_ILLEGAL) or render the timestamps in a non-UTC
    session zone and break oracle comparison.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F, types as T

    def try_conf(key: str, value: str) -> None:
        # A caller-provided session may refuse runtime conf writes
        # (CANNOT_MODIFY_CONFIG, an AnalysisException); the cast
        # fallback below still normalizes types, so a refused set must
        # not fail the read itself (review r4 — an unguarded set after
        # a guarded one made the fallback unreachable). Any other
        # error raises.
        try:
            spark.conf.set(key, value)
        except AnalysisException:
            pass

    if name == "events":
        try_conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Read tz-less parquet timestamps directly as LTZ TimestampType
    # rather than inferring TIMESTAMP_NTZ and casting after the scan —
    # a post-scan cast would sit between filters and the parquet
    # reader and kill predicate pushdown on every date column
    # (measured: q01's l_shipdate filter stops reaching PushedFilters).
    try_conf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try_conf("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    ntz_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz_cols:
        # Fallback for conf-frozen sessions: cast post-scan. Correct but
        # pushdown-hostile — the conf path above is the normal route.
        df = df.withColumns(
            {c: F.col(c).cast(T.TimestampType()) for c in ntz_cols}
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the testdata tables as temp views for spark.sql()."""
    for name in tables or TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
