"""In-memory source — the reference's test workhorse.

Reference: ``memory.CreateDataFrame`` (datasource/memory/memory_datasource.go:14-19)
— static [][]byte buffers, one partition loader per buffer. Spark:
``spark.createDataFrame`` over local rows (Arrow path for pandas).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

from sif_spark.frame import SifFrame


def from_rows(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: T.StructType | str,
    num_partitions: int | None = None,
) -> SifFrame:
    df = spark.createDataFrame(list(rows), schema=schema)
    if num_partitions:
        df = df.repartition(num_partitions)
    return SifFrame(df)


def from_pandas(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType | None = None) -> SifFrame:
    return SifFrame(spark.createDataFrame(pdf, schema=schema))


def local_frame(
    spark: SparkSession,
    schema: T.StructType | str,
    columns: Mapping[str, Any] | None = None,
) -> DataFrame:
    """A small driver-built frame (empty when ``columns`` is None; else
    one array-like per field) handed to the JVM as Arrow, so it plans as
    a ``LocalTableScan`` and reading it runs no Python task.
    ``spark.createDataFrame`` over Python rows is a Python RDD instead:
    even an empty one is read by one Python task per default-parallelism
    slot, each paying a Python worker's fixed per-task cost."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if columns is None:
        columns = {f.name: [] for f in schema.fields}
    table = pa.Table.from_pydict(dict(columns), schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
