"""Regression tests for the differential comparator (tools/check_oracle).

Round-1 failure class (VERDICT.md "What's wrong" #1/#2): DuckDB
SUM(BIGINT) returns HUGEINT → arrow decimal128(38,0), which the driver's
hash gate distinguishes from Spark's int64 even when values are equal.
The old checker normalized both to %.10g strings and printed PASS; the
comparator must fail on the dtype alone. No Spark session needed —
DuckDB can produce both sides of the repro.
"""

import sys
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import compare_tables, type_category


def _duck(sql: str) -> pa.Table:
    return duckdb.connect().execute(sql).arrow()


def test_uncast_sum_dtype_mismatch_is_caught():
    # DuckDB SUM(BIGINT) → decimal128; an int64 result of equal VALUE
    # must still fail (this is exactly round-1 q01/q22's miss).
    spark_like = _duck("SELECT CAST(6 AS BIGINT) AS s")
    duck_uncast = _duck("SELECT SUM(x) AS s FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)) t(x)")
    assert type_category(duck_uncast.schema.field("s").type) == "decimal"
    problems = compare_tables(spark_like, duck_uncast)
    assert problems and "dtype mismatch" in problems[0]


def test_cast_sum_passes():
    spark_like = _duck("SELECT CAST(6 AS BIGINT) AS s")
    duck_cast = _duck(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)) t(x)"
    )
    assert compare_tables(spark_like, duck_cast) == []


def test_int_vs_float_rejected_even_when_equal():
    a = _duck("SELECT CAST(5 AS BIGINT) AS v")
    b = _duck("SELECT CAST(5 AS DOUBLE) AS v")
    problems = compare_tables(a, b)
    assert problems and "dtype mismatch" in problems[0]


def test_value_difference_reported():
    a = _duck("SELECT CAST(5 AS BIGINT) AS v")
    b = _duck("SELECT CAST(6 AS BIGINT) AS v")
    problems = compare_tables(a, b)
    assert problems and "values differ" in problems[0]


def test_timestamp_unit_tolerated():
    a = _duck("SELECT TIMESTAMP '2020-01-01 00:00:00' AS t")
    b_tbl = pa.table({"t": pa.array(a.column("t").to_pylist(), pa.timestamp("ns"))})
    assert compare_tables(a, b_tbl) == []
