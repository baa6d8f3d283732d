"""Differential checker: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet tables, compare row count,
column names, COLUMN DTYPES, and order-insensitive values.

Round-1 lesson (VERDICT.md "What's wrong" #2): the old version rendered
every numeric as a %.10g string, which erased the int64-vs-HUGEINT/
decimal128 dtype distinction the real driver hashes — it printed PASS on
15 queries the driver failed. This version fetches BOTH engines' results
as Arrow tables and compares per-column type categories (int / float /
decimal / timestamp / ...) before comparing values, emulating the
driver's arrow/pandas normalization.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sif_spark.session import get_session
from sif_spark.sources.parquet import TABLES


def type_category(t: pa.DataType) -> str:
    """Collapse an arrow type to the category the driver's hash is
    sensitive to. int64 vs decimal128 vs float64 must differ; timestamp
    unit/tz and string width must not."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_category(t.value_type)}>"
    return str(t)


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact IEEE repr — bit-identical doubles required
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(rows: list[dict], colnames: list[str]) -> list[str]:
    order = sorted(colnames)
    return sorted("|".join(normalize(r[c]) for c in order) for r in rows)


def compare_tables(atbl: pa.Table, dtbl: pa.Table) -> list[str]:
    problems = []
    scols, dcols = atbl.column_names, dtbl.column_names
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    for name in scols:
        sc = type_category(atbl.schema.field(name).type)
        dc = type_category(dtbl.schema.field(name).type)
        if sc != dc:
            problems.append(
                f"dtype mismatch on '{name}': spark {atbl.schema.field(name).type}"
                f" ({sc}) vs duck {dtbl.schema.field(name).type} ({dc})"
            )
    if problems:
        return problems
    if atbl.num_rows != dtbl.num_rows:
        problems.append(f"rowcount spark={atbl.num_rows} duck={dtbl.num_rows}")
        return problems
    sm = rows_to_multiset(atbl.to_pylist(), scols)
    dm = rows_to_multiset(dtbl.to_pylist(), dcols)
    if sm != dm:
        diff_idx = next(
            (i for i, (a, b) in enumerate(zip(sm, dm)) if a != b), len(sm) - 1
        )
        problems.append(
            f"values differ; first diff:\n  spark: {sm[diff_idx]}\n  duck:  {dm[diff_idx]}"
        )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # an unknown name must be a LOUD error: a typo'd/prefix name used
    # to select nothing and print "0 failures" — a vacuous pass that
    # looks exactly like a real one (caught in round 12: `q186` vs
    # `q186_table_column_evolution`)
    unknown = only - set(qs)
    if unknown:
        matches = {
            o: [n for n in qs if n.startswith(o)] for o in sorted(unknown)
        }
        print(f"unknown queries: {matches} — use exact catalog names")
        return 2

    spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # q54/q61's oracles read_blob() real files; their SQL carries the
    # driver's gate-scale path so it runs verbatim there. At any other
    # sf the path is rewritten to the sweep's dir — the oracle is
    # scale-parametric, so the full-catalog sweep has no pinned SKIPs
    # (VERDICT r8 "Next round" #4).
    gate_path = "/root/testdata/sf0.01"
    run_path = sf_dir.rstrip("/")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            atbl = sdf.toArrow()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({atbl.num_rows} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            dtbl = con.execute(oracles[name].replace(gate_path, run_path)).arrow()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = compare_tables(atbl, dtbl)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name} ({atbl.num_rows} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
