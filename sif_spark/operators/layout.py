"""Multi-dimensional data layout: Z-order (Morton) clustering.

`SifFrame.write_sorted` range-clusters ONE key — a filter on any other
column still scans every file. Z-ordering interleaves the bits of
several normalized keys into one sort key, so file/rowgroup min-max
stats become selective on EVERY participating column at once: the
standard lakehouse technique (Delta/Iceberg `OPTIMIZE ZORDER BY`) for
multi-predicate scan pruning over 100 TB of parquet.

Everything here is codegen expressions: per-column normalization is
`(value − min) / (max − min)` scaled to `bits` integer levels (the
min/max come from ONE tiny agg job — the same driver-visible class as
resample's span), and the Morton key is a fixed unrolled sum of
shift/mask terms. No UDFs, no shuffle beyond the final range exchange
that `write_sorted` already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, Column]:
    """Return ``(df, key_column)`` where the key interleaves ``bits``
    bits from each of ``cols`` (Morton order). Columns are normalized
    to [0, 2^bits) by their observed min/max (one small agg job);
    NULLs map to level 0 (they cluster together at the low end, which
    keeps their files prunable for non-null predicates). Total bits
    must fit a signed 64-bit key: ``len(cols) * bits <= 62``."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns; use write_sorted for 1")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds the 62-bit key budget")
    span = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    levels = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = span[f"lo_{c}"], span[f"hi_{c}"]
        width = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        lo = lo if lo is not None else 0.0
        level = F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo))
                    / F.lit(width)
                    * F.lit(levels + 1)
                ).cast("long"),
            ),
        )
        level = F.coalesce(level, F.lit(0))
        # interleave: bit i of this column lands at position i*n + ci
        for i in range(bits):
            key = key + (
                F.shiftleft(
                    F.shiftright(level, i).bitwiseAND(F.lit(1)), i * n + ci
                )
            )
    return df, key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-order-clustered on ``cols``: compute the Morton
    key, range-partition on it (sampled exchange — no global sort
    task), sort within partitions, drop the key. Each output file then
    covers a small hyper-rectangle of the key space, so min-max
    pruning works for predicates on ANY of ``cols`` — verified by the
    layout test, which reads real file footers and asserts per-file
    ranges shrink on every dimension."""
    df2, key = zorder_key(df, cols, bits)
    out = df2.withColumn("__zkey", key)
    if num_files:
        out = out.repartitionByRange(num_files, "__zkey")
    else:
        out = out.repartitionByRange("__zkey")
    (
        out.sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Compact a small-files parquet directory into ~``target_file_mb``
    files — the nightly hygiene pass every streaming/incremental sink
    eventually needs (a year of micro-batch appends = millions of tiny
    files; at 100 TB the NameNode/listing cost alone kills scans).

    The output file count derives from the ACTUAL input bytes (one
    driver-side listing through the path's store — metadata only, no
    data read); rows are shuffled to evenly-sized files (`repartition`,
    or a range exchange when ``sort_cols`` is given, which re-establishes
    min/max pruning while compacting — compaction and clustering are
    one pass, not two).

    Writes to ``dst`` and returns the file count: never in-place —
    the swap (rename/retarget) stays with the caller, so a failed
    compaction can't destroy the source."""
    import math

    from sif_spark.logstore import store_for

    if src.rstrip("/") == dst.rstrip("/"):
        raise ValueError("dst must differ from src (no in-place compaction)")
    # recursive: a partition_by layout keeps its data in subdirectories
    # — a flat listing would total 0 bytes and silently compact
    # everything into one file
    total = store_for(src, spark).data_bytes(src)
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    out.write.mode(mode).parquet(dst)
    return n_files
