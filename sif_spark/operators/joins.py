"""Skew-tolerant join: manual salting for the cases AQE's runtime
skew-split can't reach.

When to use what: for batch SMJ skew, **AQE skew-join is the default
answer** (enabled in session.py) — it splits oversized partitions at
runtime with no code change. Reach for `salted_join` when AQE can't
act: streaming joins (AQE is disabled in streaming), skew through a
`repartition` the optimizer must preserve, or a persisted/bucketed
layout where a runtime re-split would break co-location. The
technique is the classic replicate-and-salt: the probe side gets a
deterministic per-row salt in [0, salt); the build side is replicated
salt× (explode over a sequence — executor-side, never a driver
loop), and the join key becomes (key, salt) so one hot key spreads
over `salt` reducers.

Cost model: build-side rows are duplicated salt× — use it when the
build side is small relative to the hot key's row count (the usual
shape: a bounded dimension or the smaller fact), and keep `salt` at
the hot key's observed partition-overflow factor, not higher.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    how: str = "inner",
    salt: int = 8,
    left_salt_cols: list[str] | None = None,
) -> DataFrame:
    """Join ``left`` (probe, possibly skewed) to ``right`` (build,
    replicated) on ``[(left_col, right_col), ...]`` with a
    ``salt``-way spread of every key.

    The left salt is ``xxhash64(salt_cols) mod salt`` — deterministic
    (stable under task retries, unlike ``rand()``) and independent of
    partitioning; ``left_salt_cols`` defaults to ALL left columns so
    identical rows land on the same reducer but a hot KEY's distinct
    rows spread. Join results are identical to the unsalted join (the
    salt column never changes which (left, right) pairs match — it
    only routes them), which is exactly what the q104 oracle gate
    asserts. ``how`` supports inner and left (the build side is
    replicated, so right-outer semantics would need dedup — use the
    plain join there).

    WHEN to salt — the measured decision rule (SCALE.md "AQE vs
    manual salting", round 6; script: `git show fea8842:tools/skew_probe.py`;
    12M-row fact with 60% of rows on one key, 2M-row build):
    AQE skew-join ON → plain 2.05s vs salted 2.44s; AQE OFF → plain
    2.95s vs salted 2.52s. With AQE's skew-join enabled (the
    sif_spark default) the PLAIN join wins: AQE splits the hot
    partition from shuffle stats for free, while salting always pays
    the ``salt``× build-side replication. So do NOT salt batch
    shuffle joins under AQE. Reach for salted_join only where AQE
    cannot act:

    - AQE unavailable or disabled — notably plans inside STATEFUL
      streaming queries, where Spark disables AQE;
    - skew in AGGREGATIONS or windows, which AQE's skew handling
      never touches (joins only) — use `functions.salted_key` / the
      q55 two-phase pattern, or `asof_join(hot_key_bucket=...)` for
      window-shaped hot keys (a window partition is atomic to AQE);
    - single-key skew so extreme that AQE's split granularity (one
      map-output block) still leaves an oversized partition AND the
      build side is small enough that ``salt``× replication is
      cheaper than the residual straggler."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    if not on:
        raise ValueError(
            "on must name at least one (left_col, right_col) pair — "
            "an empty key list would degrade to a salt-keyed cross join"
        )
    salt_cols = left_salt_cols or left.columns
    l2 = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt)).cast(
            "int"
        ),
    )
    r2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    cond = F.col("__l.__salt") == F.col("__r.__salt")
    for lc, rc in on:
        cond = cond & (F.col(f"__l.{lc}") == F.col(f"__r.{rc}"))
    out = l2.alias("__l").join(r2.alias("__r"), cond, how)
    keep = [F.col(f"__l.{c}") for c in left.columns] + [
        F.col(f"__r.{c}") for c in right.columns
    ]
    return out.select(*keep)
