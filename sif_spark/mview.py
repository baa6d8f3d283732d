"""Incremental materialized views over SifTable change feeds.

`incremental_aggregate_view` maintains

    dst = src.groupBy(key).agg(SUM(expr) AS name, ...)

without ever re-scanning `src`: the shared change-feed consumer
(sources/table_stream.py: ``fold_table_changes`` runs the driver-side
fold loop, ``settle_changes`` materializes each batch once) delivers
each committed version's ADDED rows exactly once, the batch folds
them into per-key partials (one small shuffle over the batch, never
the table), and the partials merge into the view with a key-joined
upsert — additive aggregates compose, so old + partial is the exact
new value. Exactly-once end to end:

- upstream: version offsets through the fold's offset/commit log;
- downstream: `SifTable.upsert(..., txn=(app_id, epoch))` — the
  manifest's txn high-water makes a crash-replayed micro-batch a
  committed no-op, so the merge can never double-count (the same
  contract stream_into_table proves for appends, here on upsert).

Scope: ADDITIVE aggregates (SUM; COUNT is SUM(1)). Two source modes:

- default (append feed): the source table must stay add-only, and the
  assumption is ENFORCED, not assumed — the fold plans each window
  with the additive guard (it refuses any version whose exact
  replaced_rows/deleted_rows counter is non-zero or unrecorded), and
  merge_partials re-checks the manifests of every version it folds
  with the same rule (table.feed_refusal).
  The r10 silent-drift case (an upsert's post-image folding on top of
  the already-folded old value) is now a typed error, never a wrong
  sum.
- ``cdf=True`` (change-data feed): the source was created with
  SifTable.create(..., cdf=True); every fold is SIGNED —
  insert/update_postimage add, update_preimage/delete subtract — so
  upserts and deletes maintain the view EXACTLY (still additive-only;
  MIN/percentiles under retraction need a recompute by design).

AVG et al. decompose into (sum, count) pairs by the caller.

Single writer per view: the merge frame embeds the view values read
BEFORE the upsert, so only the view's own (serial) fold loop may
write the view table.
A second concurrent writer to the SAME view would make a CAS-retried
merge stale; the txn guard still prevents double-folds of the same
epoch, but cross-writer merges are not a supported topology.

100 TB notes: per micro-batch the cost is O(batch) + an upsert that
rewrites only the view groups holding touched keys (key-range + bloom
file skipping) — the view itself is never fully rewritten. The view
table can be bucketed on its key for zero-shuffle downstream joins.

Reference basis: go-sif has neither storage nor incremental queries
(SURVEY §2.1/§3.3); this is north-star surface composing this repo's
table layer with its own change feed, re-run in a loop on the driver
the way the reference's plan executor re-runs a plan over a stream
source, in the spirit of the public lakehouse engines' MV maintenance.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F

if TYPE_CHECKING:
    from sif_spark.sources.table_stream import FoldQuery


def incremental_aggregate_view(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key: str,
    sums: dict[str, str],
    checkpoint_dir: str,
    app_id: str = "mv",
    starting_version: int = 0,
    max_versions_per_trigger: int = 0,
    cdf: bool = False,
) -> FoldQuery:
    """Start maintaining ``dst = src.groupBy(key).agg(SUM(expr))``.

    ``sums`` maps output column name → a SQL expression over the source
    columns (evaluated per change row, then SUM-folded; in cdf mode the
    fold is signed by _change_type, so replaced/deleted rows retract).
    Returns the running fold: ``processAllAvailable()`` waits until
    the versions on disk are folded, ``stop()`` ends it (restart with
    the same checkpoint to resume incrementally), and
    ``awaitTermination()`` / ``exception()`` surface a failed fold."""
    from sif_spark.sources.table_stream import fold_table_changes

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_partials(
            batch_df, int(epoch_id), dst_path, key, sums, app_id,
            src_path=src_path, cdf=cdf,
        )

    # the append-only assumption is ENFORCED at plan time: an additive
    # feed fails the fold at any version that replaced/removed rows
    # instead of silently drifting the view
    return fold_table_changes(
        spark, src_path, fold, checkpoint_dir,
        feed="cdf" if cdf else "additive",
        starting_version=starting_version,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def merge_partials(
    batch_df: DataFrame,
    epoch_id: int,
    dst_path: str,
    key: str,
    sums: dict[str, str],
    app_id: str,
    src_path: str | None = None,
    cdf: bool = False,
) -> None:
    """One micro-batch of change rows → fold into the view table.
    Idempotent per (app_id, epoch_id): a crash-replayed batch is a
    committed no-op at BOTH guards (the early epoch check and the
    upsert's own txn high-water), so the additive merge can never
    double-count. With ``src_path`` and cdf=False, the fold REFUSES
    versions whose manifest records replacements (belt to the fold
    planner's braces — a fold that reached here with an
    upsert's post-images would silently stack them on the folded old
    values). With cdf=True the fold is signed by _change_type and
    replacements/deletes maintain the view exactly."""
    from sif_spark.sources.table_stream import settle_changes
    from sif_spark.table import SifTable, feed_refusal

    session = batch_df.sparkSession
    names = list(sums)
    batch_df, rows, lo, hi = settle_changes(batch_df)
    if rows == 0:
        # a version window of deletes/compactions feeds an empty batch:
        # nothing to fold, nothing to commit — skipping is replay-safe
        # because an epoch that committed nothing can't double anything
        # (the txn high-water stays behind; it only needs monotonicity)
        return
    if not cdf and src_path is not None:
        src = SifTable(session, src_path)
        # Scan the full CONTIGUOUS manifest range covered by this
        # batch, not just the versions that contributed rows: a pure
        # removal version (delete/restore) emits no rows, so a
        # rows-only scan could never see it (ADVICE r11 low). A
        # removal version strictly AFTER the last row-bearing version
        # of the window is still invisible to this fold-level belt —
        # that case is covered by the fold planner's additive guard,
        # which checks EVERY version in the window.
        for v in src._versions():
            if lo <= v <= hi:
                feed_refusal(src._load(v))
    if cdf:
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        partial = batch_df.groupBy(key).agg(
            *[
                F.sum(F.expr(expr) * sign).alias(n)
                for n, expr in sums.items()
            ]
        )
    else:
        partial = batch_df.groupBy(key).agg(
            *[F.sum(F.expr(expr)).alias(n) for n, expr in sums.items()]
        )
    dst = SifTable(session, dst_path)
    try:
        dst._load()
    except FileNotFoundError:
        SifTable.create(
            session, dst_path, partial, key_col=key, txn=(app_id, epoch_id)
        )
        return
    if dst.last_txn_epoch(app_id) >= epoch_id:
        return  # replayed epoch: the merge already committed
    current = dst.read().select(
        F.col(key), *[F.col(n).alias(f"__cur_{n}") for n in names]
    )
    merged = partial.join(current, on=key, how="left").select(
        F.col(key),
        *[
            (F.coalesce(F.col(f"__cur_{n}"), F.lit(0)) + F.col(n)).alias(n)
            for n in names
        ],
    )
    # batch-sized (left join keeps only the batch's keys); materialize
    # once so the upsert's bounds/probe/write actions don't each re-scan
    # the whole view for the join
    merged = merged.localCheckpoint(eager=True)
    dst.upsert(merged, txn=(app_id, epoch_id))
