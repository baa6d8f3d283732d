"""Streaming: Sif-parity looping mode + idiomatic Structured Streaming.

The reference's streaming model (SURVEY.md §3.3) is primitive: a
source with ``IsStreaming()==true`` makes the whole plan re-execute
forever over fresh generator batches
(internal/dataframe/plan_executor.go:106-111); no watermarks, no
event-time windows, no state lifecycle — reduce state just accumulates
in the shuffle index across iterations. Collect is forbidden on
streams (operations/util/collect.go:72-74).

Mapping here:
- ``rate_stream`` ≈ memorystream.CreateDataFrame's generator source
  (memorystream_datasource.go:15-20): an infinite rate source whose
  rows are shaped by a generator expression.
- ``run_sif_stream`` = the parity mode: foreachBatch re-runs the same
  frame-transformation over every micro-batch, with cross-batch
  accumulation left to the caller's agg mode — exactly Sif's loop.
- ``windowed_agg`` / ``sessionized`` / ``dedup_within_watermark`` =
  the idiomatic upgrades Sif lacks: event-time windows with watermarked
  late-data handling and bounded state — what you actually run on an
  unbounded 100 TB/day stream, because unbounded reduce state (Sif's
  semantics) OOMs by construction.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

if TYPE_CHECKING:
    from sif_spark.sources.table_stream import FoldQuery


def rate_stream(
    spark: SparkSession,
    rows_per_second: int = 100,
    generator: dict[str, Column] | None = None,
) -> DataFrame:
    """Infinite generator source (reference memorystream parity).

    The rate source emits (timestamp, value: long); ``generator`` maps
    those into the caller's schema, e.g.
    ``{"col1": (F.col("value") % 10).cast("int")}``."""
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    if generator:
        df = df.withColumns(generator)
    return df


def read_parquet_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """File-arrival stream over a parquet directory (requires explicit
    schema, as all streaming file sources do)."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def run_sif_stream(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    trigger_seconds: float = 1.0,
) -> StreamingQuery:
    """Sif-parity execution loop: re-run ``transform`` on every
    micro-batch and hand the result to ``sink`` (plan_executor.go's
    forever-loop, with Spark managing offsets/retries instead of
    retained partition loaders)."""

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink(transform(batch_df), epoch_id)

    return (
        stream.writeStream.foreachBatch(run_batch)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def windowed_agg(
    stream: DataFrame,
    time_col: str,
    window_duration: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a watermark
    bounding late data and state size."""
    wm = stream.withWatermark(time_col, watermark)
    window = F.window(F.col(time_col), window_duration, slide) if slide else F.window(
        F.col(time_col), window_duration
    )
    return wm.groupBy(window, *[F.col(k) for k in (keys or [])]).agg(*aggs)


def sessionized(
    stream: DataFrame,
    time_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows (dynamic gap-based) — the streaming form of the
    batch sessionization idiom (queries.q14)."""
    wm = stream.withWatermark(time_col, watermark)
    return wm.groupBy(
        F.session_window(F.col(time_col), gap), *[F.col(k) for k in keys]
    ).agg(*aggs)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str,
    lower: str = "interval 0 seconds",
    upper: str = "interval 10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join constrained to a time interval:
    right_time ∈ [left_time − upper, left_time − lower]. Watermarks on
    both sides bound the join state — the reference cannot express any
    two-input operator at all (single-source pipelines, SURVEY.md §3.1),
    let alone a state-bounded streaming join."""
    from pyspark.sql import functions as F

    l = left.withWatermark(left_time, watermark)
    r = right.withWatermark(right_time, watermark)
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (r[right_time] >= F.expr(f"{left_time} - {upper}"))
        & (r[right_time] <= F.expr(f"{left_time} - {lower}"))
    )
    return l.join(r, cond, how)


def running_reduce(
    stream: DataFrame,
    keys: list[str],
    count_col: str = "n",
    sum_col: str | None = None,
) -> "DataFrame":
    """Per-key running aggregation across micro-batches via
    ``applyInPandasWithState`` — the faithful upgrade of the
    reference's cross-batch reduce state (SURVEY.md §3.3: reduce state
    persists in the shuffle index across loop iterations with no
    eviction). Here the state is managed per key by the streaming
    engine (fault-tolerant, checkpointable) instead of living
    implicitly in a worker-local index. Emits one updated row per key
    per batch: (keys..., n [, sum])."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_fields = ", ".join(f"{k} {stream.schema[k].dataType.simpleString()}" for k in keys)
    out_schema = f"{key_fields}, {count_col} long" + (f", {sum_col}_sum double" if sum_col else "")
    state_schema = "n long" + (", s double" if sum_col else "")

    def update(key, pdfs, state: GroupState):
        n = 0
        s = 0.0
        if state.exists:
            stored = state.get
            n = stored[0]
            s = stored[1] if sum_col else 0.0
        for pdf in pdfs:
            n += len(pdf)
            if sum_col:
                s += float(pdf[sum_col].sum())
        state.update((n, s) if sum_col else (n,))
        row = {k: [v] for k, v in zip(keys, key)}
        row[count_col] = [n]
        if sum_col:
            row[f"{sum_col}_sum"] = [s]
        yield pd.DataFrame(row)

    return stream.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], time_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state older than the
    horizon is evicted (the scalable answer to Sif's grow-forever
    reduce index)."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_near_dup_dedup(
    stream: DataFrame,
    store_dir: str,
    sink: Callable[[DataFrame, int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    num_bands: int = 16,
    threshold: float = 0.7,
    trigger_seconds: float = 1.0,
    checkpoint_location: str | None = None,
) -> StreamingQuery:
    """Continuous near-dup ingest: every micro-batch is MinHash-deduped
    against the persisted signature store (`minhash_dedup_incremental`
    — the q85 batch semantics, unchanged), survivors flow to ``sink``,
    and their signatures are appended to the store as an EPOCH-KEYED
    partition written with mode=overwrite — so a retried micro-batch
    rewrites its own partition instead of double-appending: store
    growth is exactly-once without a transactional sink (same recipe
    as the file-sink exactly-once test).

    Pass ``checkpoint_location`` for any run that may restart: the
    streaming checkpoint is what makes epoch ids RESUME after a stream
    restart instead of restarting at 0 (where epoch_0's overwrite
    would clobber the prior run's epoch_0 signatures — ADVICE r5).
    Without it the store is only exactly-once within a single query
    lifetime.

    The store carries ``num_hashes`` longs per historical doc; the
    stream never re-reads historical text. State is unbounded by
    design (corpus membership IS the state) but lives in parquet, not
    executor memory — the per-batch cost is one narrow store scan,
    banded bucket joins on uniform keys, and the batch's own
    signatures.
    """
    from sif_spark.operators.dedup import minhash_dedup_incremental, minhash_signatures

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.errors import AnalysisException

        try:
            store = spark.read.parquet(f"{store_dir}/epoch_*")
        except AnalysisException as e:
            # ONLY a missing store (first epoch) may be treated as
            # empty. A crashed epoch write can leave an empty/partial
            # directory whose read ALSO raises AnalysisException
            # (UNABLE_TO_INFER_SCHEMA) — that store is corrupt and
            # must stop the stream, not silently pass historical
            # near-dups through (ADVICE r5).
            if (e.getCondition() or "") not in (
                "PATH_NOT_FOUND",
                "PATH_NOT_EXIST",  # legacy spelling, pre-4.0 classes
            ):
                raise
            store = minhash_signatures(
                batch_df.limit(0), text_col, id_col, num_hashes, shingle_k
            )
        survivors = minhash_dedup_incremental(
            batch_df, store, text_col, id_col,
            num_hashes, shingle_k, num_bands, threshold,
        ).localCheckpoint(eager=True)  # one computation feeds sink + store
        sink(survivors.drop("sig"), epoch_id)
        survivors.filter(F.col("sig").isNotNull()).select(
            id_col, "sig"
        ).write.mode("overwrite").parquet(f"{store_dir}/epoch_{epoch_id}")

    writer = stream.writeStream.foreachBatch(run_batch).trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def running_zscore(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    threshold: float = 2.0,
    scale: int = 100,
) -> DataFrame:
    """Streaming outlier flagging — the continuous analog of
    `timeseries.zscore_outliers`, same exact-integer statistics: per
    key, the state is THREE longs (n, Σv, Σv² in fixed-point), updated
    with each micro-batch and then used to flag that batch's events
    (so a batch containing ALL data reproduces the batch operator
    exactly — differentially tested). Emits (key, id, value,
    is_outlier) per event.

    State is O(1) per key forever — no eviction needed (contrast the
    reference's grow-forever reduce index: here the state doesn't grow
    because the *sufficient statistics* are the state, not the rows).
    Judgment uses events up to and including the event's own batch;
    earlier events are never re-flagged (monitoring semantics, not
    retroactive re-scoring).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold!r}")
    t2 = threshold * threshold
    key_type = stream.schema[key_col].dataType.simpleString()
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, {id_col} {id_type}, "
        f"{value_col} double, is_outlier boolean"
    )
    state_schema = "n long, s long, q long"

    def _fixed(series):
        # HALF_UP away from zero, matching F.round(value*scale) in the
        # batch operator (pandas .round() is half-to-even)
        import numpy as np

        x = series.to_numpy(dtype="float64") * scale
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")

    def update(key, pdfs, state: GroupState):
        n, s, q = state.get if state.exists else (0, 0, 0)
        batches = [pdf for pdf in pdfs if not pdf.empty]
        for pdf in batches:
            # NULL values never enter the state (a NaN through the
            # int64 cast would silently corrupt s/q forever) — they
            # are emitted below with is_outlier=False, matching the
            # batch operator's isNotNull stats filter
            vv = pdf[value_col].dropna()
            v = _fixed(vv)
            n += int(len(v))
            s += int(v.sum())
            q += int((v * v).sum())
        state.update((n, s, q))
        for pdf in batches:
            ok = pdf[value_col].notna().to_numpy()
            v = _fixed(pdf[value_col].fillna(0.0))
            dev = float(n) * v.astype("float64") - float(s)
            var_n2 = float(n) * float(q) - float(s) * float(s)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    id_col: pdf[id_col],
                    value_col: pdf[value_col],
                    "is_outlier": ok & ((dev * dev) > (t2 * var_n2)),
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def salted_stream_agg(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    salt_source_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-level SALTED streaming aggregation — the stateful-streaming
    arm of the salting rule (operators/joins.py docstring; SCALE.md).

    The full measured salting rule (SCALE.md "Stateful-streaming
    skew", round 7; script: `git show fea8842:tools/stream_skew_probe.py`;
    batch arm measured round 6 in operators/joins.py):

    - BATCH shuffle joins: never salt under AQE (AQE's skew split
      handles them; salting measured slower).
    - STREAMING built-in aggregations (this function's groupBy+agg
      shape): map-side PARTIAL aggregation runs before the state
      exchange, so the shuffle carries one partial row per (key, map
      partition) and even a 90%-hot key barely skews it (measured
      max-task share 0.043 UNSALTED). Salting is usually unnecessary
      — this helper exists for the state-SIZE lever (complete-mode
      sinks, many-distinct-agg states) and as the oracle-gated
      witness (q118) that the two-level decomposition is exact.
    - STREAMING custom stateful operators (applyInPandasWithState /
      transformWithState — `running_reduce` here): NO partial step
      exists; every raw row shuffles to the key's owner task, state
      partitioning is fixed for the query's lifetime, and AQE cannot
      re-plan it. THIS is the shape that needs salt: measured on a
      90%-hot-key stream, max-task record share 0.902 unsalted →
      0.227 with 16 salt buckets (bucket-to-task collisions at 32
      shuffle partitions) → 0.088 with 64 buckets. Key the state on
      (key, salt) and roll up the emitted partials batch-side.

    The rollup (`combine_salted` on the sink contents) restores
    per-key totals exactly — count and sum are algebraic, partials
    combine losslessly; q118 gates this against unsalted DuckDB SQL.

    ``salt_source_col`` must be a HIGH-CARDINALITY column (an event
    id, not the key itself — salting on the key is a no-op). Choose
    buckets ≈ 2× shuffle partitions for near-uniform spread (the
    0.227 → 0.088 step above is purely collision relief); state per
    key grows from 1 row to ≤ ``buckets`` rows. Emits
    (key_col, __salt, n_partial, sum_partial)."""
    salted = stream.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source_col)), F.lit(buckets))
    )
    return salted.groupBy(key_col, "__salt").agg(
        F.count(F.lit(1)).alias("n_partial"),
        F.sum(value_col).alias("sum_partial"),
    )


def combine_salted(partials: DataFrame, key_col: str) -> DataFrame:
    """Roll salted partials back up to per-key totals (batch-side, on
    the sink contents — structured streaming does not allow chaining a
    second stateful aggregation after the first in the same query).
    Exact for algebraic aggregates: Σ n_partial and Σ sum_partial over
    the salt buckets equal the unsalted count/sum by associativity."""
    return partials.groupBy(key_col).agg(
        F.sum("n_partial").alias("n_events"),
        F.sum("sum_partial").alias("value_sum"),
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a streaming frame to a STATIC
    dimension with an explicit broadcast — the standard "attach user/
    item/doc attributes to an event stream" shape. Spark re-plans the
    static side per micro-batch (so a dim refresh is picked up on the
    next trigger) and the broadcast keeps the stream side shuffle-free:
    state-free, watermark-free, O(batch) per trigger regardless of
    stream history. For dims too big to broadcast, drop the hint and
    pre-bucket both sides instead; for slowly-changing dims needing
    point-in-time semantics, use `asof_join` in a foreachBatch."""
    return stream.join(F.broadcast(dim), on, how)


def running_zscore_tws(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    threshold: float = 2.0,
    scale: int = 100,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """`running_zscore`'s shape on Spark 4's transformWithStateInPandas
    API (round 9, VERDICT r8 ask #6) — same exact-integer sufficient
    statistics (n, Σv, Σv² fixed-point longs in a ValueState), same
    per-event judgment, PLUS the state-lifecycle lever the legacy
    applyInPandasWithState API lacks: ``state_ttl_ms`` expires a key's
    statistics that long after its last update (processing time), so
    an unbounded key space (session ids, IPs) cannot grow state
    forever — the idiomatic fix for the reference's grow-forever
    reduce index (plan_executor.go:193-210, SURVEY §3.3). Output adds
    a ``state_n`` column (the n the event was judged against), which
    makes eviction OBSERVABLE: after a TTL expiry the next event's
    state_n restarts at its own batch's count instead of the
    cumulative one (pinned in tests).

    Requires the RocksDB state store provider (a Spark platform
    constraint of transformWithState — the HDFS-backed provider
    refuses the operator), which is also the provider the 100 TB
    deployment wants (SCALE.md: ~87x less executor heap). With
    ``state_ttl_ms=None`` results match `running_zscore` exactly on
    the common columns (differentially tested)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold!r}")
    t2 = threshold * threshold
    key_type = stream.schema[key_col].dataType.simpleString()
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, {id_col} {id_type}, "
        f"{value_col} double, is_outlier boolean, state_n long"
    )

    def _fixed(series):
        import numpy as np

        x = series.to_numpy(dtype="float64") * scale
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")

    class _ZScore(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n long, s long, q long", ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            n, s, q = (
                tuple(self._stats.get()) if self._stats.exists() else (0, 0, 0)
            )
            batches = [pdf for pdf in rows if not pdf.empty]
            for pdf in batches:
                vv = pdf[value_col].dropna()
                v = _fixed(vv)
                n += int(len(v))
                s += int(v.sum())
                q += int((v * v).sum())
            self._stats.update((n, s, q))
            for pdf in batches:
                ok = pdf[value_col].notna().to_numpy()
                v = _fixed(pdf[value_col].fillna(0.0))
                dev = float(n) * v.astype("float64") - float(s)
                var_n2 = float(n) * float(q) - float(s) * float(s)
                yield pd.DataFrame(
                    {
                        key_col: pdf[key_col],
                        id_col: pdf[id_col],
                        value_col: pdf[value_col],
                        "is_outlier": ok & ((dev * dev) > (t2 * var_n2)),
                        "state_n": n,
                    }
                )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_ZScore(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def sessionized_tws(
    stream: DataFrame,
    time_col: str,
    key_col: str,
    gap_ms: int,
    watermark: str = "10 minutes",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """`sessionized`'s shape on transformWithStateInPandas with
    EVENT-TIME TIMERS (round 10, VERDICT r9 ask #3): the open session
    per key lives in a ValueState (start, last, n) and a timer armed
    at last+gap closes it when the WATERMARK passes — no watermark
    polling, no per-batch full-state scan; Spark wakes exactly the
    keys whose timers expired. Emits one row per CLOSED session with
    the same window semantics as the built-in
    `session_window(time_col, gap)`: [start = first event, end = last
    event + gap), n = event count (differentially pinned against
    `sessionized` in tools/tws_timers_probe.py).

    A session also closes early when a later event for the SAME key
    arrives more than gap after it (proof of closure without waiting
    for the watermark — the timer for the old session is deleted).
    Late events behind the current watermark follow the same contract
    as session_window on the append path: they are not resurrected
    into an emitted session.

    RocksDB-only (TWS platform constraint, recorded in SCALE.md).
    State is bounded WITHOUT a TTL: every open session's own timer
    fires once the watermark passes last+gap, emits, and CLEARS the
    key's state — idle keys cannot accumulate. Spark additionally
    forbids state TTL in EventTime mode outright
    (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), so
    ``state_ttl_ms`` raises the typed gate here; the processing-time
    TTL story lives in `running_zscore_tws`."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if state_ttl_ms is not None:
        raise ValueError(
            "sessionized_tws runs in EventTime time mode, where Spark "
            "forbids state TTL (ProcessingTime-only) — and none is "
            "needed: each open session's timer clears its state when "
            "the watermark passes last+gap"
        )
    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, session_start timestamp, "
        "session_end timestamp, n long"
    )

    gap_us = gap_ms * 1000

    def _timer_ms(last_us: int) -> int:
        # timers are millisecond-grained in Spark; ceil so a timer
        # never fires before the microsecond-exact session end
        return -(-(last_us + gap_us) // 1000)

    def _emit(key, start_us: int, last_us: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                key_col: [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us + gap_us, unit="us")],
                "n": [n],
            }
        )

    class _Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._sess = handle.getValueState(
                "sess", "start_ms long, last_ms long, n long",
                ttlDurationMs=state_ttl_ms,
            )

        def handleInputRows(self, key, rows, timerValues):
            ts: list[int] = []
            for pdf in rows:
                if pdf.empty:
                    continue
                ts.extend(
                    int(x.value // 1_000)  # microseconds
                    for x in pd.to_datetime(pdf[time_col])
                )
            if not ts:
                return
            ts.sort()
            if self._sess.exists():
                start, last, n = tuple(self._sess.get())
                self._h.deleteTimer(_timer_ms(last))
            else:
                start, last, n = ts[0], ts[0] - gap_us - 1, 0
                # sentinel: first event below "opens" the session
            for t in ts:
                if t <= last + gap_us or n == 0:
                    last = max(last, t)
                    start = min(start, t)
                    n += 1
                else:
                    # a gap INSIDE the arrived data proves closure now
                    yield _emit(key, start, last, n)
                    start, last, n = t, t, 1
            self._sess.update((start, last, n))
            self._h.registerTimer(_timer_ms(last))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._sess.exists():
                return
            start, last, n = tuple(self._sess.get())
            if expiredTimerInfo.getExpiryTimeInMs() >= _timer_ms(last):
                yield _emit(key, start, last, n)
                self._sess.clear()

        def close(self) -> None:
            pass

    return stream.withWatermark(time_col, watermark).groupBy(
        key_col
    ).transformWithStateInPandas(
        statefulProcessor=_Sessions(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="EventTime",
    )


def interval_join_tws(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_time: str,
    right_time: str,
    lower_ms: int,
    upper_ms: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """`interval_join`'s shape as a CUSTOM stateful two-input operator
    on transformWithStateInPandas (round 10, VERDICT r9 ask #3):
    right_time ∈ [left_time − upper_ms, left_time − lower_ms], equi on
    ``key_col``. The two streams union into one keyed stream (side
    tag + payload packed to JSON — TWS is single-input); per key, each
    side buffers in a ListState and joins arrivals against the other
    side's buffer, and an EVENT-TIME TIMER prunes buffered rows the
    watermark proves unmatchable (left row dead once wm > lt − lower;
    right row dead once wm > rt + upper) — state stays bounded by the
    interval width × arrival rate, the same bound the built-in
    stream-stream join gets from its watermark condition
    (differentially pinned in tools/tws_timers_probe.py).

    Emits (key, left_ts, right_ts, left_json, right_json); callers
    unpack payloads with from_json. Each matched pair emits exactly
    once: arrivals match the OTHER side's buffer, then in-batch pairs
    match once, then both buffers append."""
    import json as _json

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_type = left.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, left_ts timestamp, right_ts timestamp, "
        "left_json string, right_json string"
    )

    def _pack(df: DataFrame, time_col: str, side: str) -> DataFrame:
        payload = F.to_json(F.struct(*[c for c in df.columns]))
        return df.select(
            F.col(key_col).alias("k"),
            F.col(time_col).alias("ts"),
            F.lit(side).alias("side"),
            payload.alias("payload"),
        ).withWatermark("ts", watermark)

    unioned = _pack(left, left_time, "L").unionByName(_pack(right, right_time, "R"))

    class _IntervalJoin(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._lbuf = handle.getListState("lbuf", "ts long, payload string")
            self._rbuf = handle.getListState("rbuf", "ts long, payload string")

        upper_us = upper_ms * 1000
        lower_us = lower_ms * 1000

        def _matches(self, lt: int, rt: int) -> bool:
            return (lt - self.upper_us) <= rt <= (lt - self.lower_us)

        def _emit(self, key, pairs) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: [key[0]] * len(pairs),
                    "left_ts": [pd.Timestamp(lt, unit="us") for lt, *_ in pairs],
                    "right_ts": [pd.Timestamp(rt, unit="us") for _, rt, *_ in pairs],
                    "left_json": [lp for *_, lp, _rp in pairs],
                    "right_json": [rp for *_, rp in pairs],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            new_l: list[tuple[int, str]] = []
            new_r: list[tuple[int, str]] = []
            for pdf in rows:
                if pdf.empty:
                    continue
                ms = (
                    pd.to_datetime(pdf["ts"]).astype("int64") // 1_000
                ).tolist()  # microseconds
                for t, side, payload in zip(ms, pdf["side"], pdf["payload"]):
                    (new_l if side == "L" else new_r).append((int(t), payload))
            old_l = [(int(r[0]), r[1]) for r in self._lbuf.get()]
            old_r = [(int(r[0]), r[1]) for r in self._rbuf.get()]
            pairs = []
            for lt, lp in new_l:  # new left vs buffered right
                pairs += [(lt, rt, lp, rp) for rt, rp in old_r if self._matches(lt, rt)]
            for rt, rp in new_r:  # new right vs buffered left
                pairs += [(lt, rt, lp, rp) for lt, lp in old_l if self._matches(lt, rt)]
            for lt, lp in new_l:  # in-batch pairs, exactly once
                pairs += [(lt, rt, lp, rp) for rt, rp in new_r if self._matches(lt, rt)]
            if pairs:
                yield self._emit(key, pairs)
            if new_l:
                self._lbuf.appendList([(t, p) for t, p in new_l])
            if new_r:
                self._rbuf.appendList([(t, p) for t, p in new_r])
            # one pending timer per key at the earliest moment any
            # buffered row becomes provably unmatchable
            expiries = [t - self.lower_us for t, _ in old_l + new_l] + [
                t + self.upper_us for t, _ in old_r + new_r
            ]
            if expiries:
                for t in self._h.listTimers():
                    self._h.deleteTimer(t)
                self._h.registerTimer(min(expiries) // 1000 + 1)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            wm = timerValues.getCurrentWatermarkInMs() * 1000  # µs
            keep_l = [
                (int(r[0]), r[1])
                for r in self._lbuf.get()
                if r[0] - self.lower_us >= wm
            ]
            keep_r = [
                (int(r[0]), r[1])
                for r in self._rbuf.get()
                if r[0] + self.upper_us >= wm
            ]
            self._lbuf.clear()
            self._rbuf.clear()
            if keep_l:
                self._lbuf.appendList(keep_l)
            if keep_r:
                self._rbuf.appendList(keep_r)
            expiries = [t - self.lower_us for t, _ in keep_l] + [
                t + self.upper_us for t, _ in keep_r
            ]
            if expiries:
                self._h.registerTimer(max(min(expiries), wm) // 1000 + 1)
            return
            yield  # pragma: no cover — generator protocol, nothing to emit

        def close(self) -> None:
            pass

    return unioned.groupBy("k").transformWithStateInPandas(
        statefulProcessor=_IntervalJoin(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="EventTime",
    )


def stream_into_table(
    stream: DataFrame,
    table_path: str,
    app_id: str,
    checkpoint_dir: str,
    trigger_seconds: float = 0.0,
    key_col: str | None = None,
) -> StreamingQuery:
    """Exactly-once streaming ingest into a SifTable snapshot table.

    foreachBatch gives at-least-once batch delivery: after a crash,
    Structured Streaming replays the last in-flight micro-batch from
    the checkpoint with the SAME epoch id. The sink turns that into
    exactly-once by committing each batch through
    ``SifTable.append(df, txn=(app_id, epoch_id))`` — the manifest
    records the high-water epoch per app_id, and a replayed epoch is a
    committed no-op (Delta's txnAppId/txnVersion idea, on this repo's
    atomic-rename manifest CAS). Readers see each micro-batch appear
    atomically as one snapshot version; time travel and concurrent
    compaction keep working mid-stream because the ingest is just an
    optimistic-commit writer like any other.

    The first batch creates the table (so the stream owns its schema);
    ``key_col`` seeds the key-range stats for later upserts/compaction.

    100 TB notes: each micro-batch is one parquet group + one O(1)
    manifest rename — no shuffle beyond the batch's own plan; group
    fragmentation is bounded by running `compact()` (reader-safe) on
    whatever cadence the table needs, exactly like any lakehouse
    streaming ingest."""
    from sif_spark.table import SifTable

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t = SifTable(batch_df.sparkSession, table_path)
        try:
            t._load()
        except FileNotFoundError:
            SifTable.create(batch_df.sparkSession, table_path, batch_df,
                            key_col=key_col, txn=(app_id, int(epoch_id)))
            return
        t.append(batch_df, txn=(app_id, int(epoch_id)))

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def merge_changes_into_table(
    spark: SparkSession,
    source_table_path: str,
    target_table_path: str,
    app_id: str,
    checkpoint_dir: str,
    starting_version: int = 0,
    max_versions_per_trigger: int = 0,
) -> FoldQuery:
    """Exactly-once streaming CDC-apply: stream a cdf=True SifTable's
    change feed and MERGE each micro-batch into a target SifTable —
    the Debezium loop users actually run (VERDICT r12 "Next round"
    #7), on this repo's own infrastructure end to end.

    Per micro-batch (sources.table_stream.fold_table_changes):
    settle_changes drops the update_preimages and folds to each key's
    LATEST image, then ONE conditional merge: tombstones delete matched
    rows, everything else upserts (update matched / insert
    unmatched), all clauses steering on the source-only
    ``_change_type`` column — ``evolve_schema=False`` keeps the CDC
    metadata out of the target schema. The single merge commit per
    batch carries ``txn=(app_id, epoch)``, so the fold loop's
    at-least-once replay (after a crash, the SAME epoch re-runs the
    same window) lands as a committed no-op — no double-apply. A
    change-free window (a compaction) commits nothing.

    Returns the running fold: ``processAllAvailable()`` waits until
    the source versions on disk are applied, ``stop()`` ends it, and
    ``awaitTermination()`` / ``exception()`` surface a failed merge.

    The TARGET must exist (merge needs its key spec) — typically
    created from a snapshot of the source, with the stream starting
    after that snapshot's version. 100 TB notes: each batch is one
    merge = O(batch + touched groups) via range+bloom skipping; a
    tombstone-heavy workload pairs naturally with a dv=True target
    once deletes outweigh updates.
    """
    from sif_spark.sources.table_stream import (
        fold_table_changes,
        settle_changes,
    )
    from sif_spark.table import SifTable, _key_cols, _schema_names

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t = SifTable(batch_df.sparkSession, target_table_path)
        m = t._load()
        keys = _key_cols(m)
        if not keys:
            raise ValueError(
                "merge_changes_into_table target must be keyed "
                "(key_col=/key_cols=)"
            )
        latest, rows, _, _ = settle_changes(batch_df, keys)
        if rows == 0:
            return  # a change-free window (compact): nothing to commit
        biz = [n for n in _schema_names(m["schema"]) if n in batch_df.columns]
        t.merge(
            latest,
            when_matched_delete="s.`_change_type` = 'delete'",
            when_matched_update={
                c: f"s.`{c}`" for c in biz if c not in keys
            },
            when_matched_update_condition="s.`_change_type` <> 'delete'",
            when_not_matched_insert={c: f"s.`{c}`" for c in biz},
            when_not_matched_insert_condition="s.`_change_type` <> 'delete'",
            txn=(app_id, int(epoch_id)),
            evolve_schema=False,
        )

    return fold_table_changes(
        spark, source_table_path, apply_batch, checkpoint_dir, feed="cdf",
        starting_version=starting_version,
        max_versions_per_trigger=max_versions_per_trigger,
    )
