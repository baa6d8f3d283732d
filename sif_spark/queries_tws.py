"""Catalog entries for the event-time-timer transformWithState ports
(round 10, VERDICT r9 ask #3) — the differential probes
(tools/tws_timers_probe.py) pin them against the built-in operators;
these entries additionally put the DuckDB oracle on them at every
gate scale, the same standard every other operator meets.

Determinism notes that make a TIMER-emitting stream oracle-able on a
bounded replay:

- q167 emits only CLOSED sessions, and under availableNow the final
  no-data batch advances the watermark to max(ts) − delay and fires
  every timer at or below it — so the emitted set is exactly the
  batch-SQL sessions with last_event + gap ≤ max(ts) − delay. The
  delay is 600.5 s (fractional on purpose: event times are whole
  seconds, so the boundary comparison can never tie and both engines'
  strict/non-strict conventions coincide).
- q168's custom stateful interval join emits matches ON ARRIVAL
  (timers only bound state), so a bounded replay emits the complete
  inner-join pair set and q62's plain batch SQL is an exact oracle —
  the same argument as the built-in join it ports.

Platform: transformWithState needs the RocksDB state-store provider
(set per entry and restored) and the protobuf protocol package
(sif_spark/streaming/tws_env.py — get_session exports the shim before
the JVM starts; entries raise the typed gate if neither is possible).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sif_spark.queries_ext import _io_dir, _normalize_event_ts, _stream_partitions

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _require_tws(spark: SparkSession) -> None:
    from sif_spark.streaming.tws_env import ensure_protobuf_env

    if not ensure_protobuf_env():
        raise RuntimeError(
            "transformWithState needs the protobuf protocol package and "
            "neither protobuf nor the SDK shim source is available here "
            "(sif_spark/streaming/tws_env.py)"
        )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = _io_dir(sf_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw_schema = spark.read.parquet(path).schema
    return _normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(stream_dir)
    )


class _provider:
    """Set the RocksDB provider for the entry's query, restore after —
    TWS refuses the HDFS-backed provider (platform gate, SCALE.md)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(_PROVIDER_KEY, None)
        self.spark.conf.set(_PROVIDER_KEY, _ROCKSDB)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(_PROVIDER_KEY)
        else:
            self.spark.conf.set(_PROVIDER_KEY, self.prev)


def q167_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q57's session shape on `sessionized_tws` — per-user 30-minute
    sessions CLOSED BY EVENT-TIME TIMERS instead of the session_window
    aggregate: state is one (start, last, n) triple per open session
    and a timer at last+gap; no per-batch state scan, no watermark
    polling. The user_id < 50 cut keeps state-store commits
    proportionate for a catalog entry (q62's rationale); the oracle
    replays gaps-and-islands sessions and keeps those the final
    watermark (max ts − 600.5 s) proves closed."""
    from sif_spark.streaming.stream import sessionized_tws

    _require_tws(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    stream = _events_stream(spark, sf_dir).filter(F.col("user_id") < 50).select(
        "user_id", "ts"
    )
    out = sessionized_tws(
        stream, "ts", "user_id", gap_ms=1_800_000, watermark="600500 milliseconds"
    )
    name = f"cat_tws_sessions_{abs(hash(sf_dir)) % 10_000}"
    with _stream_partitions(spark), _provider(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("user_id", "session_start")


ORACLE_Q167 = """
WITH e AS (
  SELECT user_id, event_id, ts FROM events WHERE user_id < 50
),
marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sess AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ids GROUP BY user_id, sid
)
SELECT user_id, session_start,
       last_ts + INTERVAL 1800 SECOND AS session_end, n
FROM sess
WHERE epoch_us(last_ts) + 1800 * 1000000
      <= (SELECT MAX(epoch_us(ts)) FROM e) - 600500000
ORDER BY user_id, session_start
"""


def q168_interval_join_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q62's purchases⋈clicks interval join on `interval_join_tws` —
    the custom two-input stateful operator (union + side tag, per-side
    ListState buffers, timer-pruned by the watermark). Matches emit on
    arrival, so the bounded replay is complete and q62's batch SQL is
    the oracle verbatim; payloads ride as JSON and the ids are
    extracted after the join."""
    from sif_spark.streaming.stream import interval_join_tws

    _require_tws(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    def side(kind: str) -> DataFrame:
        return _events_stream(spark, sf_dir).filter(
            (F.col("event_type") == kind) & (F.col("user_id") < 50)
        ).select("event_id", "user_id", "ts")

    purchases = side("purchase")
    clicks = side("click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    joined = interval_join_tws(
        purchases, clicks, "user_id", "ts", "cts",
        lower_ms=0, upper_ms=3_600_000, watermark="1 hour",
    ).select(
        F.get_json_object("left_json", "$.event_id").cast("long").alias("event_id"),
        F.col("user_id"),
        F.get_json_object("right_json", "$.click_id").cast("long").alias(
            "click_id"
        ),
    )
    name = f"cat_tws_ijoin_{abs(hash(sf_dir)) % 10_000}"
    with _stream_partitions(spark), _provider(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).orderBy("event_id", "click_id")


TWS_QUERIES = {
    "q167_sessions_tws": q167_sessions_tws,
    "q168_interval_join_tws": q168_interval_join_tws,
}


from sif_spark.queries_ext import ORACLE_Q62  # noqa: E402  (verbatim reuse)

TWS_ORACLES = {
    "q167_sessions_tws": ORACLE_Q167,
    "q168_interval_join_tws": ORACLE_Q62,
}
