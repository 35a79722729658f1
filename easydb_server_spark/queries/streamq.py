"""Structured Streaming conformance queries.

These run a REAL streaming execution (readStream over the events
parquet, availableNow trigger, memory sink) and return the final
result DataFrame — oracled by ANSI SQL over the same bounded table,
proving batch/stream semantic equivalence.

All six queries run in **append** output mode — the mode an unbounded
production stream actually runs in: a window/session is emitted
exactly once, when the watermark passes its end, and its state is
evicted. (Complete mode — the r1–r5 form of the three window queries —
retains every window's state forever, so ``withWatermark`` never
evicts anything: fine for a bounded replay, unbounded state at a real
100 TB/day stream.) The price is that the trailing still-open windows
are withheld, so each oracle restricts itself to watermark-closed
windows: ``window_end <= max(ts) − delay``.

Emission boundary, verified empirically on the availableNow replay
(sf0.001, tumbling 1 h / watermark 2 h): Spark's final no-data
micro-batch flushes groups with ``window_end <= watermark`` where
``watermark = max(event time) − delay`` truncated to milliseconds;
the oracles mirror both the comparison and the ms truncation
(``date_trunc('milliseconds', MAX(ts))``).
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.queries.timeseries import SESSION_ISLANDS_SQL, session_summary
from easydb_server_spark.streaming.events import run_to_memory


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easydb_server_spark.queries._util import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # streaming state-store partition count is fixed per query at start;
    # a vanilla (driver-built) session defaults to 200 — far too many
    # tasks for this source, and unlike batch, AQE can't coalesce them
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_ts(src)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts, append mode: each 1 h window
    is emitted once the 2 h watermark passes its end and its state is
    evicted — bounded state on an unbounded stream. Oracle = batch
    tumbling aggregate restricted to watermark-closed windows."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").cast("string").alias("window_start"), "event_type", "n", "total")
    )
    name = f"stream_tumbling_{int(time.time() * 1000)}"
    run_to_memory(agg, name, output_mode="append")
    return spark.table(name).orderBy("window_start", "event_type")


ORACLE_STREAM_TUMBLING = """
WITH wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w FROM events)
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events
WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (2 h size / 1 h slide, overlapping
    state), append mode: each of the two windows an event lands in is
    emitted when the watermark passes ITS end — the later-ending
    overlap stays open longer. Oracle = 2-offset expansion restricted
    to watermark-closed windows."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n", "sum_value")
    )
    name = f"stream_sliding_{int(time.time() * 1000)}"
    run_to_memory(agg, name, output_mode="append")
    return spark.table(name).orderBy("window_start")


ORACLE_STREAM_SLIDING = """
WITH wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w FROM events)
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR AS VARCHAR) AS window_start,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) o(k)
WHERE time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR + INTERVAL 2 HOUR
        <= (SELECT w FROM wm)
GROUP BY 1
ORDER BY window_start
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (stateful merge), append mode: a
    session is emitted once the 30 min watermark passes its end (last
    event + 5 min gap) and its state is evicted. Oracle = batch
    gaps-and-islands restricted to watermark-closed sessions."""
    agg = session_summary(_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes"))
    name = f"stream_session_{int(time.time() * 1000)}"
    run_to_memory(agg, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "session_start")


ORACLE_STREAM_SESSION = (
    """
WITH wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 30 MINUTE AS w FROM events),
flagged AS (
  SELECT user_id, ts, value,
         -- STRICT >: Spark's session_window merges an exactly-at-gap
         -- event (same boundary fact as the batch oracle,
         -- queries/timeseries.py ORACLE_TS_SESSION)
"""
    + SESSION_ISLANDS_SQL
    + """HAVING MAX(ts) + INTERVAL 5 MINUTE <= (SELECT w FROM wm)
ORDER BY user_id, session_start
"""
)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event dedup: ``dropDuplicates`` keyed on (user_id,
    event_type, 1h event-time window) with a watermark — the standard
    at-most-once-per-key-per-window ingestion guard for training-data
    event feeds. The window struct carries event-time metadata, so the
    dedup state for a window evicts once the watermark passes it —
    bounded state at unbounded ingest. A single availableNow pass over
    the bounded table equals the batch DISTINCT oracle."""
    src = _events_stream(spark, sf_dir)
    dedup = (
        src.withWatermark("ts", "2 hours")
        .withColumn("w", F.window("ts", "1 hour"))
        .dropDuplicates(["user_id", "event_type", "w"])
        .select(
            "user_id",
            "event_type",
            F.col("w.start").cast("string").alias("window_start"),
        )
    )
    name = f"stream_dedup_{int(time.time() * 1000)}"
    run_to_memory(dedup, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "event_type", "window_start")


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type,
       CAST(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS window_start
FROM events
ORDER BY user_id, event_type, window_start
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a real streaming job: each
    view joined to the same user's purchases within 6 hours after it.
    Both sides watermarked (≥ the join delay) and the condition bounds
    event time in both directions, so buffered rows evict once they
    can no longer match — bounded state at unbounded ingest. A single
    availableNow pass equals the batch interval join oracle."""
    from easydb_server_spark.streaming.events import stream_stream_join

    src = _events_stream(spark, sf_dir)
    joined = stream_stream_join(
        src.where(F.col("event_type") == "view"),
        src.where(F.col("event_type") == "purchase"),
        max_delay="6 hours",
        watermark="7 hours",
    ).select("v_id", "p_id", F.col("v_user").alias("user_id"))
    name = f"stream_join_{int(time.time() * 1000)}"
    run_to_memory(joined, name, output_mode="append")
    return spark.table(name).orderBy("v_id", "p_id")


ORACLE_STREAM_JOIN = """
SELECT v.event_id AS v_id, p.event_id AS p_id, v.user_id
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
ORDER BY v_id, p_id
"""


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): funnel
    detection, run as a real streaming job. No SQL oracle by
    construction — the sequential reset semantics aren't
    ANSI-expressible; correctness evidence is the batch↔stream
    equivalence test (tests/test_stateful.py) and the unit suite for
    the state machine."""
    from easydb_server_spark.operators.stateful import funnel_detection_stream

    out = funnel_detection_stream(_events_stream(spark, sf_dir), timeout_s=3 * 86400)
    name = f"stream_funnel_{int(time.time() * 1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("user_id", "signup_ts")
