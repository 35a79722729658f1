"""Time-series / event-stream operators over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.B "Streaming-only
operators: none") — these are the beyond-parity operators motivated by
the BASELINE north star, implemented with Spark's batch equivalents of
the Structured Streaming windowing primitives (``window()``,
``session_window()``), so the exact same expressions lift onto
``readStream`` unchanged (see easydb_server_spark/streaming/).

All window aggregations are single-shuffle two-phase aggs keyed on
(window, key) — the canonical 100 TB shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.queries._util import load


def q_ts_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: count + sum per (window, event_type)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_TS_TUMBLING = """
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q_ts_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h size, 1h slide): each event lands in 2
    windows. Spark's window() emits both; the oracle replicates with an
    explicit 2-offset expansion."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n", "sum_value")
        .orderBy("window_start")
    )


ORACLE_TS_SLIDING = """
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR AS VARCHAR) AS window_start,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) o(k)
GROUP BY 1
ORDER BY window_start
"""


def session_summary(events: DataFrame) -> DataFrame:
    """(user_id, session_start, n_events, session_value) per 5-minute
    inactivity-gap session_window; batch or streaming ``events``. The
    oracle side is SESSION_ISLANDS_SQL."""
    return (
        events.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


# gaps-and-islands replay of session_summary over `events`: closes the
# caller's `flagged AS (SELECT user_id, ts, value,` CTE and groups the
# islands; the caller adds any HAVING and the ORDER BY
SESSION_ISLANDS_SQL = """         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 5 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM islands
GROUP BY user_id, session_id
"""


def q_ts_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-min inactivity gap) per user — Spark's
    session_window in batch mode; oracle is the classic
    gaps-and-islands (lag + running flag sum)."""
    return session_summary(load(spark, sf_dir, "events")).orderBy("user_id", "session_start")


ORACLE_TS_SESSION = (
    """
WITH flagged AS (
  SELECT user_id, ts, value,
         -- STRICT >: Spark's session_window MERGES an event landing
         -- exactly gap after the previous one (measured on 4.1 — the
         -- [start, end) doc reading is wrong at the boundary; caught
         -- by the events regeneration differential's exact-gap rows)
"""
    + SESSION_ISLANDS_SQL
    + "ORDER BY user_id, session_start\n"
)


def q_ts_date_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_bin with arbitrary stride + origin (DataFusion's date_bin;
    SURVEY.md §7.3 expression shim): exact integer micros arithmetic,
    no UDF."""
    e = load(spark, sf_dir, "events")
    origin = "2024-01-01 00:07:00"
    stride_us = 15 * 60 * 1_000_000
    origin_us = F.unix_micros(F.to_timestamp(F.lit(origin)))
    bin_col = F.timestamp_micros(
        F.floor((F.unix_micros(F.col("ts")) - origin_us) / stride_us).cast("long") * stride_us + origin_us
    )
    return (
        e.groupBy(bin_col.cast("string").alias("bin_start"))
        .agg(F.count("*").alias("n"))
        .orderBy("bin_start")
    )


ORACLE_TS_DATE_BIN = """
SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts, TIMESTAMP '2024-01-01 00:07:00') AS VARCHAR) AS bin_start,
       COUNT(*) AS n
FROM events
GROUP BY 1
ORDER BY bin_start
"""


def q_ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis per user (lag over event time) — the
    time-series idiom behind dropout/latency monitoring."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds — immune to float-rounding divergence
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        e.withColumn("gap_us", gap_us)
        .where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("total_gap_us"),
        )
        .where(F.col("user_id") <= 200)
        .orderBy("user_id")
    )


ORACLE_TS_GAP_DETECTION = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id, COUNT(*) AS n_gaps,
       CAST(MAX(gap_us) AS BIGINT)  AS max_gap_us,
       CAST(SUM(gap_us) AS BIGINT)  AS total_gap_us
FROM gaps WHERE gap_us IS NOT NULL AND user_id <= 200
GROUP BY user_id
ORDER BY user_id
"""


def _purchase_click_asof(spark: SparkSession, sf_dir: str, **asof_kw) -> DataFrame:
    """Each purchase event (p_id, user_id, ts) as-of joined to the same
    user's click events (quote columns c_event_id, c_value) through
    operators/asof.asof_join; ``asof_kw`` picks direction, tolerance
    and tiebreak."""
    from easydb_server_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "event_id", "value")
    return asof_join(
        purchases.withColumnRenamed("event_id", "p_id"),
        clicks.withColumnRenamed("event_id", "c_event_id").withColumnRenamed("value", "c_value"),
        on="user_id",
        probe_ts="ts",
        quote_ts="ts",
        quote_cols=["c_event_id", "c_value"],
        **asof_kw,
    )


def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each purchase event picks up the
    most recent preceding click by the same user — the union+window
    composition from operators/asof.py (one shuffle, no range
    explosion). Oracle: DuckDB's native ASOF LEFT JOIN."""
    joined = _purchase_click_asof(spark, sf_dir)
    return joined.select(
        "p_id",
        "user_id",
        F.col("asof_c_event_id").alias("c_id"),
        F.round("asof_c_value", 2).alias("c_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))).alias("lag_us"),
    ).orderBy("p_id")


ORACLE_TS_ASOF_JOIN = """
WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id AS c_id, user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.p_id, p.user_id, c.c_id,
       ROUND(c.value, 2)                                  AS c_value,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT)    AS lag_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.p_id
"""


def q_ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via the bucketized equi-join rewrite
    (operators/rangejoin.py): every error event opens a one-hour
    incident window; count the clicks by the same user inside it.
    The oracle is the plain O(n*m) range-predicate join."""
    from easydb_server_spark.operators.rangejoin import range_join

    e = load(spark, sf_dir, "events")
    incidents = (
        e.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("user_id").alias("i_user"),
            F.unix_micros("ts").alias("lo"),
            (F.unix_micros("ts") + 3600 * 1_000_000).alias("hi"),
        )
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.unix_micros("ts").alias("c_us")
    )
    joined = range_join(clicks, incidents, "c_us", "lo", "hi", bucket_width=3600 * 1_000_000)
    return (
        joined.where(F.col("c_user") == F.col("i_user"))
        .groupBy("incident_id")
        .agg(F.count("*").alias("n_clicks"))
        .orderBy("incident_id")
    )


ORACLE_TS_RANGE_JOIN = """
WITH i AS (
  SELECT event_id AS incident_id, user_id,
         epoch_us(ts) AS lo, epoch_us(ts) + 3600000000::BIGINT AS hi
  FROM events WHERE event_type = 'error'
),
c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click')
SELECT i.incident_id, COUNT(*) AS n_clicks
FROM i JOIN c ON c.user_id = i.user_id AND c.c_us >= i.lo AND c.c_us <= i.hi
GROUP BY i.incident_id
ORDER BY i.incident_id
"""


def q_ts_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour metrics via a time-interval RANGE frame —
    the no-self-join sliding metric (one shuffle on the partition key;
    each frame is evaluated inside the partition, so the plan is a
    single window exchange at any scale).

    Frame equivalence: ordering on ``unix_micros(ts)`` with
    ``rangeBetween(-3_600_000_000, 0)`` matches DuckDB's
    ``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`` exactly
    (timestamps are microsecond-precision in both engines). The sum is
    decimal-exact so the two engines agree bit-for-bit.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.where(F.col("user_id") <= 50)
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).alias("n_1h"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
            .cast("double")
            .alias("sum_1h"),
        )
        .orderBy("event_id")
    )


ORACLE_TS_ROLLING_1H = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS sum_1h
FROM events
WHERE user_id <= 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def q_ts_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour- and day-resolution
    rollups of the event stream in ONE scan via GROUPING SETS — the
    multi-resolution materialization a time-series store (e.g. a
    Timescale continuous aggregate) maintains, expressed relationally
    so Catalyst expands it into a single shuffle per grouping set.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("_mr_events")
    return spark.sql(
        """
        SELECT date_trunc('DAY', ts)  AS day,
               date_trunc('HOUR', ts) AS hour,
               CAST(grouping(date_trunc('HOUR', ts)) AS INT) AS is_day_level,
               event_type,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        FROM _mr_events
        GROUP BY GROUPING SETS (
          (date_trunc('DAY', ts), event_type),
          (date_trunc('DAY', ts), date_trunc('HOUR', ts), event_type)
        )
        ORDER BY day, is_day_level, hour ASC NULLS FIRST, event_type
        """
    )


ORACLE_TS_MULTI_ROLLUP = """
SELECT date_trunc('day', ts)  AS day,
       date_trunc('hour', ts) AS hour,
       CAST(grouping(date_trunc('hour', ts)) AS INT) AS is_day_level,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY GROUPING SETS (
  (date_trunc('day', ts), event_type),
  (date_trunc('day', ts), date_trunc('hour', ts), event_type)
)
ORDER BY day, is_day_level, hour ASC NULLS FIRST, event_type
"""


def q_ts_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid resampling with last-observation-carried-forward
    for eight users' event values — the gap-fill a dashboard/feature
    pipeline runs over an irregular stream."""
    from easydb_server_spark.operators.resample import resample_locf

    e = load(spark, sf_dir, "events").where(F.col("user_id") < 8)
    out = resample_locf(e, "ts", "user_id", "value", step="1 hour")
    return out.select(
        "user_id", F.col("grid_ts").cast("string").alias("grid_ts"), "value_locf"
    ).orderBy("user_id", "grid_ts")


ORACLE_TS_RESAMPLE_LOCF = """
WITH ev AS (SELECT user_id AS k, ts, value FROM events WHERE user_id < 8),
b AS (
  SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM ev
),
keys AS (SELECT DISTINCT k FROM ev),
grid AS (
  SELECT k, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts FROM keys, b
),
u AS (
  SELECT k, ts AS gts, CAST(value AS DOUBLE) AS v, 0 AS is_grid FROM ev
  UNION ALL
  SELECT k, gts, NULL, 1 FROM grid
),
f AS (
  SELECT k, gts, is_grid,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY gts, is_grid, v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS value_locf
  FROM u
)
SELECT k AS user_id, CAST(gts AS VARCHAR) AS grid_ts,
       ROUND(value_locf, 2) AS value_locf
FROM f WHERE is_grid = 1
ORDER BY user_id, grid_ts
"""


def q_ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid linear interpolation of eight users' event values —
    the time-weighted fill between each grid point's neighbors."""
    from easydb_server_spark.operators.resample import resample_interp

    e = load(spark, sf_dir, "events").where(F.col("user_id") < 8)
    out = resample_interp(e, "ts", "user_id", "value", step="1 hour")
    return out.select(
        "user_id", F.col("grid_ts").cast("string").alias("grid_ts"), "value_interp"
    ).orderBy("user_id", "grid_ts")


ORACLE_TS_RESAMPLE_INTERP = """
WITH ev0 AS (
  SELECT user_id AS k, ts, CAST(value AS DOUBLE) AS value
  FROM events WHERE user_id < 8 AND value IS NOT NULL
),
b AS (
  SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM ev0
),
keys AS (SELECT DISTINCT k FROM ev0),
grid AS (
  SELECT k, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts FROM keys, b
),
u AS (
  SELECT k, ts AS gts, epoch_us(ts) AS et, value AS v, 0 AS is_grid FROM ev0
  UNION ALL
  SELECT k, gts, NULL, NULL, 1 FROM grid
),
f AS (
  SELECT k, gts, is_grid,
         LAST_VALUE(et IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY gts, is_grid, v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY gts, is_grid, v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         FIRST_VALUE(et IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY gts, is_grid, v
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY gts, is_grid, v
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
  FROM u
)
SELECT k AS user_id, CAST(gts AS VARCHAR) AS grid_ts,
       ROUND(CASE WHEN t0 = epoch_us(gts) THEN v0
                  ELSE v0 + (v1 - v0) * CAST(epoch_us(gts) - t0 AS DOUBLE)
                                       / CAST(t1 - t0 AS DOUBLE) END, 4) AS value_interp
FROM f WHERE is_grid = 1
ORDER BY user_id, grid_ts
"""


def q_ts_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order key over (user_id, value) for the first 5000
    events — the multi-dimensional clustering key behind
    OPTIMIZE ZORDER BY, computed as pure scan-side bit arithmetic
    against broadcast corpus bounds."""
    from easydb_server_spark.operators.zorder import zorder_key

    e = load(spark, sf_dir, "events").where(F.col("event_id") <= 5000)
    return (
        zorder_key(e, ["user_id", "value"], bits=8)
        .select("event_id", "zkey")
        .orderBy("event_id")
    )


def _zorder_oracle(cols: list[str], bits: int) -> str:
    n = len(cols)
    scale = float((1 << bits) - 1)
    qs = []
    for c in cols:
        qs.append(
            f"CAST(FLOOR((CAST({c} AS DOUBLE) - mn_{c}) / GREATEST(mx_{c} - mn_{c}, 1e-12) * {scale}) AS BIGINT) AS q_{c}"
        )
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(f"((( q_{c} >> {i}) & 1) << {i * n + j})")
    bounds = ", ".join(
        f"MIN(CAST({c} AS DOUBLE)) AS mn_{c}, MAX(CAST({c} AS DOUBLE)) AS mx_{c}" for c in cols
    )
    return f"""
WITH ev AS (SELECT * FROM events WHERE event_id <= 5000),
b AS (SELECT {bounds} FROM ev),
q AS (SELECT ev.event_id, {', '.join(qs)} FROM ev, b)
SELECT event_id, CAST({' + '.join(terms)} AS BIGINT) AS zkey
FROM q ORDER BY event_id
"""


ORACLE_TS_ZORDER_KEY = _zorder_oracle(["user_id", "value"], 8)


def q_ts_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py): each user's
    event_type becomes a versioned attribute with half-open
    [valid_from, valid_to) intervals — a new version wherever the
    attribute IS DISTINCT FROM its predecessor in (ts, event_id)
    order, the last version per key current. The incremental fold
    (scd2_merge == full rebuild) is pytest-locked; this entry oracles
    the from-scratch build."""
    from easydb_server_spark.operators.scd import scd2_build

    e = load(spark, sf_dir, "events")
    return scd2_build(e, "user_id", "event_type", "ts", "event_id").orderBy(
        "key", "valid_from"
    )


ORACLE_TS_SCD2_HISTORY = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
ch AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id AS key, event_type AS attr, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM ch
ORDER BY key, valid_from
"""


def q_ts_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py direction="forward"):
    each purchase picks up the NEXT click by the same user within 10
    minutes — the "next reading after the alert" lookup — with ties at
    equal timestamps broken to the smallest click event_id so the
    result is partition-order independent. Same one-shuffle
    union+window plan as the backward entry, window ordered ts DESC.
    Unmatched purchases keep NULL click columns (left semantics); the
    oracle is the plain LEFT-join + row_number replay."""
    joined = _purchase_click_asof(
        spark, sf_dir, tolerance_seconds=600, direction="forward", quote_tiebreak="c_event_id"
    )
    return joined.select(
        "p_id",
        "user_id",
        F.col("asof_c_event_id").alias("c_id"),
        F.col("asof_c_value").alias("c_value"),
        (F.unix_micros(F.col("asof_ts")) - F.unix_micros(F.col("ts"))).alias("lead_us"),
    ).orderBy("p_id")


ORACLE_TS_ASOF_FORWARD = """
WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id AS c_id, user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p_id, user_id, c_id, c_value, lead_us FROM (
  SELECT p.p_id, p.user_id, c.c_id, c.value AS c_value,
         CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT) AS lead_us,
         row_number() OVER (
           PARTITION BY p.p_id ORDER BY c.ts ASC NULLS LAST, c.c_id ASC NULLS LAST
         ) AS rn
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts
   AND epoch_us(c.ts) - epoch_us(p.ts) <= 600000000
) WHERE rn = 1
ORDER BY p_id
"""


def q_ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: every event opens a
    5-minute activity interval [ts, ts+300s); overlapping or touching
    intervals per user merge into coverage spans (the downtime-window
    / session-coverage primitive range_join doesn't give you). Pure
    integer microseconds end to end. One shuffle for the two same-spec
    windows (prev-running-max + island numbering), one for the island
    aggregate — the canonical distributed islands shape; at 100 TB the
    window partitions by user (bounded per-key state, external sort
    spill) and never sees a corpus-wide partition. Oracle: the
    identical two-window SQL."""
    from easydb_server_spark.operators.rangejoin import merge_intervals

    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("lo"),
        (F.unix_micros("ts") + 300 * 1_000_000).alias("hi"),
    )
    return (
        merge_intervals(iv, "user_id", "lo", "hi", "event_id")
        .select(
            "user_id",
            "island",
            F.col("span_start").alias("span_start_us"),
            F.col("span_end").alias("span_end_us"),
            "n_events",
        )
        .orderBy("user_id", "island")
    )


ORACLE_TS_INTERVAL_MERGE = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS lo,
         epoch_us(ts) + 300000000::BIGINT AS hi
  FROM events
),
marked AS (
  SELECT user_id, lo, hi,
         CASE
           WHEN MAX(hi) OVER (
                  PARTITION BY user_id ORDER BY lo, hi, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
             OR lo > MAX(hi) OVER (
                  PARTITION BY user_id ORDER BY lo, hi, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                )
           THEN 1 ELSE 0
         END AS new_island,
         event_id
  FROM iv
),
islands AS (
  SELECT user_id, lo, hi,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY lo, hi, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM marked
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       CAST(MIN(lo) AS BIGINT) AS span_start_us,
       CAST(MAX(hi) AS BIGINT) AS span_end_us,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, island
ORDER BY user_id, island
"""


def q_ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregular samples (the TSDB twin of
    plain AVG, which over-weights bursty periods): per user, each
    event's value holds (LOCF) until the next event; twap =
    sum(value_i * dt_i) / sum(dt_i) over the observed span. Exact
    cross-engine: values quantize once to floor(value*100) INT64
    (fixture values carry 2 decimals; |qv| <= ~6e4), weights are
    integer microseconds, and the final 6-decimal rounding is the
    chunked integer round_div — headroom measured on the sf0.1
    fixture: |num| <= 2.3e16, den*100 <= 2.6e14, both orders of
    magnitude inside the INT64 contract. Ties at equal timestamps
    order by event_id on both engines (a tie's segment has dt=0, but
    WHICH value pairs with the following gap depends on the order).
    Scale shape: one keyed window (lead) + one hash aggregate — the
    same single-shuffle profile as resampling; users whose events all
    share one instant (den=0) are excluded on both sides."""
    from pyspark.sql import Window

    from easydb_server_spark.functions.exactround import round_div

    e = load(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value").cast("double") * F.lit(100.0)).cast("long").alias("qv"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seg = b.withColumn("dt", F.lead("t_us").over(w) - F.col("t_us")).where(
        F.col("dt").isNotNull()
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("qv") * F.col("dt")).alias("num"),
        F.sum("dt").alias("den"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    return (
        agg.where(F.col("den") > 0)
        .select(
            "user_id",
            "n_segments",
            round_div("num", "den * 100", 6).alias("twap_value"),
        )
        .orderBy("user_id")
    )


ORACLE_TS_TWAP = _TS_TWAP_TEMPLATE = """
WITH b AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CAST(floor(value * 100.0) AS BIGINT) AS qv
  FROM events
),
seg AS (
  SELECT user_id, qv,
         LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) - t_us AS dt
  FROM b
),
agg AS (
  SELECT user_id,
         CAST(SUM(qv * dt) AS BIGINT) AS num,
         CAST(SUM(dt) AS BIGINT) AS den,
         COUNT(*) AS n_segments
  FROM seg WHERE dt IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_segments, {twap} AS twap_value
FROM agg WHERE den > 0
ORDER BY user_id
"""

from easydb_server_spark.functions.exactround import round_div_sql as _round_div_sql  # noqa: E402

ORACLE_TS_TWAP = _TS_TWAP_TEMPLATE.format(
    twap=_round_div_sql("num", "den * 100", 6, "duckdb")
)


def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the finance/metrics bar primitive): per
    (1-hour bucket, event_type) the opening value, high, low, closing
    value, and event count. open/close ride the SAME hash aggregate as
    min/max via min(struct(t_us, event_id, value)) — lexicographic
    struct ordering makes the earliest/latest ROW's value an aggregate,
    so the plan is ONE two-phase shuffle with map-side combine and no
    window (at 100 TB a per-bucket window would sort every bucket;
    the struct-argmin folds instead). Values are raw doubles passed
    through untouched (no arithmetic -> no rounding discipline
    needed); ties at equal timestamps break on event_id identically in
    both engines (DuckDB compares structs field-by-field like Spark)."""
    e = load(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    bucket = F.timestamp_micros(
        (t_us - ((t_us % 3600000000) + 3600000000) % 3600000000)
    )
    b = e.select(
        bucket.cast("string").alias("bucket_start"),
        "event_type",
        t_us.alias("t_us"),
        "event_id",
        "value",
    )
    first_row = F.min(F.struct("t_us", "event_id", "value")).alias("fr")
    last_row = F.max(F.struct("t_us", "event_id", "value")).alias("lr")
    return (
        b.groupBy("bucket_start", "event_type")
        .agg(
            first_row,
            last_row,
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "bucket_start",
            "event_type",
            F.col("fr.value").alias("open"),
            "high",
            "low",
            F.col("lr.value").alias("close"),
            "n",
        )
        .orderBy("bucket_start", "event_type")
    )


ORACLE_TS_OHLC = """
WITH b AS (
  SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS bucket_start,
         event_type, epoch_us(ts) AS t_us, event_id, value
  FROM events
)
SELECT bucket_start, event_type,
       (MIN(struct_pack(t := t_us, e := event_id, v := value))).v AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       (MAX(struct_pack(t := t_us, e := event_id, v := value))).v AS close,
       COUNT(*) AS n
FROM b
GROUP BY bucket_start, event_type
ORDER BY bucket_start, event_type
"""
