"""Shared helpers for the conformance query suite.

Every query in :mod:`easydb_server_spark.queries` is written twice:
once Spark-first (DataFrame API / spark.sql) and once as ANSI SQL for
the DuckDB oracle. The driver compares row-count + schema +
order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded to a fixed number of decimals;
- integer-valued aggregates are cast to BIGINT on the oracle side
  (DuckDB SUM(BIGINT) returns HUGEINT, Spark returns BIGINT).

Each piece is written once:

- one generator per synthetic corpus: a recipe that more than one
  query builds from (the sawtooth and tone audio clips, the GIF image
  and video frames, the C4 pages, the crawl HTML and URL hosts, the
  dup-injected documents and vectors) lives in a module-level
  ``_name(spark, sf_dir, ...)`` function that takes only the values
  its callers vary; ``tests/test_registry.py`` fails when two query
  functions carry the same nested ``build`` closure;
- oracles compose shared fragments: a CTE chain that more than one
  oracle replays is a module-level string or a small function that
  returns one, inserted with an f-string or ``+``. The composed oracle
  text is what the driver hashes against, so a fragment edit is an
  oracle edit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Test-only dial: when set, every table load() returns is
# repartitioned to this many partitions. The repartition-invariance
# sweep (tests/test_registry.py) uses it to vary the PHYSICAL
# partitioning of every query's inputs without touching query code —
# a float-summation-order bug (the r10 emb_covariance flake) shows up
# as a canon_frame mismatch between _REPARTITION=1 and =32 runs.
_REPARTITION: int | None = None

# (applicationId, sf_dir, name, _REPARTITION) -> DataFrame. A loaded
# DataFrame is an immutable plan whose file listing + schema were the
# expensive part (~0.10 s per parquet dir — 40% of tpch_q1's per-build
# cost, paid on EVERY bench iteration); reuse is safe because the
# bench/driver fixtures are written before the process starts.
# Session-scoped via applicationId so a fresh session never sees a
# stale plan.
_LOAD_CACHE: dict[tuple[str, str, str, int | None], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the test tables as a DataFrame (parquet scan).

    Column pruning + predicate pushdown reach the parquet reader
    automatically because callers express plans declaratively.

    ``events.ts`` arrives in whichever shape the driver generated that
    round's parquet with — see :func:`normalize_event_ts`.

    Memoized per (session, dir, table): the parquet file listing and
    footer schema read happen at DataFrame CREATION and dominated
    query-build time; executions always re-read file contents, so the
    cache can only go stale if the same path's file SET is rewritten
    mid-process (the driver regenerates fixtures between process
    launches; tests that rewrite tables use fresh tmp dirs).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name, _REPARTITION)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # runtime-settable; required even when the caller (e.g. the
        # driver) built the SparkSession without our session factory
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # epoch math (unix_timestamp, timestamp_micros→string) renders in
    # the session timezone; the driver may build its session with a
    # non-UTC default, which would silently shift every such value
    # away from the (timezone-naive) DuckDB oracle — pin UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    if _REPARTITION is not None:
        df = df.repartition(_REPARTITION)
    _LOAD_CACHE[key] = df
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zoned TIMESTAMP.

    The driver regenerates the testdata between rounds and the physical
    type has changed across rounds, so handle every shape:

    - TIMESTAMP(NANOS) → nanosecond LongType under
      ``legacy.parquet.nanosAsLong`` → integer-DIV to micros (``DIV``,
      not ``/``: nanos exceed 2^53, double division loses the last
      microsecond), then ``timestamp_micros``;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ natively
      in Spark 4 → cast to TIMESTAMP (session tz is pinned UTC, so the
      wall clock is preserved as the same instant DuckDB sees);
    - plain TIMESTAMP → pass through.

    Keeping one output type means every downstream ``unix_micros`` /
    ``window`` / ``withWatermark`` expression analyzes identically
    regardless of which testdata generation is on disk.

    Precondition: ``spark.sql.session.timeZone`` is UTC — the
    NTZ→TIMESTAMP cast (and downstream epoch math) is only
    wall-clock-preserving under UTC. Every entry point that reaches
    this helper pins it (:func:`load`, ``streamq._events_stream``, and
    ``session.get_spark`` at construction); this function itself is
    side-effect-free on session config.
    """
    import pyspark.sql.functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register test tables as temp views for spark.sql queries.

    Callers that know their table set should pass it: each view
    registration re-reads the parquet footer schema, so registering
    all 10 tables to run a one-table query pays ~10× the (driver-side)
    metadata cost — measurable per-query overhead in the bench loop,
    and on a real object store every footer read is a remote call.
    """
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def spread(df: DataFrame) -> DataFrame:
    """Raise a narrow frame's partition count to the session's core
    count before a Python-heavy map stage (codec encode/decode).

    The conformance fixtures scan into ~4 splits (file size /
    openCostInBytes), so without this every Arrow-batched codec stage
    ran on 4 of the session's cores (r16 measurement: the GIF build
    stage 0.91 s -> 0.55 s at local[32]). Only the NARROW input rows
    (ids, not yet-built payloads) shuffle — negligible at any scale —
    and inputs already at or above the session's parallelism pass
    through untouched, so a real cluster scan with thousands of splits
    is never coalesced. Row placement does not affect results: every
    build function is deterministic per row and downstream plans are
    order-insensitive (oracle compares sorted)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= n else df.repartition(n)
