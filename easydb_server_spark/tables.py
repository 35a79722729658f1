"""Persisted tables: the one place that writes and rewrites them.

The gateway's ``/ingest`` tables, the operator stores (digest, MinHash,
landmark, IVF and PQ indexes) and the model/eval tables are managed
parquet tables in the session's warehouse. Their files outlive the
session that names them: a fresh session's catalog does not know a
table an earlier session wrote, but its warehouse directory is still
there, and a plain ``saveAsTable`` then fails with
``LOCATION_ALREADY_EXISTS``. Every write of such a table goes through
this module:

- :func:`write_table` — a from-scratch write: drop the catalog entry,
  delete any orphaned location, write parquet with the caller's layout
  (bucketed and sorted on a key, and/or partitioned);
- :func:`rewrite_table` — a crash-safe full rewrite of a live table
  (compaction, migration, retrain) through a staged copy, with
  :func:`recover_staged` finishing or rolling back an interrupted one;
- :func:`keep_one_per_key` — the keep step of every compaction.

Appends (``mode("append")``) stay with their callers and never clear a
location: a restarted stream's checkpoint assumes its index exists, so
clearing it would silently forget admitted content.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window


def table_location(spark, table: str):
    """Hadoop ``(FileSystem, Path)`` of a managed table's default
    location, ``<warehouse>/<table>``. Only a plain unqualified name
    maps to a path; anything else is refused so no deletion can reach
    outside the warehouse."""
    if not re.fullmatch(r"[A-Za-z0-9_]+", table):
        raise ValueError(f"persisted table name must be a plain identifier: {table!r}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{table.lower()}")
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def drop_table(spark, table: str) -> None:
    """Drop ``table`` from the catalog and delete its location, also
    when only the directory is left (a previous session wrote it)."""
    fs, path = table_location(spark, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if fs.exists(path):
        fs.delete(path, True)


def write_table(
    df: DataFrame,
    table: str,
    bucket_by: str | None = None,
    n_buckets: int = 16,
    partition_by: str | None = None,
) -> None:
    """Write ``df`` as ``table`` from scratch. ``bucket_by`` buckets
    into ``n_buckets`` and sorts on that key; ``partition_by`` makes
    one directory per value. The frame is written as partitioned: a
    caller that wants one file per bucket repartitions first.

    ``df`` must not read ``table`` itself — its files are gone before
    the write starts; a rewrite of a live table is
    :func:`rewrite_table`."""
    drop_table(df.sparkSession, table)
    writer = df.write.format("parquet")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    if bucket_by is not None:
        writer = writer.bucketBy(n_buckets, bucket_by).sortBy(bucket_by)
    writer.saveAsTable(table)


def recover_staged(spark, table: str) -> None:
    """Finish or roll back an interrupted :func:`rewrite_table`.

    A crash leaves one of three states:

    - only ``<table>`` exists — nothing was in flight (or the staged
      write died before its catalog commit, which Spark performs only
      after the data lands): nothing to do;
    - both exist — the staged copy committed but the live table was not
      dropped yet; the safe move is to drop the staged copy and let the
      (deterministic) rewrite run again from the intact live table;
    - only ``<table>__staged`` exists — the live table was dropped, so
      the staged copy is the one true copy: finish the rename.
    """
    staged = f"{table}__staged"
    if not spark.catalog.tableExists(staged):
        return
    if spark.catalog.tableExists(table):
        drop_table(spark, staged)
    else:
        _swap_in(spark, staged, table)


def _swap_in(spark, staged: str, table: str) -> None:
    drop_table(spark, table)
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
    # RENAME moves a managed table's directory but not its catalog
    # partition metadata (Spark 4.1: a renamed partitioned table counts
    # 0 rows until MSCK); the error on an unpartitioned table is expected
    try:
        spark.sql(f"MSCK REPAIR TABLE {table}")
    except AnalysisException:
        pass


def rewrite_table(
    df: DataFrame,
    table: str,
    bucket_by: str | None = None,
    n_buckets: int = 16,
    partition_by: str | None = None,
) -> int:
    """Crash-safe full rewrite of ``table`` with ``df``, which may read
    the live table lazily. Returns the rewritten table's row count.

    The rows land in ``<table>__staged`` first, clustered on the layout
    key so each bucket (else each partition) is one file; only then is
    the live table dropped and the staged copy renamed into place. A
    plain overwrite would delete the live data before the replacement
    commits, so a crash mid-rewrite would lose the table. Here a crash
    leaves either the intact live table (the rewrite reruns) or the
    committed staged copy (:func:`recover_staged`, which callers run
    before reading the live table, finishes the rename)."""
    if bucket_by is not None:
        df = df.repartition(n_buckets, bucket_by)
    elif partition_by is not None:
        df = df.repartition(partition_by)
    staged = f"{table}__staged"
    write_table(df, staged, bucket_by, n_buckets, partition_by)
    spark = df.sparkSession
    _swap_in(spark, staged, table)
    return spark.table(table).count()


def keep_one_per_key(
    df: DataFrame, keys: list[str], order_col: str, newest: bool = False
) -> DataFrame:
    """One row per ``keys``: the smallest ``order_col`` (the largest with
    ``newest``), or any one row when the frame has no ``order_col`` (a
    table written before the streaming batch/seq column existed)."""
    if order_col not in df.columns:
        return df.dropDuplicates(keys)
    order = F.col(order_col).desc() if newest else F.col(order_col).asc()
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1).drop("_r")
