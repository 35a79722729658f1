"""Query lifecycle — the engine core (SURVEY.md §3.1/§3.2 ⇔ Spark).

``Engine.query(sql)`` drives the reference's `/fetch` path:

1. classify (A12) → DML or DDL;
2. DDL: parse CREATE TABLE … LOCATION, store metadata (A14);
3. DML: rewrite quoted-path table factors to generated temp views
   (A9), register them by format (A1–A8), resolve remaining names
   against the catalog and register those too (A10), reject when no
   table is referenced (A23); each source resolves once per change
   signature, a view is rebound only when its source changed, and a
   source within ``spark.sql.files.openCostInBytes`` is one partition,
   so a group-by, sort or window over it plans no Exchange
   (``sources/readers.py``);
4. ``spark.sql`` — Catalyst parses/optimizes/executes (the
   reference's single ``ctx.sql`` call, §2.B); the request's path
   views are dropped once it has analyzed the query;
5. interactive LIMIT 200 + stringified rows (A13, A15), history (A20).

``Engine.export(sql, fmt)`` is the uncapped `/query/export` path
(§3.3, A16–A18).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.catalog import Catalog
from easydb_server_spark.errors import BadRequestError, EmptyTableNameError
from easydb_server_spark.results import INTERACTIVE_LIMIT, materialize
from easydb_server_spark.sources.readers import drop_view, register_path
from easydb_server_spark.sqlgate import classify, extract_table_names, rewrite_path_tables
from easydb_server_spark.sqlgate.parse import SQLType, parse_create_table


class Engine:
    def __init__(self, spark: SparkSession, catalog: Catalog | None = None):
        self.spark = spark
        self.catalog = catalog or Catalog()
        # DataFusion spellings (strpos, date_bin, …) work in /fetch SQL
        from easydb_server_spark.functions import register_dialect_shims

        register_dialect_shims(spark)

    # ---- registration (steps 3) ----

    def _register_tables(self, sql: str, path_views: list[str]) -> str:
        """Register the tables ``sql`` names; return the rewritten SQL.
        Each generated path view's name is appended to ``path_views``
        before it is registered, so the caller can drop them all even
        when registration fails part-way."""
        rewritten, path_map = rewrite_path_tables(sql)
        for temp_name, path in path_map.items():
            path_views.append(temp_name)
            register_path(self.spark, temp_name, path)
            # TEMP rows persist in the catalog like the reference
            self.catalog.create_table(temp_name, path, type_="TEMP")
        names = extract_table_names(rewritten)
        # bare unquoted paths (`FROM u.csv`) were already rewritten to
        # temp views by rewrite_path_tables — Spark can't register a
        # dotted temp-view name, so they never reach this point
        hits = self.catalog.lookup(names)
        for name, path in hits.items():
            register_path(self.spark, name, path)
        if not names and not path_map:
            raise EmptyTableNameError("Table name is empty")
        return rewritten

    # ---- public API ----

    def dataframe(self, sql: str) -> DataFrame:
        """DML → registered views → spark.sql DataFrame (uncapped)."""
        sql_type = classify(sql)
        if sql_type is not SQLType.DML:
            raise BadRequestError("Only queries produce DataFrames; got DDL")
        # the returned DataFrame is analyzed, so the request's path views
        # (and their bindings in the readers) can go once spark.sql
        # returns: a long-lived session would otherwise keep one view per
        # ad-hoc request forever. The sources they read stay resolved and
        # cached for the next request; cataloged names stay registered
        # (shared by concurrent requests), and the TEMP catalog rows stay
        # for reference parity.
        path_views: list[str] = []
        try:
            rewritten = self._register_tables(sql, path_views)
            return self.spark.sql(rewritten.rstrip().rstrip(";"))
        finally:
            for name in path_views:
                drop_view(self.spark, name)

    def query(self, sql: str) -> dict:
        """Interactive /fetch semantics: DML or DDL, stringified result."""
        t0 = time.time()
        sql_type = classify(sql)
        if sql_type is SQLType.DDL:
            result = self._handle_ddl(sql)
            result["query_time"] = round(time.time() - t0, 3)
            return result
        try:
            df = self.dataframe(sql)
            body = materialize(df, INTERACTIVE_LIMIT)
            self.catalog.record_query(sql, "successful")
        except Exception:
            self.catalog.record_query(sql, "fail")
            raise
        body["sql_type"] = "DML"
        body["query_time"] = round(time.time() - t0, 3)
        return body

    def _handle_ddl(self, sql: str) -> dict:
        from easydb_server_spark.errors import UnsupportedSQLError

        ct = parse_create_table(sql)
        if not ct.location:
            # reference: LOCATION required, else 422 (`src/controllers.rs:92-99`)
            raise UnsupportedSQLError("CREATE TABLE requires a LOCATION clause")
        self.catalog.create_table(ct.name, ct.location, ct.columns, ct.comment)
        return {"header": ["summary"], "rows": [["successful"]], "sql_type": "DDL"}

    def ingest_bucketed(
        self,
        name: str,
        source_path: str,
        bucket_by: str,
        n_buckets: int = 16,
    ) -> dict:
        """Documented superset of the DDL path (A14): land a source
        file/glob as a *bucketed* managed table instead of a lazy
        path-registration, so every later equi-join/groupBy on
        ``bucket_by`` through the gateway is exchange-free.

        The reference's `CREATE TABLE … LOCATION` is metadata-only —
        right for ad-hoc reads, but every join re-shuffles. This is
        the ingest-time trade measured by tools/bucketize.py (79 MB
        shuffle → 944 B): pay one shuffle when the fact table lands,
        and the metastore's bucket spec makes Catalyst drop the
        Exchange on both sides of any ``bucket_by``-keyed join of two
        co-bucketed tables (locked by tests/test_bucketing.py and
        test_ingest_bucketed.py). At 100 TB this is the difference
        between re-shuffling the fact table per query and never
        shuffling it again.

        Gateway reads resolve the table straight from the Spark
        catalog (engine registration only rewrites names it knows, so
        unknown names fall through to the metastore — where the
        bucket metadata lives). The engine catalog records the row
        for /tables listing parity.
        """
        from easydb_server_spark.sources.readers import read_path
        from easydb_server_spark.tables import write_table

        df = read_path(self.spark, source_path, reuse=False)
        write_table(df.repartition(n_buckets, bucket_by), name, bucket_by, n_buckets)
        location = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").where(
            "col_name = 'Location'"
        ).collect()[0][1]
        self.catalog.create_table(name, location, type_="BUCKETED")
        return {
            "header": ["summary"],
            "rows": [["successful"]],
            "sql_type": "DDL",
            "bucketed_by": bucket_by,
            "n_buckets": n_buckets,
        }

    def export(self, sql: str, fmt: str, distributed: bool = False) -> str:
        """Uncapped export → file path (A16–A18). ``distributed=True``
        returns a part-file directory written in parallel by executors
        (cluster sink); default is the single-file streamed download."""
        from easydb_server_spark.export import export_query

        df = self.dataframe(sql)
        return export_query(df, fmt, distributed=distributed)
