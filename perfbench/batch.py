"""``operator_batch``: the fixed comparison core of the registry.

One operation is one registry entry: built with
``queries.spark_queries()[name](spark, dir)``, then collected with
``toPandas``. The first pass in a fresh session is the timed one, and
its collected outputs are compared, after the pass, with each entry's
``oracle_sql()`` answer in DuckDB over the same parquet files. Entries
run in ``bench.FIXED_CORE`` order, whose position in the suite is part
of that list's contract; the inputs are the fixtures as given, so the
seed changes nothing here.

The traced run makes that pass untimed, then alternates untraced and
traced passes.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

from bench import FIXED_CORE
from perfbench import inputs
from perfbench.layers import count_spark_work
from perfbench.spec import SETUP_REPS
from perfbench.trace import Tracer


class Batch:
    def __init__(self, spark, run_dir: str, tracer: Tracer | None):
        from easydb_server_spark.queries import oracle_queries, spark_queries

        self.spark = spark
        self.run_dir = run_dir
        self.tracer = tracer
        self.queries = spark_queries()
        self.oracles = oracle_queries()
        missing = [n for n in FIXED_CORE if n not in self.queries]
        if missing:
            raise RuntimeError(f"registry lacks {missing}")
        self.dir = None
        self.manifest: dict = {}
        self.input_bytes: dict[str, int] = {}

    def setup(self) -> list[float]:
        """Copy the fixtures into a fresh directory and load every table
        through the registry's loader, ``SETUP_REPS`` times; the last
        copy is the one the run reads."""
        from easydb_server_spark.queries import spark_queries
        from easydb_server_spark.queries._util import register_views

        times = []
        for rep in range(SETUP_REPS):
            d = os.path.join(self.run_dir, "data", f"copy-{rep}")
            manifest = inputs.copy_fixtures(d)
            t0 = time.perf_counter()
            self.queries = spark_queries()
            register_views(self.spark, d)
            times.append(time.perf_counter() - t0)
            if self.dir is not None:
                shutil.rmtree(self.dir, ignore_errors=True)
            self.dir, self.manifest = d, manifest
        return times

    def check(self, outputs: dict) -> dict[str, str]:
        """Compare each collected output with DuckDB; returns {name: error}."""
        from easydb_server_spark.compare import canon_frame

        con = duckdb.connect()
        for t in inputs.BATCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.dir, t)}.parquet'")
        errors: dict[str, str] = {}
        for name in FIXED_CORE:
            if name not in self.oracles:
                errors[name] = "no oracle"
                continue
            got = canon_frame(outputs[name])
            want = canon_frame(con.execute(self.oracles[name]).df())
            if got[0] != want[0]:
                errors[name] = f"columns {got[0]} != {want[0]}"
            elif len(got[1]) != len(want[1]):
                errors[name] = f"{len(got[1])} rows != {len(want[1])}"
            elif got[1] != want[1]:
                errors[name] = "values differ"
        con.close()
        return errors

    def run_query(self, name: str, op_id: str | None):
        """(construct s, execute s, collected output) of one entry."""
        tr = self.tracer
        if op_id is None:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.dir)
            t1 = time.perf_counter()
            out = df.toPandas()
            t2 = time.perf_counter()
        else:
            self.spark.sparkContext.setJobGroup(op_id, name)
            tr.begin_op(op_id)
            try:
                t0 = time.perf_counter()
                with tr.span("queries.construct"):
                    df = self.queries[name](self.spark, self.dir)
                t1 = time.perf_counter()
                with tr.span("queries.execute"):
                    out = df.toPandas()
                t2 = time.perf_counter()
                count_spark_work(tr, self.spark, op_id)
            finally:
                tr.end_op()
        if name not in self.input_bytes:
            self.input_bytes[name] = sum(os.path.getsize(f.removeprefix("file:")) for f in set(df.inputFiles()))
        return t1 - t0, t2 - t1, out

    def run_pass(self, traced: bool, tag: str) -> tuple[list[tuple[str, float, float]], dict]:
        """One pass: [(name, construct s, execute s)] and the outputs."""
        timings, outputs = [], {}
        for name in FIXED_CORE:
            c, e, outputs[name] = self.run_query(name, f"{tag}:{name}" if traced else None)
            timings.append((name, c, e))
        return timings, outputs
