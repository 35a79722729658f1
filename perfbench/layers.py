"""Which program names the traced run wraps, and how spans become
per-layer metrics.

Layers are the package modules: ``http_app`` (the test-client call,
recorded by the workload itself), ``engine``, ``sqlgate``,
``catalog``, ``readers`` (``sources.readers``), ``results``,
``export``, ``queries`` (plan construction and execution of a
registry entry, recorded by the workload itself) and ``spark`` (the
session's ``sql`` and ``DataFrame.collect``).
"""

from __future__ import annotations

import os

from perfbench.trace import Patcher, Tracer

SQLGATE_FUNCS = ("classify", "rewrite_path_tables", "extract_table_names", "parse_create_table")
ENGINE_METHODS = ("query", "dataframe", "export", "_register_tables", "_handle_ddl")
CATALOG_METHODS = {
    "lookup": "catalog.lookup",
    "create_table": "catalog.write",
    "record_query": "catalog.write",
    "list_tables": "catalog.read",
    "history": "catalog.read",
}
SCHEMA_FORMATS = ("csv", "tsv", "ndjson")

# layers every workload's traced run must see at least one span of
GATEWAY_LAYERS = ("http_app", "engine", "sqlgate", "catalog", "readers", "results", "spark")
EXPECTED_LAYERS = {
    "gateway_interactive": GATEWAY_LAYERS,
    "gateway_scan_export": GATEWAY_LAYERS + ("export",),
    "operator_batch": ("queries", "spark"),
}


def instrument(tracer: Tracer, spark) -> Patcher:
    """Patch the program's layer boundaries; call ``restore()`` after."""
    import easydb_server_spark.engine as engine_mod
    import easydb_server_spark.export as export_mod
    import easydb_server_spark.sources.readers as readers_mod
    from easydb_server_spark.catalog import Catalog
    from easydb_server_spark.sources.formats import get_format

    p = Patcher()
    for fn in SQLGATE_FUNCS:
        p.set(engine_mod, fn, lambda f, fn=fn: tracer.wrap(f, f"sqlgate.{fn}"))
    for m in ENGINE_METHODS:
        p.set(engine_mod.Engine, m, lambda f, m=m: tracer.wrap(f, f"engine.{m}"))
    for m, name in CATALOG_METHODS.items():
        p.set(Catalog, m, lambda f, name=name: tracer.wrap(f, name))

    p.set(engine_mod, "register_path", lambda f: tracer.wrap(f, "readers.register_path"))

    def on_read(args, kwargs, result):
        path = args[1] if len(args) > 1 else kwargs["path"]
        if get_format(path).value in SCHEMA_FORMATS:
            tracer.count("readers.schema_reads")

    p.set(readers_mod, "read_path", lambda f: tracer.wrap(f, "readers.read_path", on_read))

    def counting_cache(f):
        def cached(*args, **kwargs):
            hit = f(*args, **kwargs)
            if hit is not None:
                tracer.count("readers.schema_hits")
            return hit

        return cached

    p.set(readers_mod, "_cached_schema", counting_cache)

    def on_rows(args, kwargs, result):
        tracer.count("results.rows", len(result.get("rows", [])))

    p.set(engine_mod, "materialize", lambda f: tracer.wrap(f, "results.materialize", on_rows))

    def on_export(args, kwargs, result):
        if os.path.isfile(result):
            tracer.count("export.bytes_out", os.path.getsize(result))

    p.set(export_mod, "export_query", lambda f: tracer.wrap(f, "export.export_query", on_export))

    p.set(spark, "sql", lambda f: tracer.wrap(f, "spark.sql"))
    p.set(type(spark.range(1)), "collect", lambda f: tracer.wrap(f, "spark.collect"))
    return p


def count_spark_work(tracer: Tracer, spark, group: str) -> None:
    """Count the jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            tasks += sinfo.numTasks if sinfo is not None else 0
    tracer.count("spark.jobs", len(jobs))
    tracer.count("spark.stages", stages)
    tracer.count("spark.tasks", tasks)


def layer_metrics(tracer: Tracer, n_ops: int) -> dict[str, float]:
    """Per-layer figures of the traced operations, per operation."""
    self_t = tracer.self_times()
    incl = tracer.inclusive_times()
    n = tracer.span_counts()
    c = tracer.counts

    def self_of(prefix: str) -> float:
        return sum(v for k, v in self_t.items() if k.startswith(prefix))

    def per_op(v: float) -> float:
        return v / n_ops if n_ops else 0.0

    schema_reads = c.get("readers.schema_reads", 0)
    return {
        "http_app.self_s": per_op(self_of("http_app.")),
        "engine.self_s": per_op(self_of("engine.")),
        "sqlgate.calls": per_op(sum(v for k, v in n.items() if k.startswith("sqlgate."))),
        "sqlgate.self_s": per_op(self_of("sqlgate.")),
        "catalog.lookup_s": per_op(incl.get("catalog.lookup", 0.0)),
        "catalog.write_s": per_op(incl.get("catalog.write", 0.0)),
        "catalog.read_s": per_op(incl.get("catalog.read", 0.0)),
        "readers.register_calls": per_op(n.get("readers.register_path", 0)),
        "readers.register_s": per_op(incl.get("readers.register_path", 0.0)),
        # base: CSV/TSV/NdJSON read_path calls (the formats with a cached schema)
        "readers.schema_hit_ratio": c.get("readers.schema_hits", 0) / schema_reads if schema_reads else 0.0,
        "spark.sql_s": per_op(incl.get("spark.sql", 0.0)),
        "spark.collect_s": per_op(incl.get("spark.collect", 0.0)),
        "spark.jobs": per_op(c.get("spark.jobs", 0)),
        "spark.stages": per_op(c.get("spark.stages", 0)),
        "spark.tasks": per_op(c.get("spark.tasks", 0)),
        "results.materialize_s": per_op(incl.get("results.materialize", 0.0)),
        # materialize minus the collect it waits on: limit + stringify
        "results.format_s": per_op(self_t.get("results.materialize", 0.0)),
        "results.rows": per_op(c.get("results.rows", 0)),
        "export.export_query_s": per_op(incl.get("export.export_query", 0.0)),
        "export.bytes_out": per_op(c.get("export.bytes_out", 0)),
        "queries.construct_s": per_op(incl.get("queries.construct", 0.0)),
        "queries.execute_s": per_op(incl.get("queries.execute", 0.0)),
    }
