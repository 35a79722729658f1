"""Workloads and metrics, as ``run.py --describe`` prints them.

Names, units, directions and bounds come from ``BENCHMARK.json``; this
module adds what that file has no room for: each workload's loop,
clients, inputs and request mix, what each end-to-end metric means, and
the end-to-end metric and workload each per-layer metric should move.
"""

from __future__ import annotations

import json
from pathlib import Path

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

# set-ups timed per run (setup_s is their median) and untimed warm-up
# cycles before a gateway run times anything: the JVM's compiled code
# keeps getting faster over the first few dozen requests
SETUP_REPS = 3
WARM_CYCLES = 2

GI, GSE, OB = "gateway_interactive", "gateway_scan_export", "operator_batch"

# The request mixes are chosen, not measured: no record of real use of
# the gateway exists to derive them from. Each share has the reason
# given; the per-kind p50s (fetch, adhoc, ddl, read, export) are printed
# on every run so a change can be judged apart from the mix.
WORKLOADS = {
    GI: {
        "loop": "closed",
        "clients": 2,
        "inputs": (
            "orders.csv 6k rows (0.26 MB), customer.tsv 2k (0.09 MB), lineitem.log 12k (1.9 MB), "
            "recent 2x3k, events/ 20 files x 300 rows (+40 files to add); "
            f"{WARM_CYCLES} warm + 5 timed cycles of 20"
        ),
        "mix": (
            "chosen, per cycle of 20: 12 cataloged /fetch (60%: querying saved tables is the main path), "
            "4 quoted-path glob /fetch (20%: the other path the gateway exists for), "
            "1 file add with its count and 1 DDL (writes at 10%, so a cache that goes stale "
            "or slows writes shows in every cycle), 2 /catalog and /query/history reads "
            "(10%: the listings a client polls, cheap, kept from hiding in the mean)"
        ),
    },
    GSE: {
        "loop": "closed",
        "clients": 1,
        "inputs": (
            "scan_csv/ 8 files x 12.5k lineitem rows (5.6 MB), scan_json/ 8 x 4k rows (6.8 MB), "
            f"about 20x a typical interactive request's input; {WARM_CYCLES} warm + 9 timed cycles of 6"
        ),
        "mix": (
            "chosen, per cycle of 6: 3 exports, one each of csv, tsv and ndjson, and 3 full-scan "
            "aggregates (cataloged CSV, cataloged NdJSON, quoted-path NdJSON glob); even halves, "
            "so neither the export sink nor the scan hides the other"
        ),
    },
    OB: {
        "loop": "closed",
        "clients": 1,
        "inputs": "sf0.01 parquet fixtures as given (10 tables, 1.9 MB, one row group per file)",
        "mix": "each of the 22 bench.FIXED_CORE entries once, in that list's order",
    },
}

END_TO_END_MEANING = {
    "setup_s": (
        f"median of {SETUP_REPS} set-ups in the run: fresh catalog, Engine, app and table DDL (gateway); "
        "a fresh fixture copy loaded through the registry loader (batch)"
    ),
    "p50_s": "median latency of one operation (request or registry entry)",
    "p90_s": (
        "90th percentile latency; gateway_interactive times >= 100 operations, so >= 10 lie beyond it; "
        "gateway_scan_export times 54, operator_batch 22"
    ),
    "ops_per_s": "operations completed per second of loop wall time",
    "scan_mb_per_s": "input MB the operations read per second of operation time",
    "mem_mb": (
        "memory the driver holds after the timed loop: the Python process's peak RSS (VmHWM from "
        "/proc; inputs are generated in a child process and checks run after the reading) plus the "
        "JVM heap live after a full collection plus the JVM's committed non-heap memory"
    ),
}

# printed on every run, not part of the result line: name -> (unit, meaning)
EXTRA = {
    "fetch_p50_s": ("s", "cataloged /fetch DML"),
    "adhoc_p50_s": ("s", "quoted-path /fetch DML, file adds included"),
    "export_p50_s": ("s", "/query/export"),
    "ddl_p50_s": ("s", "CREATE TABLE ... LOCATION"),
    "read_p50_s": ("s", "/catalog and /query/history"),
    "batch_s": ("s", "wall time of the timed pass over the 22 entries"),
    "fail_ratio": ("ratio", "failed or wrong operations over attempted"),
    "python_peak_rss_mb": ("MB", "peak RSS of the driver Python process (VmHWM), part of mem_mb"),
    "jvm_live_heap_mb": ("MB", "JVM heap in use after a full collection, part of mem_mb"),
    "jvm_peak_rss_mb": ("MB", "peak RSS of the JVM (VmHWM); set mostly by how far G1 grew the heap"),
}

# per-layer name -> (end-to-end metric it should move, on workload)
MOVES = {
    "http_app.self_s": ("p50_s", GI),
    "engine.self_s": ("p50_s", GI),
    "sqlgate.calls": ("p50_s", GI),
    "sqlgate.self_s": ("p50_s", GI),
    "catalog.lookup_s": ("p90_s", GI),
    "catalog.write_s": ("p90_s", GI),
    "catalog.read_s": ("p50_s", GI),
    "catalog.rows_end": ("p90_s", GI),
    "catalog.temp_rows_end": ("p90_s", GI),
    "readers.register_calls": ("p50_s", GI),
    "readers.register_s": ("p50_s", GI),
    "readers.schema_hit_ratio": ("p50_s", GI),
    "spark.sql_s": ("p50_s", GI),
    "spark.collect_s": ("p50_s", GI),
    "spark.jobs": ("ops_per_s", OB),
    "spark.stages": ("ops_per_s", OB),
    "spark.tasks": ("ops_per_s", OB),
    "session.temp_views_end": ("mem_mb", GI),
    "results.materialize_s": ("p50_s", GI),
    "results.format_s": ("p50_s", GI),
    "results.rows": ("p50_s", GI),
    "export.export_query_s": ("p50_s", GSE),
    "export.bytes_out": ("scan_mb_per_s", GSE),
    "queries.construct_s": ("ops_per_s", OB),
    "queries.execute_s": ("ops_per_s", OB),
    "trace.p50_ratio": ("p50_s", "all"),
    "trace.ops_per_s_ratio": ("ops_per_s", "all"),
}

WHY = {w["name"]: w["why"] for w in BENCHMARK["workloads"]}
# name -> (unit, better, bound)
END_TO_END = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in BENCHMARK["end_to_end"]}
# name -> (unit, better)
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["per_layer"]}

for _have, _want, _what in (
    (WORKLOADS, WHY, "workloads"),
    (END_TO_END_MEANING, END_TO_END, "end-to-end metrics"),
    (MOVES, PER_LAYER, "per-layer metrics"),
):
    if set(_have) != set(_want):
        raise RuntimeError(f"perfbench/spec.py and BENCHMARK.json name different {_what}")


def describe() -> str:
    lines = ["workloads:"]
    for n, w in WORKLOADS.items():
        lines.append(f"  {n}: {w['loop']} loop, {w['clients']} client(s); inputs: {w['inputs']}")
        lines.append(f"    mix: {w['mix']}")
        lines.append(f"    why: {WHY[n]}")
    lines.append("end-to-end metrics (--trace 0):")
    for n, (u, b, bound) in END_TO_END.items():
        lines.append(f"  {n} [{u}, {b} is better, bound {bound}]: {END_TO_END_MEANING[n]}")
    lines.append("also printed on every run:")
    for n, (u, meaning) in EXTRA.items():
        lines.append(f"  {n} [{u}]: {meaning}")
    lines.append("per-layer metrics (--trace 1), each with the end-to-end metric it should move:")
    for n, (u, b) in PER_LAYER.items():
        m, w = MOVES[n]
        lines.append(f"  {n} [{u}, {b} is better] -> {m} on {w}")
    return "\n".join(lines)
