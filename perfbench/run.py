"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gateway_interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --describe

Run from the repository root. Every run gets its own directory under
``.perfbench/`` (catalog database, ``DATA_DIR``, exports, Spark scratch
and temp files), deleted when the run ends. The traced run writes its
spans to ``.perfbench/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Lines before it print every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import sqlite3
import subprocess
import sys
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench import spec  # noqa: E402
from perfbench.stats import min_samples, percentile, supported  # noqa: E402

DRIVER_MEMORY = "1g"


def _isolate(run_dir: Path) -> None:
    """Point every path the program and Spark write to into ``run_dir``."""
    tmp = run_dir / "tmp"
    for d in ("data", "spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "EASYDB_DB": str(run_dir / "catalog.sqlite"),
            "DATA_DIR": str(run_dir / "data"),
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "TMPDIR": str(tmp),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
            # no hsperfdata file outside the run directory
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.driver.extraJavaOptions='-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    os.chdir(run_dir)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _memory_mb(spark) -> dict[str, float]:
    """Memory of the driver after the timed loop, in MB.

    ``mem_mb`` is what the program holds: this process's peak RSS, plus
    the JVM heap still live after a full collection, plus the JVM's
    committed non-heap memory (metaspace, code cache). The JVM's own
    peak RSS is printed too, but it follows how far G1 chose to grow
    the heap, not what the program keeps.
    """
    jvm = spark._jvm
    # Python's collection first releases the JVM objects Py4J proxies
    # still hold; the listener bus drains so its state is final
    gc.collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = mx.getHeapMemoryUsage().getUsed() / 2**20
    non_heap = mx.getNonHeapMemoryUsage().getCommitted() / 2**20
    py = _vm_hwm_kb("self") / 1024.0
    return {
        "mem_mb": py + live + non_heap,
        "python_peak_rss_mb": py,
        "jvm_peak_rss_mb": _vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024.0,
        "jvm_live_heap_mb": live,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _p50(values: list[float]) -> float | None:
    return median(values) if values else None


def gateway_run(workload: str, spark, run_dir: Path, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.gateway import KIND, Gateway
    from perfbench.layers import instrument
    from perfbench.trace import Tracer

    tracer = Tracer() if trace else None
    gw = Gateway(workload, spark, str(run_dir), seed, tracer)
    missing: list[str] = []
    try:
        app, setup_times = gw.setup()
        # untimed cycles: schema caches fill, plans compile
        warm, _wall = gw.loop(app, spec.WARM_CYCLES, False)
        cycles = gw.cycles_for(seconds)
        segments = []
        if trace:
            patcher = instrument(tracer, spark)
            try:
                # untraced and traced quarters alternate, so drift in the
                # session hits both sides alike
                for traced in (False, True, False, True):
                    recs, wall = gw.loop(app, math.ceil(cycles / 4), traced)
                    segments.append((traced, recs, wall))
            finally:
                patcher.restore()
            missing = patcher.missing
        else:
            recs, wall = gw.loop(app, cycles, False)
            segments.append((False, recs, wall))
        memory = _memory_mb(spark)
        records = [r for _t, recs, _w in segments for r in recs]
        gw.check(warm + records)
        with sqlite3.connect(gw.db) as con:
            rows = dict(con.execute("SELECT type, count(*) FROM catalog GROUP BY type").fetchall())
    finally:
        gw.close()

    def summary(traced: bool) -> dict:
        recs = [r for t, rs, _w in segments if t == traced for r in rs]
        wall = sum(w for t, _rs, w in segments if t == traced)
        lat = [r.latency for r in recs]
        return {
            "latencies": lat,
            "ops_per_s": len(recs) / wall,
            "scan_mb_per_s": sum(r.input_bytes for r in recs) / sum(lat) / 1e6,
        }

    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(KIND[r.op], []).append(r.latency)
    out = {
        "setup_times": setup_times,
        "main": summary(False),
        "traced": summary(True) if trace else None,
        "attempted": len(warm) + len(records),
        "errors": [f"{r.op}: {r.error}" for r in warm + records if r.error],
        "extra": {f"{k}_p50_s": _p50(v) for k, v in by_kind.items()},
        "manifest": gw.manifest,
        "memory": memory,
        "missing": missing,
        "tracer": tracer,
        "n_traced": sum(len(rs) for t, rs, _w in segments if t),
        "state": {
            "catalog.rows_end": sum(rows.values()),
            "catalog.temp_rows_end": rows.get("TEMP", 0),
        },
    }
    return out


def batch_run(spark, run_dir: Path, trace: bool) -> dict:
    from perfbench.batch import Batch
    from perfbench.layers import instrument
    from perfbench.trace import Tracer

    tracer = Tracer() if trace else None
    b = Batch(spark, str(run_dir), tracer)
    setup_times = b.setup()
    first, outputs = b.run_pass(False, "p0")
    memory = _memory_mb(spark)
    check_errors = b.check(outputs)
    del outputs
    passes = [(False, first)]
    missing: list[str] = []
    if trace:
        passes = []
        patcher = instrument(tracer, spark)
        try:
            for i, traced in enumerate((False, True, False, True)):
                passes.append((traced, b.run_pass(traced, f"p{i + 1}")[0]))
        finally:
            patcher.restore()
        missing = patcher.missing

    def summary(traced: bool) -> dict:
        chosen = [p for t, p in passes if t == traced]
        ops = [op for p in chosen for op in p]
        lat = [c + e for _n, c, e in ops]
        wall = [sum(c + e for _n, c, e in p) for p in chosen]
        return {
            "latencies": lat,
            "ops_per_s": len(ops) / sum(wall),
            "scan_mb_per_s": sum(b.input_bytes[n] for n, _c, _e in ops) / sum(lat) / 1e6,
            "batch_s": median(wall),
            "per_query": {
                n: (median([c for m, c, _e in ops if m == n]), median([e for m, _c, e in ops if m == n]))
                for n in sorted(b.input_bytes)
            },
        }

    main = summary(False)
    return {
        "setup_times": setup_times,
        "main": main,
        "traced": summary(True) if trace else None,
        "attempted": len(first) + (sum(len(p) for _t, p in passes) if trace else 0),
        "errors": [f"{n}: {e}" for n, e in check_errors.items()],
        "extra": {"batch_s": main["batch_s"]},
        "manifest": b.manifest,
        "memory": memory,
        "missing": missing,
        "tracer": tracer,
        "n_traced": sum(len(p) for t, p in passes if t),
        "state": {"catalog.rows_end": 0, "catalog.temp_rows_end": 0},
        "per_query": main["per_query"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true", help="print workloads and metrics, then exit")
    args = ap.parse_args(argv)
    if args.describe:
        print(spec.describe())
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    # the program under test must be importable before anything runs
    import easydb_server_spark  # noqa: F401
    import easydb_server_spark.http_app  # noqa: F401

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out_dir = REPO / ".perfbench"
    run_dir = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(run_dir)
    trace = bool(args.trace)
    spark = None
    try:
        from easydb_server_spark import get_spark

        spark = get_spark("easydb-perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if args.workload == "operator_batch":
            res = batch_run(spark, run_dir, trace)
        else:
            res = gateway_run(args.workload, spark, run_dir, args.seed, args.seconds, trace)
        temp_views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(REPO)
        shutil.rmtree(run_dir, ignore_errors=True)

    main_s = res["main"]
    lat = main_s["latencies"]
    attempted = res["attempted"]
    failed = len(res["errors"])
    e2e = {
        "setup_s": median(res["setup_times"]),
        "p50_s": median(lat),
        "p90_s": percentile(lat, 0.9),
        "ops_per_s": main_s["ops_per_s"],
        "scan_mb_per_s": main_s["scan_mb_per_s"],
    }
    memory = dict(res["memory"])
    e2e["mem_mb"] = memory.pop("mem_mb")
    extra = dict(res["extra"], fail_ratio=failed / attempted, **memory)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: {attempted} operations, {failed} failed")
    print(f"inputs {json.dumps(res['manifest'], sort_keys=True)}")
    for e in res["errors"][:20]:
        print(f"FAILED {e}")
    if not supported(lat, 0.9):
        print(f"note p90_s rests on {len(lat)} samples; >= {min_samples(0.9)} are needed for 10 beyond it")
    for name, value in e2e.items():
        print(f"metric {name} = {value:.6g} {spec.END_TO_END[name][0]}")
    for name, value in extra.items():
        if value is not None:
            print(f"metric {name} = {value:.6g} {spec.EXTRA[name][0]}")
    for name, (c, e) in (res.get("per_query") or {}).items():
        print(f"query {name} construct_s = {c:.4f} execute_s = {e:.4f}")

    if trace:
        from perfbench.layers import EXPECTED_LAYERS, layer_metrics

        tracer = res["tracer"]
        layers = layer_metrics(tracer, res["n_traced"])
        layers.update(res["state"])
        layers["session.temp_views_end"] = temp_views
        t = res["traced"]
        layers["trace.p50_ratio"] = median(t["latencies"]) / median(lat)
        layers["trace.ops_per_s_ratio"] = t["ops_per_s"] / main_s["ops_per_s"]
        counts = tracer.layer_counts()
        for layer in EXPECTED_LAYERS[args.workload]:
            print(f"spans {layer} = {counts.get(layer, 0)}")
        silent = [layer for layer in EXPECTED_LAYERS[args.workload] if not counts.get(layer)]
        if silent:
            print(f"FAILED traced layers recorded no span: {silent}")
        # a name the program no longer has would silently report 0
        if res["missing"]:
            print(f"FAILED traced names the program lacks: {res['missing']}")
        trace_path = out_dir / f"trace-{args.workload}-{args.seed}.json"
        tracer.write(str(trace_path))
        print(f"trace written to {trace_path.relative_to(REPO)} ({len(tracer.spans)} spans)")
        for name, value in layers.items():
            print(f"metric {name} = {value:.6g} {spec.PER_LAYER[name][0]}")
        metrics = {n: {"value": layers[n], "unit": spec.PER_LAYER[n][0]} for n in spec.PER_LAYER}
        correct = failed == 0 and not silent and not res["missing"]
    else:
        metrics = {n: {"value": e2e[n], "unit": spec.END_TO_END[n][0]} for n in spec.END_TO_END}
        correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
