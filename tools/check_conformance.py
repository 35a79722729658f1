"""Local conformance checker mirroring the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values (columns sorted by name, rows
sorted, cells canonicalized). Exact value equality — floats included —
so any query that passes here should hash-match in the driver.

Usage: python tools/check_conformance.py [sf_dir] [query_name ...]
       python tools/check_conformance.py [sf_dir] --window
(--window scopes to the driver-verified 50-entry registry prefix — the
exact per-round correctness gate.)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from easydb_server_spark.compare import canon_frame, fetch_oracle  # noqa: E402
from easydb_server_spark.queries._util import TABLES  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a and not a.startswith("--"))
    # --window: scope to the driver-verified 50-entry registry prefix —
    # the exact set the per-round correctness gate will run, so a green
    # `--window` run locally predicts a green CORRECTNESS_r{N}
    if "--window" in args:
        from easydb_server_spark.queries import REGISTRY

        only |= set(list(REGISTRY)[:50])

    import __spark_entry__ as entry_mod
    from easydb_server_spark import get_spark

    spark = get_spark("conformance-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # name the Spark jobs after the query so UI/event-log stages
        # are attributable when diagnosing per-query variance
        spark.sparkContext.setJobDescription(f"conformance:{name}")
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = fetch_oracle(con, oracles[name])
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        scols, srows = canon_frame(sdf)
        ocols, orows = canon_frame(odf)
        if scols != ocols:
            print(f"FAIL  {name}: column mismatch spark={scols} oracle={ocols}")
            n_fail += 1
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            failures.append(name)
            continue
        if srows != orows:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b]
            print(f"FAIL  {name}: {len(diffs)}/{len(srows)} rows differ; first: spark={diffs[0][0]} oracle={diffs[0][1]}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
