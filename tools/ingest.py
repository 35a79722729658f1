"""Production-layout ingest CLI — one story for the two storage-layout
tools (tools/relayout.py: multi-row-group files; tools/bucketize.py:
measured zero-exchange bucketed joins), wired into the engine.

Lands a source file/glob (any gateway-readable format: csv/tsv/ndjson/
xlsx/parquet/orc) as a managed table, bucketed+sorted on a key via
``Engine.ingest_bucketed``. Every later gateway equi-join/groupBy on
that key across co-bucketed tables is exchange-free (plan-locked by
tests/test_ingest_bucketed.py; bytes measured by tools/bucketize.py).

Passing a comma-separated column list instead lands the table
Z-ORDER-clustered on those columns (`operators/zorder.py`): files
cover compact hyper-rectangles of the key space, so multi-dimensional
range predicates skip most files via footer min/max stats
(tests/test_zorder.py) — and unlike bucket metadata, the layout
survives plain path reads, so the lazy `CREATE TABLE … LOCATION`
registration keeps the benefit.

Usage:
  python tools/ingest.py <source_path> <table_name> <bucket_col> [n_buckets]
  python tools/ingest.py <source_path> <table_name> <col1,col2[,..]> [n_files]

Prints one JSON line with the landed table's location and layout spec.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__)
        return 2
    source, name, bucket_col = sys.argv[1:4]
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 16

    from easydb_server_spark import get_spark
    from easydb_server_spark.engine import Engine

    spark = get_spark("ingest")
    eng = Engine(spark)
    if "," in bucket_col:
        from easydb_server_spark.operators.zorder import zorder_write
        from easydb_server_spark.sources.readers import read_path

        cols = [c.strip() for c in bucket_col.split(",") if c.strip()]
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
        loc = f"{wh}/{name}"
        zorder_write(read_path(spark, source, reuse=False), cols, loc, n_files=n_buckets)
        # register the part-file glob: the format router routes by
        # extension, and a plain parquet read keeps the stats-skipping
        # benefit (unlike bucket metadata, the layout IS the files)
        eng.catalog.create_table(name, f"{loc}/*.parquet", type_="ZORDER")
        print(json.dumps({"table": name, "location": loc, "zorder_by": cols, "n_files": n_buckets}))
        return 0
    out = eng.ingest_bucketed(name, source, bucket_col, n_buckets=n_buckets)
    loc = [t for t in eng.catalog.list_tables() if t["table_ref"] == name][-1]["table_path"]
    print(json.dumps({"table": name, "location": loc, **{k: out[k] for k in ("bucketed_by", "n_buckets")}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
