"""Bucketed-ingest utility: the storage-layout answer to the one
remaining mandatory shuffle in the TPC-H-shaped workload
(orders ⋈ lineitem on orderkey).

Writes both fact tables ``bucketBy(N, orderkey).sortBy(orderkey)``
into the Spark warehouse, then runs the same join+aggregate once over
the raw parquet and once over the bucketed tables and reports measured
wall-clock and shuffle-write bytes for each (stage metrics from the
SparkContext's status store, which keeps them with the UI off). With
bucketed layout the sort-merge join reads co-located, pre-sorted
buckets and the physical plan contains NO Exchange on either side —
the claim locked by tests/test_bucketing.py, here backed by measured
bytes.

At 100 TB this is the ingest-time trade: one extra shuffle when the
fact tables land (the bucketed write) buys every subsequent
orderkey-equi-join/groupBy for free. Broadcast is force-disabled for
the comparison because at the real scale neither side fits in memory
— the generic big-fact ⋈ big-fact shape is exactly where bucketing is
the only shuffle-avoidance left.

Usage: python tools/bucketize.py [sf_dir] [n_buckets]
Prints one JSON line with the measurement.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _shuffle_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle_write_bytes, shuffle_read_bytes) across all
    stages, from the status store the UI REST API would serve (it is
    filled whether or not the UI runs)."""
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None)
    write = read = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        write += s.shuffleWriteBytes()
        read += s.shuffleReadBytes()
    return write, read


def _measure(spark, df, label: str) -> dict:
    w0, r0 = _shuffle_totals(spark)
    spark.sparkContext.setJobDescription(f"bucketize:{label}")
    t0 = time.time()
    n = df.count()
    wall = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    w1, r1 = _shuffle_totals(spark)
    return {
        "label": label,
        "rows": n,
        "wall_s": round(wall, 3),
        "shuffle_write_bytes": w1 - w0,
        "shuffle_read_bytes": r1 - r0,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from easydb_server_spark.session import get_spark

    spark = get_spark("bucketize")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    from easydb_server_spark.tables import write_table

    t0 = time.time()
    write_table(o, "b_orders", bucket_by="o_orderkey", n_buckets=n_buckets)
    write_table(li, "b_lineitem", bucket_by="l_orderkey", n_buckets=n_buckets)
    ingest_wall = time.time() - t0

    # the at-scale shape: two fact tables, broadcast impossible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = """
            SELECT o_orderkey, COUNT(*) AS n, SUM(l_extendedprice) AS total
            FROM {o} o JOIN {l} l ON o.o_orderkey = l.l_orderkey
            GROUP BY o_orderkey
        """
        o.createOrReplaceTempView("raw_orders")
        li.createOrReplaceTempView("raw_lineitem")
        raw = _measure(spark, spark.sql(q.format(o="raw_orders", l="raw_lineitem")), "raw-parquet")
        bucketed = _measure(spark, spark.sql(q.format(o="b_orders", l="b_lineitem")), "bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")

    out = {
        "sf_dir": sf_dir,
        "n_buckets": n_buckets,
        "bucketed_ingest_wall_s": round(ingest_wall, 3),
        "raw": raw,
        "bucketed": bucketed,
    }
    print(json.dumps(out))
    # the bucketed side still shows ~1 KB: that is count()'s own
    # partial-count exchange (32 partitions × ~30 B), not the join —
    # the join/groupBy plan itself is exchange-free (test_bucketing.py)
    ok = bucketed["shuffle_write_bytes"] < 0.01 * raw["shuffle_write_bytes"]
    assert raw["rows"] == bucketed["rows"], "result mismatch between layouts"
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
