"""Seeded input generator.

Every input the program sees is written here, with the installed
``duckdb``, from the fixture tables TESTDATA.md describes. The seed
picks which rows land in which file (rows are ordered by a seeded
hash of their key), never how many, so every seed gives inputs of the
same shape and size and the same seed gives byte-identical files.

``manifest`` records rows (as written) and bytes per input. A run
calls :func:`generate`, which builds the inputs in a child process so
the generator's memory is not part of the run's peak RSS.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb

# fixture tree from TESTDATA.md (one parquet file per table and scale)
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# gateway_interactive: small cataloged tables plus a 20-file glob
INTERACTIVE = {
    "orders_rows": 6_000,
    "recent_rows": 3_000,
    "customer_rows": 2_000,
    "lineitem_rows": 12_000,
    "events_files": 20,
    "events_rows_per_file": 300,
    "pool_files": 40,  # files a write op moves into the glob
}

# gateway_scan_export: one CSV glob and one NdJSON glob of lineitem
SCAN = {"files": 8, "csv_rows_per_file": 12_500, "json_rows_per_file": 4_000}

# operator_batch reads this scale's parquet files, copied as given
BATCH_SF = "sf0.01"
BATCH_TABLES = (
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


def _fixture(sf: str, table: str) -> str:
    return os.path.join(TESTDATA, sf, f"{table}.parquet")


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # one thread: COPY writes rows in one deterministic order
    con.execute("SET threads = 1")
    return con


def _copy(con, query: str, path: str, fmt: str) -> int:
    """Write ``query`` to ``path``; returns the rows written."""
    opts = {
        "csv": "FORMAT CSV, HEADER",
        "tsv": "FORMAT CSV, HEADER, DELIMITER '\t'",
        "ndjson": "FORMAT JSON",
    }[fmt]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return con.execute(f"COPY ({query}) TO '{path}' ({opts})").fetchone()[0]


def _record(manifest: dict, name: str, paths: list[str], rows: int) -> None:
    manifest[name] = {
        "files": len(paths),
        "rows": rows,
        "bytes": sum(os.path.getsize(p) for p in paths),
    }


def _order(key: str, seed: int) -> str:
    return f"hash({key}, {int(seed)})"


def make_interactive(root: str, seed: int) -> dict:
    """Tables for ``gateway_interactive`` under ``root``.

    - ``orders.csv`` / ``customer.tsv`` / ``lineitem.log``: cataloged;
      the orders belong to the sampled customers and the lineitems to
      the sampled orders, so every join has matches.
    - ``recent_b.csv`` / ``recent_c.log``: two disjoint order sets a
      DDL op re-points the ``recent`` table between.
    - ``events/part-NNN.csv``: the ad-hoc glob; ``events_pool/`` holds
      the files write ops move into it.
    """
    p = INTERACTIVE
    manifest: dict = {}
    con = _connect()
    sf = "sf0.1"
    con.execute(
        f"CREATE TEMP TABLE cust AS SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
        f"c_mktsegment FROM '{_fixture(sf, 'customer')}' "
        f"ORDER BY {_order('c_custkey', seed)}, c_custkey LIMIT {p['customer_rows']}"
    )
    con.execute(
        f"CREATE TEMP TABLE ord AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        f"CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority, "
        f"row_number() OVER (ORDER BY {_order('o_orderkey', seed)}, o_orderkey) AS rn "
        f"FROM '{_fixture(sf, 'orders')}' WHERE o_custkey IN (SELECT c_custkey FROM cust)"
    )
    n_o, n_r = p["orders_rows"], p["recent_rows"]
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    for name, fname, fmt, query in (
        ("customer", "customer.tsv", "tsv", "SELECT * FROM cust ORDER BY c_custkey"),
        ("orders", "orders.csv", "csv", f"SELECT {cols} FROM ord WHERE rn <= {n_o} ORDER BY rn"),
        (
            "recent_b",
            "recent_b.csv",
            "csv",
            f"SELECT {cols} FROM ord WHERE rn > {n_o} AND rn <= {n_o + n_r} ORDER BY rn",
        ),
        (
            "recent_c",
            "recent_c.log",
            "ndjson",
            f"SELECT {cols} FROM ord WHERE rn > {n_o + n_r} AND rn <= {n_o + 2 * n_r} ORDER BY rn",
        ),
        (
            "lineitem",
            "lineitem.log",
            "ndjson",
            f"SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice, l_discount, "
            f"l_returnflag, l_linestatus FROM '{_fixture(sf, 'lineitem')}' "
            f"WHERE l_orderkey IN (SELECT o_orderkey FROM ord WHERE rn <= {n_o}) "
            f"ORDER BY {_order('l_orderkey * 8 + l_linenumber', seed)}, l_orderkey, l_linenumber "
            f"LIMIT {p['lineitem_rows']}",
        ),
    ):
        path = os.path.join(root, fname)
        _record(manifest, name, [path], _copy(con, query, path, fmt))

    per = p["events_rows_per_file"]
    n_files = p["events_files"] + p["pool_files"]
    con.execute(
        f"CREATE TEMP TABLE ev AS SELECT event_id, user_id, event_type, value, "
        f"row_number() OVER (ORDER BY {_order('event_id', seed)}, event_id) - 1 AS rn "
        f"FROM '{_fixture(sf, 'events')}'"
    )
    glob_paths, pool_paths = [], []
    glob_rows = pool_rows = 0
    for i in range(n_files):
        in_glob = i < p["events_files"]
        path = (
            os.path.join(root, "events", f"part-{i:03d}.csv")
            if in_glob
            else os.path.join(root, "events_pool", f"part-{i:03d}.csv")
        )
        rows = _copy(
            con,
            f"SELECT event_id, user_id, event_type, value FROM ev "
            f"WHERE rn >= {i * per} AND rn < {(i + 1) * per} ORDER BY rn",
            path,
            "csv",
        )
        if in_glob:
            glob_paths.append(path)
            glob_rows += rows
        else:
            pool_paths.append(path)
            pool_rows += rows
    _record(manifest, "events_glob", glob_paths, glob_rows)
    _record(manifest, "events_pool", pool_paths, pool_rows)
    con.close()
    return manifest


def make_scan(root: str, seed: int) -> dict:
    """A CSV glob and an NdJSON glob of lineitem for ``gateway_scan_export``."""
    p = SCAN
    manifest: dict = {}
    con = _connect()
    con.execute(
        f"CREATE TEMP TABLE li AS SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
        f"l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
        f"CAST(l_shipdate AS DATE) AS l_shipdate, "
        f"row_number() OVER (ORDER BY {_order('l_orderkey * 8 + l_linenumber', seed)}, "
        f"l_orderkey, l_linenumber) - 1 AS rn FROM '{_fixture('sf0.1', 'lineitem')}'"
    )
    cols = (
        "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
    )
    offset = 0
    for name, fmt, ext, per in (
        ("scan_csv", "csv", "csv", p["csv_rows_per_file"]),
        ("scan_json", "ndjson", "log", p["json_rows_per_file"]),
    ):
        paths, rows = [], 0
        for i in range(p["files"]):
            path = os.path.join(root, name, f"part-{i:02d}.{ext}")
            lo = offset + i * per
            rows += _copy(con, f"SELECT {cols} FROM li WHERE rn >= {lo} AND rn < {lo + per} ORDER BY rn", path, fmt)
            paths.append(path)
        offset += p["files"] * per
        _record(manifest, name, paths, rows)
    con.close()
    return manifest


def copy_fixtures(root: str) -> dict:
    """The ``operator_batch`` tables: the parquet files as given, one
    row group each (so one scan task per file)."""
    manifest: dict = {}
    con = _connect()
    os.makedirs(root, exist_ok=True)
    for t in BATCH_TABLES:
        dst = os.path.join(root, f"{t}.parquet")
        shutil.copyfile(_fixture(BATCH_SF, t), dst)
        rows, groups = con.execute(
            f"SELECT num_rows, num_row_groups FROM parquet_file_metadata('{dst}')"
        ).fetchone()
        manifest[t] = {"files": 1, "rows": int(rows), "bytes": os.path.getsize(dst), "row_groups": int(groups)}
    con.close()
    return manifest


def generate(kind: str, root: str, seed: int) -> dict:
    """``make_interactive`` (``kind="interactive"``) or ``make_scan``
    (``"scan"``) in a child process; returns the manifest."""
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", kind, root, str(seed)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


if __name__ == "__main__":
    _kind, _root, _seed = sys.argv[1:4]
    print(json.dumps({"interactive": make_interactive, "scan": make_scan}[_kind](_root, int(_seed))))
