"""Gateway workloads: the Flask app driven through its test client.

``gateway_interactive``: 2 closed-loop clients, small cataloged
CSV/TSV/NdJSON tables, a 20-file ad-hoc CSV glob, DDL, catalog and
history reads, and file-add writes to the glob.

``gateway_scan_export``: 1 closed-loop client, ``/query/export``
(csv, tsv, ndjson in rotation) and full-scan aggregates over a CSV and
an NdJSON glob about ten times the interactive input.

Each cycle of operations has a fixed composition, a chosen mix whose
shares ``spec.WORKLOADS`` gives with their reasons; runs end on a cycle
boundary so every seed times the same mix. Results are checked after
the timed loop, against DuckDB over the same files and the catalog
state each request could have seen. Each export's file is deleted as
it arrives; its header and row count are kept and checked after the
loop.
"""

from __future__ import annotations

import csv
import json
import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import duckdb

from perfbench import inputs
from perfbench.layers import count_spark_work
from perfbench.spec import SETUP_REPS
from perfbench.stats import min_samples
from perfbench.trace import Tracer

INTERACTIVE_CLIENTS = 2
SCAN_CLIENTS = 1
# gateway_interactive stays below 32 files in its glob for the whole
# run (warm, timed or traced): past
# spark.sql.sources.parallelPartitionDiscovery.threshold (32) Spark
# lists a glob with a job of its own and every request slows down.
# operations per second on a 4-core host, used only to size a run
NOMINAL_OPS_PER_S = {"gateway_interactive": 8.0, "gateway_scan_export": 4.5}

# ---- operation templates: {src} names resolve per engine --------------

INTERACTIVE_SQL = {
    "point_order": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        "FROM {orders} WHERE o_orderkey = {key}"
    ),
    "point_customer": (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM {customer} WHERE c_custkey = {cust}"
    ),
    "group_priority": (
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM {orders} "
        "WHERE o_custkey % 7 = {r7} GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "join_segment": (
        "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total "
        "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey % 5 = {r5} GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
    ),
    "join_lines": (
        "SELECT o.o_orderstatus, l.l_returnflag, count(*) AS n, sum(l.l_quantity) AS qty "
        "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_partkey % 5 = {r5} GROUP BY o.o_orderstatus, l.l_returnflag "
        "ORDER BY o.o_orderstatus, l.l_returnflag"
    ),
    "recent_priority": (
        "SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS first_key FROM {recent} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "adhoc_events": (
        "SELECT event_type, count(*) AS n, sum(value) AS total FROM {events} "
        "WHERE user_id % 5 = {r5} GROUP BY event_type ORDER BY event_type"
    ),
    "adhoc_count": "SELECT count(*) AS n FROM {events}",
}

# one cycle: 12 cataloged fetches, 4 ad-hoc fetches, 1 file add (plus
# its count), 1 DDL, 2 reads, interleaved; a chosen mix, with the
# reason for each share in spec.WORKLOADS. The order is the same for
# every seed (the seed picks rows and parameters): on this path the
# order of requests moves latency more than the data does.
INTERACTIVE_CYCLE = [
    "point_order",
    "adhoc_events",
    "group_priority",
    "join_segment",
    "catalog",
    "recent_priority",
    "point_order",
    "join_lines",
    "adhoc_count",
    "point_customer",
    "ddl_recent",
    "group_priority",
    "adhoc_events",
    "join_segment",
    "recent_priority",
    "history",
    "point_order",
    "join_lines",
    "add_file",
    "adhoc_events",
]

KIND = {
    "point_order": "fetch",
    "point_customer": "fetch",
    "group_priority": "fetch",
    "join_segment": "fetch",
    "join_lines": "fetch",
    "recent_priority": "fetch",
    "adhoc_events": "adhoc",
    "adhoc_count": "adhoc",
    "add_file": "adhoc",
    "ddl_recent": "ddl",
    "catalog": "read",
    "history": "read",
    "export_csv": "export",
    "export_tsv": "export",
    "export_ndjson": "export",
    "scan_csv": "fetch",
    "scan_json": "fetch",
    "scan_adhoc": "adhoc",
}

SPARK_SRC = {
    "orders": "orders",
    "customer": "customer",
    "lineitem": "lineitem",
    "recent": "recent",
    "events": "'events/*.csv'",
    "scan_csv": "scan_csv",
    "scan_json": "scan_json",
    "scan_csv_glob": "'scan_csv/*.csv'",
    "scan_json_glob": "'scan_json/*.log'",
}

# recent's location by DDL generation (even: CSV, odd: NdJSON)
RECENT_LOCATIONS = ("recent_b.csv", "recent_c.log")

SCAN_EXPORT_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"]
SCAN_EXPORT_SQL = "SELECT " + ", ".join(SCAN_EXPORT_COLS) + " FROM {src} WHERE l_partkey % 4 = {r4}"
SCAN_AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
    "sum(l_extendedprice) AS price, avg(l_discount) AS disc FROM {src} "
    "WHERE l_partkey % 4 <> {r4} GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)
# op -> (source, export format or None)
SCAN_OPS = {
    "export_csv": ("scan_csv", "csv"),
    "scan_json": ("scan_json", None),
    "export_tsv": ("scan_json", "tsv"),
    "scan_csv": ("scan_csv", None),
    "export_ndjson": ("scan_csv_glob", "ndjson"),
    "scan_adhoc": ("scan_json_glob", None),
}
SCAN_CYCLE = list(SCAN_OPS)

# ops whose answer depends on the glob's files rather than on the DDL state
GLOB_OPS = ("adhoc_events", "adhoc_count", "add_file")

# sources each template reads, for input bytes
READS = {
    "point_order": ("orders",),
    "point_customer": ("customer",),
    "group_priority": ("orders",),
    "join_segment": ("orders", "customer"),
    "join_lines": ("orders", "lineitem"),
    "recent_priority": ("recent",),
    "adhoc_events": ("events",),
    "adhoc_count": ("events",),
    "add_file": ("events",),
}


@dataclass
class Record:
    """One operation as sent, timed and answered."""

    op: str
    sql: str | None
    params: dict
    latency: float
    status: int
    body: object
    input_bytes: int
    # catalog / glob state the request could have seen: [lo, hi]
    state: tuple[int, int] = (0, 0)
    error: str | None = None
    # an export's first line and line count (its file is not kept)
    export: tuple[str, int] | None = None


@dataclass
class GatewayState:
    """Versions of the mutable inputs, so a check knows every state a
    request may have read. ``done`` moves when a change is visible,
    ``started`` before it begins; a request spanning ``[done at send,
    started at return]`` may have seen any state in between."""

    lock: threading.Lock = field(default_factory=threading.Lock)
    change_lock: threading.Lock = field(default_factory=threading.Lock)
    ddl_started: int = 0
    ddl_done: int = 0
    files_started: int = 0
    files_done: int = 0


class Gateway:
    """One gateway workload over one generated input directory."""

    def __init__(self, workload: str, spark, run_dir: str, seed: int, tracer: Tracer | None):
        self.workload = workload
        self.spark = spark
        self.run_dir = run_dir
        self.data = os.path.join(run_dir, "data")
        self.tracer = tracer
        self.state = GatewayState()
        self.rng = random.Random(seed)
        self.interactive = workload == "gateway_interactive"
        self.manifest = inputs.generate("interactive" if self.interactive else "scan", self.data, seed)
        self.export_dir = os.path.join(run_dir, "exports")
        os.makedirs(self.export_dir, exist_ok=True)
        self._pool = sorted(os.listdir(os.path.join(self.data, "events_pool"))) if self.interactive else []
        # DuckDB loads the inputs only for the checks, after the loop
        self._duck = None
        self._keys = self._keys_of("orders.csv", ",") if self.interactive else []
        self._custs = self._keys_of("customer.tsv", "\t") if self.interactive else []
        self._op_seq = 0
        self._seq_lock = threading.Lock()

    # ---- inputs ----

    def _load_duck(self) -> duckdb.DuckDBPyConnection:
        """The generated files as DuckDB tables, for the checks.
        ``events_all`` holds the glob's files and the pool's, with
        ``file_no``: version ``v`` of the glob is ``file_no < 20 + v``."""
        con = duckdb.connect()
        if self.interactive:
            for table, fname in (
                ("orders", "orders.csv"),
                ("customer", "customer.tsv"),
                ("lineitem", "lineitem.log"),
                ("recent_0", RECENT_LOCATIONS[0]),
                ("recent_1", RECENT_LOCATIONS[1]),
            ):
                con.execute(f"CREATE TABLE {table} AS SELECT * FROM {self._duck_read(fname)}")
            # the pool's files, wherever the write ops have moved them
            files = [
                os.path.join(self.data, d, f)
                for d in ("events", "events_pool")
                for f in sorted(os.listdir(os.path.join(self.data, d)))
            ]
            listed = ", ".join(f"'{f}'" for f in files)
            con.execute(
                f"CREATE TABLE events_all AS SELECT event_id, user_id, event_type, value, "
                f"CAST(regexp_extract(filename, 'part-([0-9]+)', 1) AS INTEGER) AS file_no "
                f"FROM read_csv([{listed}], header=true, filename=true)"
            )
        else:
            con.execute(
                f"CREATE TABLE scan_csv AS SELECT * FROM read_csv('{os.path.join(self.data, 'scan_csv', '*.csv')}', header=true)"
            )
            con.execute(
                f"CREATE TABLE scan_json AS SELECT * FROM "
                f"read_json_auto('{os.path.join(self.data, 'scan_json', '*.log')}', format='newline_delimited')"
            )
        return con

    def _keys_of(self, fname: str, delim: str) -> list[int]:
        """The first column of a generated table, sorted."""
        with open(os.path.join(self.data, fname), newline="") as f:
            rows = csv.reader(f, delimiter=delim)
            next(rows)
            return sorted(int(r[0]) for r in rows)

    def _duck_read(self, fname: str) -> str:
        path = os.path.join(self.data, fname)
        if fname.endswith(".log"):
            return f"read_json_auto('{path}', format='newline_delimited')"
        delim = "\t" if fname.endswith(".tsv") else ","
        return f"read_csv('{path}', header=true, delim='{delim}')"

    def _events_files(self, version: int) -> list[str]:
        """The glob's files once ``version`` write ops have landed
        (pool files move in name order)."""
        n = inputs.INTERACTIVE["events_files"] + version
        return [os.path.join(self.data, "events", f"part-{i:03d}.csv") for i in range(n)]

    def _bytes(self, op: str, state: int) -> int:
        """Input bytes of ``op`` sent at ``state``: the glob's version
        for the glob ops, the DDL generation (which ``recent`` file is
        cataloged) for the others."""
        total = 0
        for name in READS.get(op, ()):
            if name == "events":
                total += sum(os.path.getsize(p) for p in self._events_files(state))
            elif name == "recent":
                total += self.manifest[os.path.splitext(RECENT_LOCATIONS[state % 2])[0]]["bytes"]
            else:
                total += self.manifest[name]["bytes"]
        return total

    # ---- set-up ----

    def ddls(self) -> list[str]:
        if self.interactive:
            return [
                "CREATE TABLE orders () LOCATION 'orders.csv'",
                "CREATE TABLE customer () LOCATION 'customer.tsv'",
                "CREATE TABLE lineitem () LOCATION 'lineitem.log'",
                f"CREATE TABLE recent () LOCATION '{RECENT_LOCATIONS[0]}'",
            ]
        return [
            "CREATE TABLE scan_csv () LOCATION 'scan_csv/*.csv'",
            "CREATE TABLE scan_json () LOCATION 'scan_json/*.log'",
        ]

    def setup_once(self, rep: int):
        """Fresh catalog, engine and app, with the tables registered by
        DDL. Returns the app."""
        from easydb_server_spark.catalog import Catalog
        from easydb_server_spark.engine import Engine
        from easydb_server_spark.http_app import create_app

        self.db = os.path.join(self.run_dir, f"catalog-{rep}.sqlite")
        app = create_app(Engine(self.spark, Catalog(self.db)))
        self._post_all(app, self.ddls())
        return app

    def _post_all(self, app, sqls: list[str]) -> None:
        client = app.test_client()
        for sql in sqls:
            r = client.post("/fetch", json={"sql": sql})
            if r.status_code != 200 or r.get_json().get("resp_code") != 0:
                raise RuntimeError(f"set-up request failed ({r.status_code}): {sql}: {r.get_data(as_text=True)[:300]}")

    def setup(self) -> tuple[object, list[float]]:
        """``SETUP_REPS`` timed set-ups; the last one serves the run."""
        import easydb_server_spark.export as export_mod

        # exports land in the run directory, not the program's default
        export_mod.EXPORT_DIR = self.export_dir
        times = []
        app = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            app = self.setup_once(rep)
            times.append(time.perf_counter() - t0)
        return app, times

    # ---- the operation stream ----

    def cycle(self) -> list[str]:
        return list(INTERACTIVE_CYCLE if self.interactive else SCAN_CYCLE)

    def params(self) -> dict:
        return {
            "key": self.rng.choice(self._keys) if self._keys else 0,
            "cust": self.rng.choice(self._custs) if self._custs else 0,
            "r4": self.rng.randrange(4),
            "r5": self.rng.randrange(5),
            "r7": self.rng.randrange(7),
        }

    def run_op(self, client, op: str, params: dict) -> Record:
        st = self.state
        sql = None
        if op in INTERACTIVE_SQL or op == "add_file":
            sql = INTERACTIVE_SQL["adhoc_count" if op == "add_file" else op].format(**SPARK_SRC, **params)
        elif op in SCAN_OPS:
            src, fmt = SCAN_OPS[op]
            sql = (SCAN_EXPORT_SQL if fmt else SCAN_AGG_SQL).format(src=SPARK_SRC[src], r4=params["r4"])
        reads_glob = op in GLOB_OPS

        with st.lock:
            lo = st.files_done if reads_glob else st.ddl_done
        t0 = time.perf_counter()
        if op == "add_file":
            with st.change_lock:
                lo = self._add_file()
            r = self._request(client, "POST", "/fetch", {"sql": sql})
        elif op == "ddl_recent":
            # one DDL at a time, so generation g is the latest location
            with st.change_lock:
                with st.lock:
                    st.ddl_started += 1
                    lo = st.ddl_started
                sql = f"CREATE TABLE recent () LOCATION '{RECENT_LOCATIONS[lo % 2]}'"
                r = self._request(client, "POST", "/fetch", {"sql": sql})
                with st.lock:
                    st.ddl_done = lo
        elif op in ("catalog", "history"):
            r = self._request(client, "GET", "/catalog" if op == "catalog" else "/query/history", None)
        elif op in SCAN_OPS and SCAN_OPS[op][1]:
            r = self._request(client, "POST", "/query/export", {"sql": sql, "file_type": SCAN_OPS[op][1]})
        else:
            r = self._request(client, "POST", "/fetch", {"sql": sql})
        latency = time.perf_counter() - t0
        with st.lock:
            hi = st.files_started if reads_glob else st.ddl_started
        status, body = r
        in_bytes = self._bytes(op, lo) if self.interactive else self._scan_bytes(op)
        rec = Record(op, sql, params, latency, status, body, in_bytes, (lo, hi))
        if op in SCAN_OPS and SCAN_OPS[op][1]:
            self._delete_exports()
            if status == 200:
                rec.export = (body.split(b"\n", 1)[0].decode(), _lines(body))
                rec.body = None
        return rec

    def _add_file(self) -> int:
        """Move the next pool file into the glob; returns the new version."""
        st = self.state
        with st.lock:
            st.files_started += 1
            v = st.files_started
        name = self._pool[v - 1]
        os.rename(os.path.join(self.data, "events_pool", name), os.path.join(self.data, "events", name))
        with st.lock:
            st.files_done = v
        return v

    def _scan_bytes(self, op: str) -> int:
        src = SCAN_OPS[op][0]
        return self.manifest["scan_csv" if src.startswith("scan_csv") else "scan_json"]["bytes"]

    def _request(self, client, method: str, path: str, payload) -> tuple[int, object]:
        tr = self.tracer
        if tr is not None and tr.op is not None:
            with tr.span("http_app.request"):
                r = client.open(path, method=method, json=payload)
                data = r.get_data()
        else:
            r = client.open(path, method=method, json=payload)
            data = r.get_data()
        if path == "/query/export" and r.status_code == 200:
            return r.status_code, data
        return r.status_code, json.loads(data)

    def _delete_exports(self) -> None:
        """Remove the program's copy of each exported file."""
        for f in os.listdir(self.export_dir):
            path = os.path.join(self.export_dir, f)
            if os.path.isfile(path):
                os.remove(path)

    def _check_export(self, rec: Record, export_counts: dict) -> str | None:
        """Header and row count of one download."""
        if rec.export is None:
            return f"export status {rec.status}: {str(rec.body)[:200]}"
        fmt = SCAN_OPS[rec.op][1]
        first, lines = rec.export
        want = export_counts[(SCAN_OPS[rec.op][0].removesuffix("_glob"), rec.params["r4"])]
        if fmt in ("csv", "tsv"):
            sep = "," if fmt == "csv" else "\t"
            if first.split(sep) != SCAN_EXPORT_COLS:
                return f"{fmt} header {first!r}"
            lines -= 1
        else:
            if want and sorted(json.loads(first)) != sorted(SCAN_EXPORT_COLS):
                return f"ndjson keys {first[:200]!r}"
        if lines != want:
            return f"{fmt} rows {lines} != {want}"
        return None

    # ---- the closed loop ----

    def loop(self, app, cycles: int, traced: bool) -> tuple[list[Record], float]:
        """Run ``cycles`` whole cycles from the clients' threads; returns
        the records and the wall time."""
        n_clients = INTERACTIVE_CLIENTS if self.interactive else SCAN_CLIENTS
        queue = [(op, self.params()) for _ in range(cycles) for op in self.cycle()]
        queue.reverse()
        qlock = threading.Lock()
        records: list[Record] = []
        errors: list[BaseException] = []
        t_start = time.perf_counter()

        def next_op():
            with qlock:
                return queue.pop() if queue and not errors else None

        def client_main():
            client = app.test_client()
            try:
                while (item := next_op()) is not None:
                    op, params = item
                    if traced:
                        rec = self._traced(client, op, params)
                    else:
                        rec = self.run_op(client, op, params)
                    with qlock:
                        records.append(rec)
            except BaseException as e:  # re-raised by the caller
                with qlock:
                    errors.append(e)

        threads = [threading.Thread(target=client_main, name=f"client-{i}") for i in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t_start
        if errors:
            raise errors[0]
        return records, wall

    def _traced(self, client, op: str, params: dict) -> Record:
        tr = self.tracer
        with self._seq_lock:
            self._op_seq += 1
            op_id = f"op{self._op_seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op)
        tr.begin_op(op_id)
        try:
            rec = self.run_op(client, op, params)
            count_spark_work(tr, self.spark, op_id)
        finally:
            tr.end_op()
        return rec

    def cycles_for(self, seconds: float) -> int:
        """Cycles one run times. The count follows ``seconds`` at a
        nominal rate, not the measured one, so every run times the same
        operations from the same state and a faster program simply
        ends sooner. ``gateway_interactive`` always gets the 100
        operations a p90 with ten samples beyond it needs; a
        ``gateway_scan_export`` run that long would not fit the time
        the benchmark's runs have, so its p90 rests on fewer."""
        cycle = len(INTERACTIVE_CYCLE if self.interactive else SCAN_CYCLE)
        floor = min_samples(0.9) if self.interactive else cycle
        return max(math.ceil(floor / cycle), math.ceil(seconds * NOMINAL_OPS_PER_S[self.workload] / cycle))

    # ---- checks ----

    def check(self, records: list[Record]) -> None:
        """Set ``error`` on every record whose answer is wrong."""
        self._duck = self._load_duck()
        export_counts = {}
        if not self.interactive:
            # rows each export should write, per source and r4
            for src in ("scan_csv", "scan_json"):
                rows = self._duck.execute(f"SELECT l_partkey % 4, count(*) FROM {src} GROUP BY 1").fetchall()
                export_counts.update({(src, r4): n for r4, n in rows})
        cache: dict = {}
        for rec in records:
            if rec.error is not None:
                continue
            if rec.op in SCAN_OPS and SCAN_OPS[rec.op][1]:
                rec.error = self._check_export(rec, export_counts)
                continue
            if rec.status != 200 or not isinstance(rec.body, dict) or rec.body.get("resp_code") != 0:
                rec.error = f"status {rec.status}: {str(rec.body)[:300]}"
                continue
            data = rec.body.get("data")
            if rec.op == "ddl_recent":
                if data.get("rows") != [["successful"]]:
                    rec.error = f"ddl answer {data}"
            elif rec.op == "catalog":
                names = {t["table_ref"] for t in data}
                if not {"orders", "customer", "lineitem", "recent"} <= names:
                    rec.error = f"catalog lists {sorted(names)}"
            elif rec.op == "history":
                if not 0 < len(data) <= 30 or any(h.get("status") != "successful" for h in data):
                    rec.error = f"history {str(data)[:300]}"
            else:
                rec.error = self._check_rows(rec, data, cache)

    def _check_rows(self, rec: Record, data: dict, cache: dict) -> str | None:
        lo, hi = rec.state
        last = None
        for s in range(lo, hi + 1):
            key = (rec.sql, self._state_key(rec.op, s))
            if key not in cache:
                cache[key] = self._expected(rec.op, rec.params, s)
            header, rows = cache[key]
            last = _compare(data, header, rows)
            if last is None:
                return None
        return f"{rec.op}: {last} (states {lo}..{hi})"

    def _state_key(self, op: str, s: int):
        if op in GLOB_OPS:
            return ("files", s)
        if op == "recent_priority":
            return ("recent", s % 2)
        return None

    def _expected(self, op: str, params: dict, s: int):
        """DuckDB's answer to the op's template over the files state
        ``s`` points at."""
        if self.interactive:
            n_files = inputs.INTERACTIVE["events_files"] + s
            src = {
                "orders": "orders",
                "customer": "customer",
                "lineitem": "lineitem",
                "recent": f"recent_{s % 2}",
                "events": f"(SELECT * EXCLUDE (file_no) FROM events_all WHERE file_no < {n_files})",
            }
            template = INTERACTIVE_SQL["adhoc_count" if op == "add_file" else op]
            sql = template.format(**src, **params)
        else:
            sql = SCAN_AGG_SQL.format(src=SCAN_OPS[op][0].removesuffix("_glob"), r4=params["r4"])
        cur = self._duck.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
        shutil.rmtree(self.export_dir, ignore_errors=True)


def _lines(data: bytes) -> int:
    return data.count(b"\n") + (1 if data and not data.endswith(b"\n") else 0)


def _same(cell: str, value) -> bool:
    if value is None:
        return cell == "null"
    if isinstance(value, bool):
        return cell == ("true" if value else "false")
    if isinstance(value, (int, float)) or type(value).__name__ == "Decimal":
        try:
            return math.isclose(float(cell), float(value), rel_tol=1e-9, abs_tol=1e-9)
        except ValueError:
            return False
    return cell == str(value)


def _compare(data: dict, header: list[str], rows: list[tuple]) -> str | None:
    if data.get("header") != header:
        return f"header {data.get('header')} != {header}"
    got = data.get("rows", [])
    if len(got) != len(rows):
        return f"{len(got)} rows != {len(rows)}"
    for g, w in zip(got, rows):
        if len(g) != len(w) or not all(_same(c, v) for c, v in zip(g, w)):
            return f"row {g} != {list(w)}"
    return None
