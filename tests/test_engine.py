"""End-to-end engine lifecycle — the README scenario (SURVEY.md §5.2
item 3) plus the quirk/parity behaviors."""

import pytest

from easydb_server_spark.errors import EmptyTableNameError, UnsupportedSQLError


class TestReadmeScenario:
    """FIXTURES.md group 1: the reference's own documented queries."""

    def test_glob_path_as_table(self, engine, data_dir):
        out = engine.query(f"select * from '{data_dir}/order_*.csv'")
        assert out["sql_type"] == "DML"
        assert out["header"] == ["id", "user_id", "product_name"]
        assert len(out["rows"]) == 4

    def test_create_table_then_join(self, engine, data_dir):
        r1 = engine.query("create table user () location 'user.csv'")
        assert r1 == {
            "header": ["summary"],
            "rows": [["successful"]],
            "sql_type": "DDL",
            "query_time": r1["query_time"],
        }
        engine.query("create table log () location 'events_2025*.log'")
        out = engine.query(
            "select * from user as t1 inner join log as t2 on (t1.id = t2.user_id)"
        )
        assert len(out["rows"]) == 3  # 101 matches twice, 102 once

    def test_relative_path_resolution(self, engine, data_dir):
        engine.query("create table user () location 'user.csv'")
        out = engine.query("select count(*) as n from user")
        assert out["rows"] == [["3"]]

    def test_concurrent_path_queries_no_crosstalk(self, engine, data_dir):
        """Concurrent /fetch-style queries registering different path
        tables on the shared session must never read each other's file
        (the reference's second-granularity temp names can collide;
        ours are process-unique)."""
        import threading

        results: dict[int, int] = {}
        errors: list[Exception] = []

        def worker(idx: int, path: str, want: int):
            try:
                out = engine.query(f"select * from '{path}'")
                results[idx] = (len(out["rows"]), want)
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        jobs = []
        for i in range(8):
            path, want = [("user.csv", 3), ("order_1.csv", 2)][i % 2]
            jobs.append(threading.Thread(target=worker, args=(i, path, want)))
        for t in jobs:
            t.start()
        for t in jobs:
            t.join(timeout=120)
        assert not errors
        assert len(results) == 8
        assert all(got == want for got, want in results.values())

    def test_bare_unquoted_path_as_table(self, engine, data_dir):
        """Reference parity: `FROM user.csv` without quotes reads the
        file (`src/data_source/context.rs:94-101`)."""
        out = engine.query("select * from user.csv")
        assert out["sql_type"] == "DML"
        assert out["header"] == ["id", "user_name", "email"]
        assert len(out["rows"]) == 3

    def test_bare_unquoted_glob_join(self, engine, data_dir):
        out = engine.query(
            "select u.user_name, o.product_name from user.csv u "
            "join order_1.csv o on u.id = o.user_id order by o.id"
        )
        assert out["rows"] == [["John Doe", "Apple"], ["Jane Roe", "Banana"]]


    def test_xlsx_sheet_suffix_selects_the_sheet(self, engine, data_dir):
        """``path#SheetName`` (`src/data_source/excel.rs:11-101`)
        through /fetch, cataloged and quoted: the suffix picks the sheet
        and is no part of the file name routed or listed."""
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        for i in (1, 2):
            write_xlsx(
                str(data_dir / f"wb{i}.xlsx"),
                {"Sheet1": (["a"], [[i]]), "Sheet2": (["b", "c"], [[f"x{i}", 10 * i]])},
            )
        engine.query("create table s2 () location 'wb1.xlsx#Sheet2'")
        out = engine.query("select b, c from s2")
        assert (out["header"], out["rows"]) == (["b", "c"], [["x1", "10"]])
        out = engine.query("select b, c from 'wb*.xlsx#Sheet2' order by c")
        assert out["rows"] == [["x1", "10"], ["x2", "20"]]
        out = engine.query("select a from 'wb1.xlsx'")
        assert (out["header"], out["rows"]) == (["a"], [["1"]])


class TestParityBehaviors:
    def test_implicit_limit_200(self, engine):
        out = engine.query("select * from '/root/testdata/sf0.001/lineitem.parquet'")
        assert len(out["rows"]) == 200  # A13

    def test_empty_from_rejected(self, engine):
        with pytest.raises(EmptyTableNameError, match="Table name is empty"):
            engine.query("SELECT 1")  # A23

    def test_write_statements_rejected(self, engine):
        with pytest.raises(UnsupportedSQLError):
            engine.query("DROP TABLE user")  # A12

    def test_ddl_requires_location(self, engine):
        with pytest.raises(UnsupportedSQLError, match="LOCATION"):
            engine.query("CREATE TABLE t (id INT)")  # A14

    def test_nulls_render_as_null_string(self, engine, data_dir):
        engine.query("create table user () location 'user.csv'")
        out = engine.query("select nullif(id, 101) as maybe from user order by id")
        assert out["rows"][0] == ["null"]  # A15

    def test_failed_query_recorded_in_history(self, engine, data_dir):
        engine.query("create table user () location 'user.csv'")
        with pytest.raises(Exception):
            engine.query("select definitely_not_a_column from user")
        statuses = [h["status"] for h in engine.catalog.history()]
        assert "fail" in statuses  # A20

    def test_temp_table_recorded_in_catalog(self, engine, data_dir):
        engine.query(f"select * from '{data_dir}/user.csv'")
        # TEMP rows exist but are hidden from the listing (A9/A19)
        assert engine.catalog.list_tables() == []
        with engine.catalog._conn() as conn:
            n = conn.execute("SELECT count(*) FROM catalog WHERE type='TEMP'").fetchone()[0]
        assert n == 1

    def test_catalog_registration_is_lazy(self, engine):
        # DDL against a nonexistent path succeeds — nothing is read (§3.2)
        out = engine.query("create table ghost () location 'missing.csv'")
        assert out["rows"] == [["successful"]]

    def test_export_csv_roundtrip(self, engine, data_dir, tmp_path):
        engine.query("create table user () location 'user.csv'")
        path = engine.export("select id, user_name from user order by id", "csv")
        text = open(path).read()
        assert text.splitlines()[0] == "id,user_name"
        assert len(text.splitlines()) == 4  # header + 3 (uncapped)

    def test_export_tsv_actually_tab_delimited(self, engine, data_dir):
        # documented deviation from the reference's comma-in-.tsv bug
        engine.query("create table user () location 'user.csv'")
        path = engine.export("select id, user_name from user order by id", "tsv")
        assert "\t" in open(path).read().splitlines()[0]

    def test_export_ndjson(self, engine, data_dir):
        engine.query("create table user () location 'user.csv'")
        path = engine.export("select id from user order by id", "json")
        lines = open(path).read().splitlines()
        assert len(lines) == 3
        assert lines[0] == '{"id":101}'

    def test_datafusion_dialect_spellings_work(self, engine, data_dir):
        # shims registered at Engine init: DataFusion function names run
        engine.query("create table user () location 'user.csv'")
        out = engine.query("select strpos(user_name, 'oe') as p from user order by id")
        assert out["rows"][0] == ["7"]  # 'John Doe' → 'oe' starts at 7

    def test_export_large_result_streams_without_driver_frame(self, spark, tmp_path, monkeypatch):
        """>10⁶-row export through the single-file path: executors
        format part-files, the driver only stream-concatenates — no
        toPandas of the whole result (would be ~large on a real
        export; here we assert correctness of the streamed assembly)."""
        import os

        from easydb_server_spark import export as ex

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path))
        df = spark.range(1_200_000).selectExpr("id", "id * 2 as dbl")
        path = ex.export_query(df.orderBy("id"), "csv")
        with open(path) as f:
            header = f.readline().strip()
            n = sum(1 for _ in f)
            assert header == "id,dbl"
        assert n == 1_200_000
        # ordered input concatenates back in order
        with open(path) as f:
            f.readline()
            first = f.readline().strip()
        assert first == "0,0"
        assert not os.path.isdir(path + ".parts")  # scratch dir cleaned

    def test_export_ndjson_keeps_null_fields(self, spark, tmp_path, monkeypatch):
        """NdJSON rows must carry every column even when null (stable
        key set per record, matching the round-1 pandas writer)."""
        import json as _json

        from easydb_server_spark import export as ex

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path))
        df = spark.createDataFrame([(1, None), (2, "x")], "id int, v string")
        path = ex.export_query(df.orderBy("id"), "json")
        lines = [_json.loads(line) for line in open(path).read().splitlines()]
        assert lines[0] == {"id": 1, "v": None}
        assert lines[1] == {"id": 2, "v": "x"}

    def test_export_csv_header_quotes_special_column_names(self, spark, tmp_path, monkeypatch):
        """A column alias containing the delimiter must be quoted in
        the hand-written header line, same rules as the body."""
        from easydb_server_spark import export as ex

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path))
        df = spark.createDataFrame([(1,)], "x int").selectExpr("x AS `a,b`")
        path = ex.export_query(df, "csv")
        assert open(path).read().splitlines()[0] == '"a,b"'

    def test_export_csv_body_quotes_rfc4180_doubled(self, spark, tmp_path, monkeypatch):
        """Body cells containing a literal quote use RFC-4180 doubling
        (escape='\"'), matching the hand-written header's convention —
        one file, one quoting dialect (ADVICE r2)."""
        from easydb_server_spark import export as ex

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path))
        df = spark.createDataFrame([(1, 'say "hi", ok')], "id int, msg string")
        path = ex.export_query(df, "csv")
        body = open(path).read().splitlines()[1]
        assert body == '1,"say ""hi"", ok"'

    def test_export_guard_detects_missing_part_files(self, spark, tmp_path, monkeypatch):
        """If the driver's glob finds no part-files for a non-empty
        result (multi-node cluster without a shared FS), the export
        must fail loudly, not emit a header-only file (ADVICE r2)."""
        import glob as _g

        import pytest as _pytest

        from easydb_server_spark import export as ex

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path))
        monkeypatch.setattr(ex._glob, "glob", lambda pattern: [])
        df = spark.createDataFrame([(1,)], "id int")
        with _pytest.raises(RuntimeError, match="distributed=True"):
            ex.export_query(df, "csv")
        monkeypatch.setattr(ex._glob, "glob", _g.glob)
        # empty results still export fine through the guard
        empty = spark.createDataFrame([], "id int")
        path = ex.export_query(empty, "csv")
        assert open(path).read().splitlines() == ["id"]

    def test_export_distributed_part_files(self, engine, data_dir):
        # cluster path: a directory of part files written in parallel
        from easydb_server_spark.export import export_query

        engine.query("create table user () location 'user.csv'")
        df = engine.dataframe("select id, user_name from user")
        out = export_query(df, "csv", distributed=True)
        import glob as g
        import os

        assert os.path.isdir(out)
        parts = g.glob(f"{out}/part-*.csv")
        assert parts
        rows = sum(len(open(p).read().splitlines()) - 1 for p in parts if open(p).read())
        assert rows == 3


@pytest.fixture()
def open_cost(spark):
    """Set ``spark.sql.files.openCostInBytes`` for one test: the
    readers' single-partition threshold, and Spark's file split cost."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


def _shuffled_csv(path, n):
    """``k,v`` rows for k in 0..n-1, in a fixed non-sorted order."""
    path.write_text("k,v\n" + "".join(f"{k},{k % 7}\n" for k in ((i * 7919) % n for i in range(n))))


class TestSourceCache:
    """Each source resolves once per change signature and small ones
    are served from Spark's cache (sources/readers.py); every request
    still sees the files as they are."""

    @pytest.mark.parametrize(
        "sql",
        [
            "select v, count(*) as n, sum(k) as s from t group by v order by v",
            "select k, rank() over (partition by v order by k desc) as r from t order by k",
        ],
    )
    def test_small_source_runs_as_one_job_without_exchange(self, engine, data_dir, spark, sql):
        """A source within openCostInBytes is one partition, so a
        group-by, ORDER BY or window over it needs no Exchange and the
        request (capped like /fetch) runs one Spark job."""
        from easydb_server_spark.results import INTERACTIVE_LIMIT

        _shuffled_csv(data_dir / "t.csv", 500)
        engine.query("create table t () location 't.csv'")
        want = engine.query(sql)["rows"]  # fills the source's cache
        sc = spark.sparkContext
        df = engine.dataframe(sql).limit(INTERACTIVE_LIMIT)
        group = f"one-job: {sql}"
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            sc.setJobGroup("", "")
        assert [[str(c) for c in r] for r in rows] == want
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def test_source_above_open_cost_keeps_its_split(self, engine, data_dir, open_cost):
        from easydb_server_spark.sources import readers

        _shuffled_csv(data_dir / "t.csv", 500)
        open_cost(1024)  # t.csv is ~3 KB
        engine.query("create table t () location 't.csv'")
        out = engine.query("select v, count(*) as n from t group by v order by v")
        assert [int(r[1]) for r in out["rows"]] == [72, 72, 72, 71, 71, 71, 71]
        df = readers._SCHEMA_CACHE[(str(data_dir / "t.csv"), "csv")].df
        assert df.rdd.getNumPartitions() > 1

    def test_glob_grown_past_open_cost_switches_to_parallel_split(self, engine, data_dir, open_cost):
        from easydb_server_spark.sources import readers

        open_cost(300)
        key = (str(data_dir / "grow_*.csv"), "csv")
        engine.query("create table grow () location 'grow_*.csv'")
        sql = "select k from grow order by k"
        partitions = []
        for i in range(4):  # ~100 bytes a file: 1 and 2 files fit in 300
            (data_dir / f"grow_{i}.csv").write_text("k,pad\n" + "".join(f"{10 * i + j},{'x' * 8}\n" for j in range(8)))
            rows = engine.query(sql)["rows"]
            assert rows == [[str(10 * f + j)] for f in range(i + 1) for j in range(8)]
            partitions.append(readers._SCHEMA_CACHE[key].df.rdd.getNumPartitions())
        assert partitions[0] == 1 and partitions[-1] > 1

    def test_one_shot_read_is_not_coalesced(self, spark, data_dir):
        """A two-file glob within openCostInBytes reads as two splits;
        the reused source is one partition, a reuse=False read is not."""
        from easydb_server_spark.sources.readers import read_path

        assert read_path(spark, "order_*.csv").rdd.getNumPartitions() == 1
        assert read_path(spark, "order_*.csv", reuse=False).rdd.getNumPartitions() == 2

    @pytest.mark.parametrize("cost", [None, 4096])
    def test_ordered_export_is_sorted_over_one_or_many_partitions(
        self, engine, data_dir, open_cost, cost, tmp_path, monkeypatch
    ):
        """The single-file export concatenates part files in name order,
        so an ORDER BY must come out sorted whether the source is one
        partition (within openCostInBytes) or split (above it)."""
        import json

        from easydb_server_spark import export as ex
        from easydb_server_spark.sources import readers

        monkeypatch.setattr(ex, "EXPORT_DIR", str(tmp_path / "exports"))

        _shuffled_csv(data_dir / "t.csv", 3000)  # ~18 KB
        if cost is not None:
            open_cost(cost)
        engine.query("create table t () location 't.csv'")
        sql = "select k, v from t order by k"
        lines = open(engine.export(sql, "csv")).read().splitlines()
        assert lines[0] == "k,v"
        assert [int(line.split(",")[0]) for line in lines[1:]] == list(range(3000))
        lines = open(engine.export(sql, "json")).read().splitlines()
        assert [json.loads(line)["k"] for line in lines] == list(range(3000))
        df = readers._SCHEMA_CACHE[(str(data_dir / "t.csv"), "csv")].df
        assert (df.rdd.getNumPartitions() == 1) == (cost is None)

    def test_rebinding_a_name_reads_each_location(self, engine, data_dir):
        """A→p1→p2→p1: the view is keyed by name, so going back to p1
        (whose DataFrame is still resolved) rebinds it."""
        (data_dir / "p1.csv").write_text("k\n1\n")
        (data_dir / "p2.csv").write_text("k\n2\n3\n")
        for loc, want in [("p1.csv", [["1"]]), ("p2.csv", [["2"], ["3"]]), ("p1.csv", [["1"]])]:
            engine.query(f"create table a () location '{loc}'")
            for _ in range(2):  # the second request reuses the binding
                assert engine.query("select k from a order by k")["rows"] == want

    def test_added_or_touched_file_shows_in_next_request(self, engine, data_dir):
        import os

        from easydb_server_spark.sources import readers

        engine.query("create table orders () location 'order_*.csv'")
        cataloged = "select id, product_name from orders order by id"
        quoted = f"select id, product_name from '{data_dir}/order_*.csv' order by id"
        for sql in (cataloged, quoted):
            assert len(engine.query(sql)["rows"]) == 4
            assert len(engine.query(sql)["rows"]) == 4  # served from the cache
        # dropping the quoted-path view leaves the shared source cached
        source = readers._SCHEMA_CACHE[(str(data_dir / "order_*.csv"), "csv")][2]
        assert source.storageLevel.useMemory
        (data_dir / "order_3.csv").write_text("id,user_id,product_name\n5,103,Grape\n")
        for sql in (cataloged, quoted):
            assert engine.query(sql)["rows"][-1] == ["5", "Grape"]
        # same size, same schema, same file list: only the mtime and
        # the rows differ, so a stale cached plan would still match
        f = data_dir / "order_1.csv"
        before = f.stat()
        f.write_text(f.read_text().replace("Apple", "Appla"))
        os.utime(f, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        for sql in (cataloged, quoted):
            assert engine.query(sql)["rows"][0] == ["1", "Appla"]

    def test_view_replaced_or_dropped_outside_is_bound_again(self, engine, data_dir, spark):
        """Other code sharing the session may rebind or drop a name the
        engine bound; the next request still reads the cataloged file."""
        engine.query("create table orders () location 'order_*.csv'")
        sql = "select count(*) as n from orders"
        assert engine.query(sql)["rows"] == [["4"]]
        spark.range(1).createOrReplaceTempView("orders")
        assert engine.query(sql)["rows"] == [["4"]]
        spark._jsparkSession.sessionState().catalog().dropTempView("orders")
        assert engine.query(sql)["rows"] == [["4"]]

    def test_ingest_bucketed_leaves_no_cached_source(self, engine, data_dir, spark):
        import shutil

        from easydb_server_spark.sources import readers

        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
        spark.sql("DROP TABLE IF EXISTS ing_users")
        shutil.rmtree(f"{wh}/ing_users", ignore_errors=True)
        try:
            engine.ingest_bucketed("ing_users", "user.csv", "id", n_buckets=2)
            resolved = str(data_dir / "user.csv")
            assert (resolved, "csv") not in readers._SCHEMA_CACHE
            fresh = spark.read.option("header", True).option("inferSchema", True).csv(resolved)
            assert not fresh.storageLevel.useMemory
        finally:
            spark.sql("DROP TABLE IF EXISTS ing_users")
