"""Format routing + readers (A1–A8) and stringification (A15)."""

import pandas as pd
import pytest

from easydb_server_spark.errors import NotFoundError, UnsupportedFormatError
from tests.conftest import SF_DIR
from easydb_server_spark.results import format_cell
from easydb_server_spark.sources import DataSourceFormat, get_format, read_path
from easydb_server_spark.sources.excel import read_xlsx, set_excel_loader


class TestFormatRouter:
    @pytest.mark.parametrize(
        "path,fmt",
        [
            ("a.csv", DataSourceFormat.CSV),
            ("a.tsv", DataSourceFormat.TSV),
            ("2025-01-01.log", DataSourceFormat.NDJSON),
            ("notes.txt", DataSourceFormat.NDJSON),
            ("wb.xlsx", DataSourceFormat.XLSX),
            ("part.parquet", DataSourceFormat.PARQUET),
            ("x.JSON", DataSourceFormat.JSON),
        ],
    )
    def test_routing(self, path, fmt):
        assert get_format(path) == fmt

    def test_unknown_extension(self):
        with pytest.raises(UnsupportedFormatError):
            get_format("data.avro")


class TestReaders:
    def test_csv_with_inference(self, spark, data_dir):
        df = read_path(spark, "user.csv")  # relative → DATA_DIR
        assert df.columns == ["id", "user_name", "email"]
        assert dict(df.dtypes)["id"] == "int"
        assert df.count() == 3

    def test_csv_glob_multi_file(self, spark, data_dir):
        df = read_path(spark, "order_*.csv")
        assert df.count() == 4  # A7: one table spans both files

    def test_tsv(self, spark, data_dir):
        df = read_path(spark, "user.tsv")
        assert df.columns == ["id", "user_name"]
        assert df.first()["user_name"] == "Tabby"

    def test_ndjson_log_glob(self, spark, data_dir):
        df = read_path(spark, "events_2025*.log")
        assert df.count() == 3
        assert "event" in df.columns

    def test_ndjson_txt(self, spark, data_dir):
        assert read_path(spark, "notes.txt").first()["note"] == "hello"

    def test_json_rejected(self, spark, data_dir):
        with pytest.raises(UnsupportedFormatError, match="JSON files are currently not supported"):
            read_path(spark, "broken.json")

    def test_missing_file(self, spark, data_dir):
        with pytest.raises(NotFoundError):
            read_path(spark, "nope.csv")

    def test_parquet_superset(self, spark):
        df = read_path(spark, "/root/testdata/sf0.001/region.parquet")
        assert df.count() == 5

    def test_signature_catches_same_size_mtime_preserving_rename(self, tmp_path):
        """os.rename preserves mtime and size; only the per-file name
        digest catches it (an aggregate count/max-mtime/total-bytes
        signature would not)."""
        import os

        from easydb_server_spark.sources.readers import _mtime_signature

        for i in range(5):
            (tmp_path / f"g_{i}.csv").write_text("a,b\n1,2\n")
        pattern = str(tmp_path / "g_*.csv")
        sig1 = _mtime_signature(pattern)
        os.rename(tmp_path / "g_2.csv", tmp_path / "g_29.csv")  # stays in glob
        sig2 = _mtime_signature(pattern)
        assert sig1 != sig2

    def test_schema_cache_invalidated_by_any_file_of_large_glob(self, spark, tmp_path, monkeypatch):
        """The change signature covers the FULL listing: touching file
        #65+ of a glob must invalidate the cached inferred schema (the
        old signature stat'ed only the first 64 files). Also: one cache
        entry per (path, fmt) — re-reads evict, not accumulate."""
        import os
        import time

        from easydb_server_spark.sources import readers

        monkeypatch.setenv("DATA_DIR", str(tmp_path))
        for i in range(70):
            (tmp_path / f"g_{i:03d}.csv").write_text("a,b\n1,x\n")
        read_path(spark, "g_*.csv")
        assert len([k for k in readers._SCHEMA_CACHE if k[0].endswith("g_*.csv")]) == 1
        sig1 = readers._SCHEMA_CACHE[(str(tmp_path / "g_*.csv"), "csv")][0]
        # rewrite file #69 (alphabetically last, index > 64) with a new column
        time.sleep(0.01)
        (tmp_path / "g_069.csv").write_text("a,b,c\n1,x,9\n")
        os.utime(tmp_path / "g_069.csv")
        df = read_path(spark, "g_*.csv")
        sig2 = readers._SCHEMA_CACHE[(str(tmp_path / "g_*.csv"), "csv")][0]
        assert sig1 != sig2  # stale schema evicted, fresh inference ran
        assert len([k for k in readers._SCHEMA_CACHE if k[0].endswith("g_*.csv")]) == 1
        assert "c" in df.columns


    def test_byte_budget_unpersists_least_recently_used(self, spark, tmp_path, monkeypatch):
        from easydb_server_spark.sources import readers

        monkeypatch.setenv("DATA_DIR", str(tmp_path))
        for name in ("a", "b", "c"):
            (tmp_path / f"{name}.csv").write_text("k,v\n" + "".join(f"{i},{name}\n" for i in range(100)))
        size = (tmp_path / "a.csv").stat().st_size
        monkeypatch.setattr(readers, "CACHE_BUDGET_BYTES", 2 * size)
        a = read_path(spark, "a.csv")
        b = read_path(spark, "b.csv")
        assert a.storageLevel.useMemory and b.storageLevel.useMemory
        assert read_path(spark, "a.csv") is a  # a becomes the most recent
        c = read_path(spark, "c.csv")
        assert not b.storageLevel.useMemory
        assert a.storageLevel.useMemory and c.storageLevel.useMemory
        # b is still resolved; using it again caches it and evicts a
        assert read_path(spark, "b.csv") is b
        assert b.storageLevel.useMemory and not a.storageLevel.useMemory
        assert b.count() == 100
        # a source bigger than the whole budget is resolved, not cached
        (tmp_path / "big.csv").write_text("k\n" + "".join(f"{i}\n" for i in range(3 * size)))
        big = read_path(spark, "big.csv")
        assert read_path(spark, "big.csv") is big
        assert not big.storageLevel.useMemory
        assert big.count() == 3 * size

    def test_source_count_is_bounded(self, spark, data_dir, monkeypatch):
        from easydb_server_spark.sources import readers

        monkeypatch.setattr(readers, "MAX_SOURCES", 2)
        user = read_path(spark, "user.csv")
        read_path(spark, "user.tsv")
        read_path(spark, "notes.txt")
        assert len(readers._SCHEMA_CACHE) == 2
        assert (str(data_dir / "user.csv"), "csv") not in readers._SCHEMA_CACHE
        assert not user.storageLevel.useMemory
        assert read_path(spark, "user.csv") is not user  # resolved afresh

    def test_concurrent_registration_keeps_cache_and_views_consistent(self, spark, tmp_path, monkeypatch):
        """8 threads rebind one view across three sources while a budget
        that holds two of them forces evictions: afterwards Spark's cache
        and the view agree with the readers' bookkeeping."""
        import sys
        import threading

        from easydb_server_spark.sources import readers

        monkeypatch.setenv("DATA_DIR", str(tmp_path))
        for n in (1, 2, 3):  # 4, 6 and 8 bytes
            (tmp_path / f"s{n}.csv").write_text("k\n" + "".join(f"{i}\n" for i in range(n)))
        monkeypatch.setattr(readers, "CACHE_BUDGET_BYTES", 14)
        errors: list[Exception] = []

        def worker(i: int):
            try:
                for j in range(20):
                    readers.register_path(spark, "stress_view", f"s{(i + j) % 3 + 1}.csv")
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not errors and not any(t.is_alive() for t in threads)
        keys = [(str(tmp_path / f"s{n}.csv"), "csv") for n in (1, 2, 3)]
        entries = [readers._SCHEMA_CACHE[k] for k in keys]
        assert sum(e.sig[2] for e in entries if e.cached) <= 14
        for e in entries:
            assert e.df.storageLevel.useMemory == e.cached
        assert readers._cached_bytes == sum(e.sig[2] for e in readers._SCHEMA_CACHE.values() if e.cached)
        bound = readers._VIEWS["stress_view"][1]
        assert spark.table("stress_view").count() == bound.count()
        readers.drop_view(spark, "stress_view")

    @pytest.mark.parametrize("legacy_path_option", ["false", "true"])
    def test_spellings_of_one_listing_share_an_entry_and_see_rewrites(
        self, spark, tmp_path, monkeypatch, legacy_path_option
    ):
        """After 'x*.csv' is cached and x.csv is rewritten (same size,
        same schema), no other spelling of x.csv may get the old rows.
        Spark's cache tells spellings apart only by the single-path
        option; with the legacy path-option behaviour it compares the
        expanded listing alone and would answer them all from the
        stale plan."""
        import os

        from easydb_server_spark.sources import readers

        monkeypatch.setenv("DATA_DIR", str(tmp_path))
        conf = "spark.sql.legacy.pathOptionBehavior.enabled"
        old = spark.conf.get(conf)
        spark.conf.set(conf, legacy_path_option)
        try:
            x = tmp_path / "x.csv"
            x.write_text("k,v\n1,a\n")
            glob_df = read_path(spark, "x*.csv")
            assert [tuple(r) for r in glob_df.collect()] == [(1, "a")]
            assert glob_df.storageLevel.useMemory
            before = x.stat()
            x.write_text("k,v\n1,b\n")
            os.utime(x, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
            for spelling in ("./x.csv", f"{tmp_path}//x.csv", "x.csv", "x*.csv"):
                assert [tuple(r) for r in read_path(spark, spelling).collect()] == [(1, "b")], spelling
            assert read_path(spark, "x*.csv") is not glob_df
            # one entry for the listing, taken over by each spelling in turn
            assert [k for k in readers._SCHEMA_CACHE if k[0].startswith(str(tmp_path))] == [
                (str(tmp_path / "x*.csv"), "csv")
            ]
            assert read_path(spark, "x.csv") is read_path(spark, "x*.csv")
        finally:
            spark.conf.set(conf, old)

    def test_signature_catches_rewrite_that_restores_mtime(self, tmp_path):
        """A same-size rewrite whose mtime is set back still moves the
        file's ctime."""
        import os
        import time

        from easydb_server_spark.sources.readers import _mtime_signature

        f = tmp_path / "r.csv"
        f.write_text("a\n1\n")
        before = f.stat()
        sig1 = _mtime_signature(str(f))
        time.sleep(0.05)  # past the coarse clock's tick
        f.write_text("a\n2\n")
        os.utime(f, ns=(before.st_atime_ns, before.st_mtime_ns))
        assert f.stat().st_mtime_ns == before.st_mtime_ns
        assert _mtime_signature(str(f)) != sig1

    def test_one_shot_read_keeps_nothing(self, spark, data_dir):
        from easydb_server_spark.sources import readers

        df = read_path(spark, "user.tsv", reuse=False)
        assert df.count() == 1
        assert (str(data_dir / "user.tsv"), "tsv") not in readers._SCHEMA_CACHE
        assert not df.storageLevel.useMemory

class TestExcel:
    def test_injected_loader_and_glob(self, spark, data_dir):
        calls = []

        def fake(path, sheet):
            calls.append((path, sheet))
            return pd.DataFrame({"name": ["a"], "score": [1.5]})

        (data_dir / "r1.xlsx").write_bytes(b"")
        (data_dir / "r2.xlsx").write_bytes(b"")
        set_excel_loader(fake)
        try:
            df = read_path(spark, "r*.xlsx")
            assert df.count() == 2  # one row per matched workbook
            assert sorted(c for c in df.columns) == ["name", "score"]
            assert [s for _, s in calls] == [0, 0]
        finally:
            set_excel_loader(None)

    def test_sheet_suffix(self, spark, data_dir):
        (data_dir / "wb.xlsx").write_bytes(b"")
        seen = {}

        def fake(path, sheet):
            seen["sheet"] = sheet
            return pd.DataFrame({"x": [1]})

        set_excel_loader(fake)
        try:
            read_xlsx(spark, str(data_dir / "wb.xlsx") + "#Sheet2")
            assert seen["sheet"] == "Sheet2"
        finally:
            set_excel_loader(None)

    def test_real_workbook_roundtrip_no_injection(self, spark, data_dir):
        """The vendored stdlib decoder reads an actual OOXML workbook
        with NO injected loader — parity with the reference's native
        xlsx support (src/data_source/excel.rs:11-101)."""
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        write_xlsx(
            str(data_dir / "real.xlsx"),
            {"Sheet1": (["name", "score", "ok"], [["ann", 1.5, True], ["bob", 2, False]])},
        )
        df = read_xlsx(spark, str(data_dir / "real.xlsx"))
        rows = sorted(df.collect(), key=lambda r: r.name)
        assert df.columns == ["name", "score", "ok"]
        assert [(r.name, float(r.score), bool(r.ok)) for r in rows] == [
            ("ann", 1.5, True),
            ("bob", 2.0, False),
        ]

    def test_real_workbook_sheet_suffix_and_glob(self, spark, data_dir):
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        for i in (1, 2):
            write_xlsx(
                str(data_dir / f"multi{i}.xlsx"),
                {
                    "First": (["a"], [[i]]),
                    "Extra": (["b"], [[i * 10], [i * 100]]),
                },
            )
        # glob over default (first) sheets: one row per workbook
        df = read_xlsx(spark, str(data_dir / "multi*.xlsx"))
        assert sorted(r.a for r in df.collect()) == [1, 2]
        # '#SheetName' suffix selects the named sheet
        df2 = read_xlsx(spark, str(data_dir / "multi1.xlsx") + "#Extra")
        assert sorted(r.b for r in df2.collect()) == [10, 100]

    def test_sheet_name_with_quotes_roundtrips(self, spark, data_dir):
        from easydb_server_spark.sources.xlsx_codec import load_xlsx, write_xlsx

        name = 'Q1 "draft" & <final>'
        write_xlsx(str(data_dir / "q.xlsx"), {name: (["a"], [[7]])})
        pdf = load_xlsx(str(data_dir / "q.xlsx"), name)
        assert pdf["a"].tolist() == [7]

    def test_all_digit_sheet_name_resolves_by_name_first(self, data_dir):
        """A sheet literally named '2024' must be addressable via
        '#2024' (name match wins over index interpretation — the
        pandas/openpyxl/calamine convention); digit strings that match
        no name still fall back to index."""
        from easydb_server_spark.sources.xlsx_codec import load_xlsx, write_xlsx

        write_xlsx(
            str(data_dir / "yr.xlsx"),
            {"Summary": (["a"], [[1]]), "2024": (["a"], [[2024]])},
        )
        assert load_xlsx(str(data_dir / "yr.xlsx"), "2024")["a"].tolist() == [2024]
        # no sheet named '1' → index fallback selects the second sheet
        assert load_xlsx(str(data_dir / "yr.xlsx"), "1")["a"].tolist() == [2024]
        assert load_xlsx(str(data_dir / "yr.xlsx"), 0)["a"].tolist() == [1]

    def test_corrupt_xlsx_clear_error(self, spark, data_dir):
        (data_dir / "bad.xlsx").write_bytes(b"not a zip at all")
        with pytest.raises(UnsupportedFormatError, match="xlsx"):
            read_xlsx(spark, str(data_dir / "bad.xlsx"))

class TestStringify:
    @pytest.mark.parametrize(
        "value,expected",
        [
            (None, "null"),  # src/controllers.rs:48
            (True, "true"),
            (False, "false"),
            (3, "3"),
            (3.0, "3.0"),
            (3.25, "3.25"),
            ("s", "s"),
            ([1, None], "[1, null]"),
            (b"\x01\xff", "01ff"),
        ],
    )
    def test_cells(self, value, expected):
        assert format_cell(value) == expected

    def test_datetime(self):
        import datetime

        assert format_cell(datetime.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"
        assert format_cell(datetime.date(2024, 1, 2)) == "2024-01-02"


class TestTrainingShards:
    def test_export_writes_ordered_shards_matching_manifest(self, spark, tmp_path):
        import glob
        import json

        from easydb_server_spark.export import export_training_shards

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 200")
        out = str(tmp_path / "shards")
        manifest = {r.shard: r for r in export_training_shards(
            docs, "text", "doc_id", out, n_shards=4, seed="v1"
        ).collect()}
        assert set(manifest) == {0, 1, 2, 3}
        assert sum(r.n_docs for r in manifest.values()) == docs.count()
        # every shard directory holds its manifest's doc count, rows in pos order
        for s, row in manifest.items():
            lines = []
            for f in sorted(glob.glob(f"{out}/shard={s}/part-*.json")):
                with open(f) as fh:
                    lines += [json.loads(line) for line in fh if line.strip()]
            assert len(lines) == row.n_docs, s
            assert [r["pos"] for r in lines] == sorted(r["pos"] for r in lines), s
        # manifest parquet persisted alongside the shards
        mf = spark.read.parquet(f"{out}/_manifest").collect()
        assert {r.shard: r.content_digest for r in mf} == {
            s: row.content_digest for s, row in manifest.items()
        }

    def test_export_is_deterministic_across_runs(self, spark, tmp_path):
        from easydb_server_spark.export import export_training_shards

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 100")
        m1 = export_training_shards(docs, "text", "doc_id", str(tmp_path / "a"), n_shards=4).collect()
        m2 = export_training_shards(docs, "text", "doc_id", str(tmp_path / "b"), n_shards=4).collect()
        assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))
