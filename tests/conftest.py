from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # An exported SPARK_GRAFT_CPUS sizes the session as it does for the
    # bench; unset, the suite runs on SPARK_GRAFT_CPUS_TEST or local[8]
    # — every fixture is tiny, so wall time is task-launch overhead,
    # and 32-thread stages only add scheduler cost (test_pq.py measured
    # 111 s at 32 vs 86 s at 8, and 134 s at 4 vs 161 s at 8 on a 4-vCPU
    # host, same results). No test reads defaultParallelism or partition
    # counts.
    os.environ.setdefault("SPARK_GRAFT_CPUS", os.environ.get("SPARK_GRAFT_CPUS_TEST", "8"))
    from easydb_server_spark import get_spark

    return get_spark("easydb-tests")


@pytest.fixture()
def data_dir(tmp_path, monkeypatch):
    """Temp DATA_DIR with the reference-README-style fixture files."""
    monkeypatch.setenv("DATA_DIR", str(tmp_path))
    (tmp_path / "user.csv").write_text(
        "id,user_name,email\n"
        "101,John Doe,john.doe@example.com\n"
        "102,Jane Roe,jane@example.com\n"
        "103,Sam Poe,sam@example.com\n"
    )
    (tmp_path / "order_1.csv").write_text(
        "id,user_id,product_name\n1,101,Apple\n2,102,Banana\n"
    )
    (tmp_path / "order_2.csv").write_text(
        "id,user_id,product_name\n3,101,Cherry\n4,104,Fig\n"
    )
    (tmp_path / "user.tsv").write_text(
        "id\tuser_name\n7\tTabby\n"
    )
    (tmp_path / "events_2025-01-01.log").write_text(
        '{"user_id": 101, "event": "click", "ts": "2025-01-01 10:00:00"}\n'
        '{"user_id": 102, "event": "view", "ts": "2025-01-01 11:00:00"}\n'
    )
    (tmp_path / "events_2025-01-02.log").write_text(
        '{"user_id": 101, "event": "purchase", "ts": "2025-01-02 09:00:00"}\n'
    )
    (tmp_path / "notes.txt").write_text('{"note": "hello", "n": 1}\n')
    (tmp_path / "broken.json").write_text('{"a": [1, 2, 3]}')
    return tmp_path


@pytest.fixture()
def fresh_catalog(tmp_path):
    from easydb_server_spark.catalog import Catalog

    return Catalog(db_path=str(tmp_path / "meta.sqlite"))


@pytest.fixture()
def engine(spark, data_dir, fresh_catalog):
    from easydb_server_spark.engine import Engine

    return Engine(spark, fresh_catalog)
