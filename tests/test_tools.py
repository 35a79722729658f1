"""Smoke test of the measurement harness: bench.py's timing path runs
at fixture scale, and every tool module still imports."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

TOOLS = sorted(p.stem for p in (Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_time_query_returns_positive_samples(spark):
    import bench

    _, qs = bench.open_session("easydb-tests", SF_DIR)
    samples = bench.time_query(spark, qs["tpch_q1"], SF_DIR, "smoke:tpch_q1", runs=1)
    assert len(samples) == 1 and samples[0] > 0
    med, spread = bench.summarize(samples)
    assert med > 0 and spread == 0


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_abtime_rejects_a_toggle_the_module_lacks(monkeypatch):
    """A missing attribute would be created by the toggle and both
    sides would time the same code: exit before any timing."""
    import bench
    from tools import abtime

    def no_timing(*_a, **_k):
        raise AssertionError("abtime reached the timing path")

    monkeypatch.setattr(bench, "fixture_dir", no_timing)
    monkeypatch.setattr(
        sys, "argv", ["abtime.py", "graph_pagerank", "easydb_server_spark.operators.graph:NO_SUCH=0,1"]
    )
    with pytest.raises(SystemExit) as exc:
        abtime.main()
    assert "NO_SUCH" in str(exc.value.code)
