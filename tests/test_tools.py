"""Smoke test of the measurement harness: bench.py's timing path runs
at fixture scale, and every tool module still imports."""

from __future__ import annotations

import importlib
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
