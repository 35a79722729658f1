"""End to end: every traced layer of every workload fires.

Each case runs ``perfbench/run.py --trace 1`` in its own process (one
Spark session each), so a wrapper that no longer reaches the program
fails here instead of reporting zeros.
"""

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import spec
from perfbench.layers import EXPECTED_LAYERS

REPO = Path(__file__).resolve().parents[2]


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_traced_run_fires_every_layer(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    # every name the run wraps still exists in the program
    assert "FAILED traced names" not in p.stdout
    spans = dict(re.findall(r"^spans (\S+) = (\d+)$", p.stdout, re.M))
    for layer in EXPECTED_LAYERS[workload]:
        assert int(spans[layer]) > 0, layer
    metrics = result["metrics"]
    assert set(metrics) == set(spec.PER_LAYER)
    assert metrics["spark.jobs"]["value"] > 0
    assert metrics["trace.p50_ratio"]["value"] > 0
