"""Targeted per-query timing: median/min/max of N warm noop-drained
runs through bench.py's timing path (relayout fixture, worker warm-up,
one untimed warm pass, setJobDescription labels).

Usage: python tools/qtime.py [-n RUNS] query [query ...]
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]

    _, sf_dir, _ = bench.fixture_dir()
    spark, qs = bench.open_session("qtime", sf_dir)
    for name in args:
        samples = bench.time_query(spark, qs[name], sf_dir, f"qtime:{name}", runs)
        print(
            f"{name}: median={statistics.median(samples):.3f} min={min(samples):.3f} "
            f"max={max(samples):.3f} n={runs}",
            flush=True,
        )


if __name__ == "__main__":
    main()
