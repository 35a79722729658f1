"""Interleaved A/B timing of one registry query under a module-level
toggle the tool flips between runs (one process cannot switch git
states, so the variants must be selectable at runtime).

Usage: python tools/abtime.py [-n RUNS] query toggle_module:attr=valA,valB

Example (driver-side PageRank against the distributed superstep):
  python tools/abtime.py -n 7 graph_pagerank \
      easydb_server_spark.operators.graph:DRIVER_PR_MAX_EDGES=-1,1048576

The attribute must already exist on the module: a misspelt one would
only be created by the toggle, and both sides would run the same code.

Runs one warm pass per side, then alternates A,B,A,B,... RUNS times
each through bench.py's timing path, reporting per-side medians —
same-minute, same-session, so host drift hits both sides equally.
"""

from __future__ import annotations

import importlib
import statistics
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 7
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    name, toggle = args[0], args[1]
    modattr, vals = toggle.split("=")
    mod_name, attr = modattr.split(":")
    mod = importlib.import_module(mod_name)
    if not hasattr(mod, attr):
        sys.exit(f"abtime: {mod_name} has no attribute {attr!r} to toggle")

    def parse(v: str):
        # "on"/"off" toggle a FUNCTION attr: on = the real function,
        # off = identity passthrough (for spread()-style wrappers)
        if v == "on":
            return getattr(mod, attr)
        if v == "off":
            return lambda df: df
        try:
            return int(v)
        except ValueError:
            return v

    sides = {side: parse(v) for side, v in zip("AB", vals.split(","))}

    _, sf_dir, _ = bench.fixture_dir()
    spark, qs = bench.open_session("abtime", sf_dir)
    fn = qs[name]
    samples: dict[str, list[float]] = {"A": [], "B": []}
    for side, val in sides.items():
        setattr(mod, attr, val)
        bench.time_query(spark, fn, sf_dir, f"ab:{name}:{side}", 0)
    for i in range(runs):
        for side, val in sides.items():
            setattr(mod, attr, val)
            samples[side] += bench.time_query(spark, fn, sf_dir, f"ab:{name}:{side}:{i}", 1, warm=False)
    for side, val in sides.items():
        s = samples[side]
        print(
            f"{name} {side} ({attr}={val}): median={statistics.median(s):.3f} "
            f"min={min(s):.3f} max={max(s):.3f} n={len(s)}"
        )


if __name__ == "__main__":
    main()
