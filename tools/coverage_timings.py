"""Once-per-round coverage timings:

1. The bench-tail ROTATED-OUT entries — rotation must never hide a
   regression, so every entry dropped from the headline tail gets a
   timing row every round.
2. The DISTRIBUTED FALLBACKS of the driver-replay dispatches
   (pagerank / connected components / BPE) — the scale paths no longer
   run at sf0.1 inside the bench, so they are timed here with the
   dispatch bound forced to "always distributed" (module attr set to
   -1; the replay bound guards a metadata-size collect, so forcing the
   other side exercises the exact 100 TB plan).

Writes BENCHCOVERAGE.md (committed; BENCHDETAIL.md is overwritten by
every bench run, so this table lives in its own file) and prints the
same rows to stdout. Timing goes through bench.py's path: one untimed
warm pass, noop sink, median of bench.RUNS.

Usage: python tools/coverage_timings.py
"""

from __future__ import annotations

import importlib
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402

ROTATED_OUT = [
    # r16 rotation
    "chunk_dedup",
    "emb_label_outliers",
    "text_bm25",
    "text_ccnet_buckets",
    "text_url_filter",
    "ts_range_join",
    # r17 rotation (line-budget swap for the scale-tier entries)
    "ts_asof_forward",
    "dedup_audio_fingerprint",
    "image_phash_search",
]

# (bench entry, module, attr) — attr := -1 forces the distributed path
FALLBACKS = [
    ("graph_pagerank", "easydb_server_spark.operators.graph", "DRIVER_PR_MAX_EDGES"),
    ("dedup_image_neardup", "easydb_server_spark.operators.clusters", "DRIVER_CC_MAX_EDGES"),
    ("text_bpe_merges", "easydb_server_spark.operators.text", "BPE_DRIVER_MAX_WORDS"),
]


def main() -> None:
    _, sf_dir, _ = bench.fixture_dir()
    spark, qs = bench.open_session("coverage-timings", sf_dir)

    def qtime(name: str) -> tuple[float, float]:
        return bench.summarize(bench.time_query(spark, qs[name], sf_dir, f"coverage:{name}"))

    lines = [
        "# Bench coverage timings (once per round)",
        "",
        "Written by `tools/coverage_timings.py`. Two tables the headline",
        "bench no longer covers: the rotated-out tail entries (rotation",
        "must never hide a regression) and the distributed fallbacks of",
        "the driver-replay dispatches (forced via the dispatch-bound",
        "module attributes). Timed through bench.py's path (relayout",
        "fixture, worker warm-up, one untimed warm pass, noop sink,",
        f"median of {bench.RUNS}) on local[{spark.sparkContext.defaultParallelism}],",
        f"{os.cpu_count()} host CPUs.",
        "",
        "## Rotated-out bench-tail entries",
        "",
        "| query | median s | spread s |",
        "|---|---|---|",
    ]
    for name in ROTATED_OUT:
        med, spr = qtime(name)
        print(f"rotated-out {name}: median={med} spread={spr}")
        lines.append(f"| {name} | {med} | {spr} |")

    lines += [
        "",
        "## Distributed fallbacks of the driver-replay dispatches",
        "",
        "Bound attr set to -1 for the timed runs (always-distributed);",
        "the same query with the default bound appears in the headline",
        "bench, so the delta is the replay's local win, and a regression",
        "in the scale path shows here.",
        "",
        "| bench entry | forced bound | median s | spread s |",
        "|---|---|---|---|",
    ]
    for name, mod_name, attr in FALLBACKS:
        mod = importlib.import_module(mod_name)
        saved = getattr(mod, attr)
        setattr(mod, attr, -1)
        try:
            med, spr = qtime(name)
        finally:
            setattr(mod, attr, saved)
        print(f"fallback {name} ({attr}=-1): median={med} spread={spr}")
        lines.append(f"| {name} | {attr}=-1 | {med} | {spr} |")

    Path(_REPO, "BENCHCOVERAGE.md").write_text("\n".join(lines) + "\n")
    print("wrote BENCHCOVERAGE.md")


if __name__ == "__main__":
    main()
