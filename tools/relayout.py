"""Multi-row-group bench fixture relayout.

The driver-generated sf0.1 tables are single-file, SINGLE-ROW-GROUP
parquet (SCALE.md "Bench-floor note"): Spark assigns row groups — not
byte ranges — to scan tasks, so a 600k-row lineitem decodes on ONE
core no matter how many are free, and the bench's biggest numbers
measure fixture geometry instead of the engine. Every real table at
100 TB is thousands of row groups / files; this tool rewrites the
fixture the way a real ingest would lay it out (~16 row groups per
table, same rows, same schema, same zstd codec) so the same plans
parallelize.

Library use (bench.py): ``ensure_relayout(sf_dir)`` creates
``<repo>/benchdata/<sfname>-mrg/`` on first call (idempotent, keyed
on source mtimes) and returns its path.

CLI: ``python tools/relayout.py [sf_dir]`` builds the relayout, then
times the headline queries on BOTH layouts through bench.py's timing
path and prints one JSON line with per-query medians for each — the
SCALE.md evidence table.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyarrow.parquet as pq

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

TARGET_ROW_GROUPS = 16
# Floors: tiny dims (nation/region) stay single-group, but the floor is
# BYTES-aware — a row-count floor alone left the 5k-row documents table
# at 2 row groups, serializing every text/MinHash pass on 2 cores while
# 30 idled (the r7 fuzzy-dedup bench was task-starved, not slow).
# Multiple row groups in ONE small file don't help either: Spark's
# split size is max(openCostInBytes=4 MB, bytes/parallelism), so any
# sub-4 MB file is one task no matter its row groups. Real ingests
# land a DIRECTORY of part-files, and Spark's bin-packing charges each
# file openCost, giving one task per file — so the relayout writes
# that shape. A table only stays a single file when even two files
# would be below the bytes floor.
MIN_ROWS_PER_GROUP = 256
MIN_BYTES_PER_GROUP = 128 * 1024
# Relational tables get a larger floor: splitting 2.6 MB of orders into
# 16×166 KB files made every scan pay 16 task launches for ~10 ms of
# filter work — the r7 bench's setop_union_all (orders scanned twice)
# ran 2× slower on the relayout than on the single file, with an
# identical plan (SCALE.md "Per-task overhead on tiny relational
# scans"). The fine 128 KB floor exists for the CPU-heavy text and
# embedding tables, where work per byte is orders of magnitude higher
# (MinHash/BPE/cosine per row) and task starvation — not task
# overhead — was the measured bottleneck. This mirrors real-cluster
# tuning: CPU-bound stages want small input splits, IO-light scans
# want big ones.
FINE_SPLIT_TABLES = {"documents", "embeddings"}
# 640 KB rather than 1 MB: the r8 A/B (SCALE.md) showed 1 MB costing
# tpch_q1 ~0.1 s by capping lineitem at 10 files while buying nothing
# on the tiny-scan side — at 640 KB lineitem keeps 16 files and orders
# lands at 4 (8 tasks for setop_union_all's double scan, still at
# single-file parity)
MIN_BYTES_PER_GROUP_RELATIONAL = 640 * 1024
# bump on any change to the layout rules: a sentinel file keyed on this
# version forces a full rebuild, so outputs produced by an older layout
# (e.g. the pre-multi-file single-file form) can't pass the mtime check
# and silently keep the geometry a newer version exists to fix
LAYOUT_VERSION = 4


def ensure_relayout(sf_dir: str, target_groups: int = TARGET_ROW_GROUPS) -> str:
    """Rewrite each of ``sf_dir``'s tables as a DIRECTORY of
    ~``target_groups`` part-files (the multi-file layout every real
    ingest produces) into ``<repo>/benchdata/<sfname>-mrg``; return
    that path. Spark reads the directory transparently under the same
    ``<table>.parquet`` name. Idempotent: tables are rewritten only
    when missing or older than their source."""
    import shutil

    src = Path(sf_dir)
    out = _REPO / "benchdata" / f"{src.name}-mrg"
    sentinel = out / f".layout-v{LAYOUT_VERSION}"
    if out.exists() and not sentinel.exists():
        shutil.rmtree(out)  # stale layout version: rebuild everything
    out.mkdir(parents=True, exist_ok=True)
    sentinel.touch()
    for f in sorted(src.glob("*.parquet")):
        dst = out / f.name
        if dst.exists() and dst.stat().st_mtime >= f.stat().st_mtime:
            continue
        if dst.exists():  # source changed: clear both file and dir forms
            shutil.rmtree(dst) if dst.is_dir() else dst.unlink()
        t = pq.read_table(f)
        bytes_per_row = max(f.stat().st_size / max(t.num_rows, 1), 1.0)
        byte_floor = (
            MIN_BYTES_PER_GROUP
            if f.stem in FINE_SPLIT_TABLES
            else MIN_BYTES_PER_GROUP_RELATIONAL
        )
        min_rows = max(MIN_ROWS_PER_GROUP, int(byte_floor / bytes_per_row))
        per_file = max(-(-t.num_rows // target_groups), min_rows)
        n_files = max(t.num_rows // per_file, 1)
        # write to a temp path, then atomic rename: an interrupted run
        # can never leave a partially-written dst that the mtime check
        # would later accept as complete
        tmp = out / f".tmp-{f.name}"
        if tmp.exists():
            shutil.rmtree(tmp) if tmp.is_dir() else tmp.unlink()
        if n_files <= 1:
            pq.write_table(t, tmp, compression="zstd")
        else:
            tmp.mkdir(parents=True)
            per_file = -(-t.num_rows // n_files)
            for i in range(n_files):
                pq.write_table(
                    t.slice(i * per_file, per_file),
                    tmp / f"part-{i:05d}.parquet",
                    compression="zstd",
                )
        tmp.rename(dst)
        os.utime(dst)
    return str(out)


def main() -> int:
    import bench

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else bench.DEFAULT_SF_DIR
    mrg_dir = ensure_relayout(sf_dir)
    part_files = {
        f.name: len(list(f.glob("*.parquet"))) if f.is_dir() else 1
        for f in sorted(Path(mrg_dir).glob("*.parquet"))
    }
    spark, qs = bench.open_session("relayout-bench", sf_dir)
    out = {"source": sf_dir, "relayout": mrg_dir, "part_files": part_files}
    for key, d in (("single_rg", sf_dir), ("multi_rg", mrg_dir)):
        out[key] = {
            name: bench.summarize(bench.time_query(spark, qs[name], d, f"relayout:{name}"))[0]
            for name in bench.HEADLINE
        }
        out[f"total_{key.removesuffix('_rg')}_s"] = round(sum(out[key].values()), 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
