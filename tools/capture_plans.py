"""Capture `.explain("formatted")` for headline queries into
.plans/<query>_<tag>.txt — before/after evidence for a change. Plans
come from plan_audit.plan_of over the fixture and session that bench.py
times. ``.plans/`` is git-ignored, so capture runs leave the checkout
clean; the committed dumps in plans/r17/ are not touched.

Usage: python tools/capture_plans.py <tag> [query ...]
       (no query names = every bench HEADLINE entry)
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from tools.plan_audit import plan_of  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or bench.HEADLINE
    out_dir = Path(_REPO) / ".plans"
    out_dir.mkdir(parents=True, exist_ok=True)

    _, sf_dir, _ = bench.fixture_dir()
    spark, qs = bench.open_session("plan-capture", sf_dir)
    for name in names:
        try:
            (out_dir / f"{name}_{tag}.txt").write_text(plan_of(qs[name](spark, sf_dir)))
            print(f"ok   {name}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")


if __name__ == "__main__":
    main()
