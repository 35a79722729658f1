"""Plan audit: dump the scale-relevant physical-plan properties of
every bench headline query into PLANS.md.

For each query: join strategies chosen, whether filters reached the
parquet scan (PushedFilters), whether top-k compiled to
TakeOrderedAndProject, shuffle (Exchange) count, and any Python
execution operators. This is the reviewable evidence behind SCALE.md's
claims — regenerate after plan-affecting changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(p: str) -> dict:
    joins = sorted(
        {
            m
            for m in re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
                p,
            )
        }
    )
    return {
        "joins": "/".join(j.replace("Join", "") for j in joins) or "—",
        "pushdown": "yes" if re.search(r"PushedFilters: \[(?!\])", p) else "—",
        "topk": "yes" if "TakeOrderedAndProject" in p else "—",
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", p, re.M)),
        "python": (
            "arrow" if "ArrowEvalPython" in p or "MapInPandas" in p
            else ("ROW-PYTHON!" if "BatchEvalPython" in p else "—")
        ),
    }


def main() -> None:
    import bench

    sf_dir = "/root/testdata/sf0.01"
    spark, qs = bench.open_session("plan-audit", sf_dir)
    rows = []
    for name in bench.HEADLINE:
        rows.append((name, audit(plan_of(qs[name](spark, sf_dir)))))

    out = [
        "# PLANS — physical-plan audit of the bench headline set",
        "",
        "Generated by `tools/plan_audit.py` (explain(\"formatted\") at sf0.01;",
        "plan shapes, not timings — the properties SCALE.md argues from).",
        "`joins` lists every join strategy in the plan; `pushdown` = filters",
        "reached the parquet scan; `topk` = TakeOrderedAndProject; `python`",
        "= arrow-batched Python stages (row-at-a-time would be flagged).",
        "",
        "| query | joins | pushdown | top-k | exchanges | python |",
        "|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        out.append(
            f"| {name} | {a['joins']} | {a['pushdown']} | {a['topk']} "
            f"| {a['exchanges']} | {a['python']} |"
        )
    Path(_REPO, "PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
