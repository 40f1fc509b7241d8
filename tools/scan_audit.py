"""Compiled-plan scan audit: flag queries whose physical plan re-derives
the same input many times (the q256-friedman / setjoin / q139-funnel
defect class: a lazy frame referenced by N downstream frames compiles
to N copies of its subtree, re-scanning the corpus per reference —
invisible at sf0.1 walls, a real multiplier at 100 TB).

The audit walks the live physical-plan TREE, not the plan string
(descending through AQE/QueryStage wrappers; ``ReusedExchange``
subtrees execute once and are skipped; a ``chkpt`` barrier is an RDD
scan leaf, so the plan that filled it never counts) and reports:

- ``live``  — FileSourceScan nodes that genuinely execute per plan run
  (the 100 TB multiplier; the number that must stay ~input-arity)
- ``ckpt``  — RDD-scan leaves of ``chkpt`` barriers (the backing scan ran once)

Usage:
    python tools/scan_audit.py [--sf-dir DIR] [--top N] [--threshold K]

Prints one line per query sorted by live-scan count descending, and
exits non-zero if any query's LIVE count exceeds ``--threshold``
(default: no gate, report only).  Per-candidate column profiles over
genuinely-different tables (q181's catalog report: 12 live scans of
different column sets) are by-design — treat entries above ~8 as audit
candidates, not automatic defects.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _children(node):
    cn = node.getClass().getSimpleName()
    if "AdaptiveSparkPlan" in cn:
        return [node.executedPlan()]
    if "QueryStage" in cn:
        return [node.plan()]
    if "ReusedExchange" in cn:
        return []  # executes once; its original subtree is counted there
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def count_plan_leaves(plan) -> dict[str, int]:
    """{'live': n, 'ckpt': n, 'exchanges': n} over the live
    execution tree of a physical plan (see module docstring)."""
    out = {"live": 0, "ckpt": 0, "exchanges": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        cn = node.getClass().getSimpleName()
        if "FileSourceScan" in cn:
            out["live"] += 1
        elif cn in ("RDDScanExec", "ExternalRDDScanExec"):
            out["ckpt"] += 1
        elif "Exchange" in cn and "Reused" not in cn:
            out["exchanges"] += 1
        stack.extend(_children(node))
    return out


def main() -> None:
    sf_dir = "/root/testdata/sf0.001"
    top = 40
    threshold = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--sf-dir":
            sf_dir = argv[i + 1]
        elif a == "--top":
            top = int(argv[i + 1])
        elif a == "--threshold":
            threshold = int(argv[i + 1])

    from magi_etl_spark.queries import QUERIES
    from magi_etl_spark.session import get_spark

    spark = get_spark(app_name="magi-scan-audit")
    rows = []
    for name, fn in QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
            c = count_plan_leaves(plan)
        except Exception as e:  # report, keep auditing
            print(f"ERR {name}: {e}", file=sys.stderr)
            continue
        rows.append((c["live"], c["ckpt"], c["exchanges"], name))
    rows.sort(reverse=True)
    for live, ckpt, ex, name in rows[:top]:
        print(f"{live:3d} live {ckpt:3d} ckpt {ex:3d} exchanges  {name}")
    if threshold is not None:
        over = [r[3] for r in rows if r[0] > threshold]
        if over:
            print(f"OVER THRESHOLD ({threshold}): {over}", file=sys.stderr)
            sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
