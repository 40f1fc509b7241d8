"""Dump the physical plans of named queries.

Usage: python tools/dump_plans.py OUTDIR q197_extract_summary q206_... ...

Writes, per query, OUTDIR/<name>.raw.txt (the plan's ``toString()``),
OUTDIR/<name>.canon.txt (``plans.canonical_plan`` of it, the string the
plan fingerprints hash) and OUTDIR/<name>.formatted.txt
(``explain("formatted")``), so two trees' outputs can be diffed textually
to explain a fingerprint drift.  Plans are captured cold (a fresh
DataFrame, no runs), as the fingerprints are.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from magi_etl_spark.plans import canonical_plan  # noqa: E402
from magi_etl_spark.queries import QUERIES  # noqa: E402
from magi_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-dump")
    for name in names:
        qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        raw = qe.executedPlan().toString()
        formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        for kind, text in (
            ("raw", raw),
            ("canon", canonical_plan(raw)),
            ("formatted", formatted),
        ):
            with open(os.path.join(outdir, f"{name}.{kind}.txt"), "w") as fh:
                fh.write(text)
        print(f"dumped {name}")
    spark.stop()


if __name__ == "__main__":
    main()
