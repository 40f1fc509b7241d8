"""Simulate the external driver: plain SparkSession (not the repo
factory), `entry()` smoke, then the full `queries()`/`oracle_sql()`
hash comparison at a given sf directory.  Run under a non-UTC TZ for
the robustness probe the round gates use:

    TZ=America/New_York python tools/driver_probe.py [--sf-dir DIR]

Prints one PASS/FAIL line per query and a summary line (peak persistent RDDs).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--sf-dir":
            sf_dir = argv[i + 1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("magi-driver-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from oracle_harness import compare, duckdb_connection

    n_entry = len(E.entry(spark).collect())
    print(f"entry rows: {n_entry}")
    assert n_entry > 0

    con = duckdb_connection(sf_dir)
    qs, osql = E.queries(), E.oracle_sql()
    fails: list[str] = []
    peak_rdds = 0
    t0 = time.time()
    for name in qs:
        try:
            if name in osql:
                ok, msg = compare(qs[name](spark, sf_dir), con, osql[name])
            else:
                ok, msg = qs[name](spark, sf_dir).count() >= 0, "rows-only"
        except Exception as e:  # noqa: BLE001 — a probe reports, never aborts
            ok, msg = False, f"err: {e}"
        peak_rdds = max(peak_rdds, spark.sparkContext._jsc.getPersistentRDDs().size())
        print(("PASS " if ok else "FAIL ") + name + " " + str(msg), flush=True)
        if not ok:
            fails.append(name)
    print(
        f"SUMMARY {len(qs) - len(fails)}/{len(qs)} pass "
        f"({time.time() - t0:.0f}s, sf_dir={sf_dir}, TZ={os.environ.get('TZ')}, "
        f"peak persistent RDDs {peak_rdds})"
    )
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
