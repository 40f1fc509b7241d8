"""Full-registry DuckDB parity sweep at an arbitrary scale factor.

The driver gate compares at sf0.01 and the local suite at sf0.001; this
tool runs the SAME comparison at any catalog (default sf0.1) over the
registered queries.  Round-8 lesson: a summation-order last-ulp in
q146's double ``AVG`` rounded differently only at sf0.1 — green at both
smaller scales — so scale-divergent float arithmetic is a real class,
and one cheap sweep per round catches it before a driver ever could.

Every checked query is recorded in ``PARITY_LEDGER.json`` under its
name and the scale-factor directory's name, as ``{"fp", "ok"}``: the
query's source fingerprint (tests/source_fingerprint.py) and the
verdict.  ``tests/test_gate_window.py`` accepts a tail query whose
sources changed since its last green driver row when the ledger holds
``ok`` rows at sf0.01 and sf0.1 at its current fingerprint.

Usage:
    python tools/parity_sweep.py [--sf-dir DIR] [--only qA,qB,...]

``--only`` restricts the sweep (and the ledger rows it rewrites) to a
comma-separated list of query names (substring prefix match on the qNN
id).  The sweep stops at the first query that loses the JVM, naming it.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _jvm_alive(spark) -> bool:
    from py4j.protocol import Py4JError

    try:
        spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
        return True
    except (Py4JError, ConnectionError):  # the gateway cannot reach the JVM
        return False


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    only: list[str] | None = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--sf-dir":
            sf_dir = argv[i + 1]
        elif a == "--only":
            only = [s.strip() for s in argv[i + 1].split(",") if s.strip()]

    from oracle_harness import compare, duckdb_connection
    from source_fingerprint import load_ledger, query_fingerprint, save_ledger

    from magi_etl_spark.chkpt import release
    from magi_etl_spark.queries import ORACLE, QUERIES
    from magi_etl_spark.session import get_spark

    todo = [
        n for n in sorted(QUERIES)
        if not only or any(n == o or n.startswith(o) for o in only)
    ]
    scale = os.path.basename(os.path.normpath(sf_dir))
    ledger = load_ledger()
    # taken before any query runs, from the sources this process imported
    fps = {n: query_fingerprint(QUERIES[n], ORACLE.get(n)) for n in todo}

    spark = get_spark(app_name="magi-parity-sweep")
    con = duckdb_connection(sf_dir)
    fails: list[str] = []
    lost: str | None = None
    t0 = time.time()
    for name in todo:
        fn, sql = QUERIES[name], ORACLE.get(name)
        try:
            if sql is None:
                ok, msg = fn(spark, sf_dir).count() >= 0, "rows-only"
            else:
                ok, msg = compare(fn(spark, sf_dir), con, sql)
            release()
        except Exception as e:  # noqa: BLE001 — a sweep reports, never aborts
            if not _jvm_alive(spark):
                lost = name
                print(f"LOST JVM during {name}: {str(e)[:400]}", flush=True)
                break
            ok, msg = False, f"err: {e}"
            release()
        ledger.setdefault(name, {})[scale] = {"fp": fps[name], "ok": ok}
        if not ok:
            fails.append(name)
            print(f"FAIL {name} {msg[:400]}", flush=True)
    save_ledger(ledger)
    done = len(todo) if lost is None else todo.index(lost)
    print(
        f"DONE sf_dir={sf_dir}: {done} of {len(todo)} queries, "
        f"{len(fails)} failures, {time.time() - t0:.0f}s"
        + (f"; stopped: the JVM was lost during {lost}" if lost else "")
    )
    if lost is None:
        spark.stop()
    sys.exit(1 if fails or lost else 0)


if __name__ == "__main__":
    main()
