"""Scale report: every registered query at 1x and at Nx of a catalog.

The engine's plans must show that they scale.  This report runs each
registered query, in registration order, on the catalog at ``--sf-dir``
and on an ``N``-fold id-shifted copy of it (:func:`replicate`), and
reports per query the median wall of each side with its min-max, the
wall ratio Nx/1x and the output-rows ratio Nx/1x.  A plan that scales
with its output keeps the wall ratio at or below the rows ratio; the
wall ratio divided by the rows ratio is the cost-per-output-row growth
(for the pair families, the cost per produced pair).

Per query: one untimed warm-up at 1x (a cold first build compiles its
generated classes), then ``RUNS`` timed runs per side, interleaving 1x
and Nx, each written to the ``noop`` sink and followed by
``chkpt.release()``; the output rows are counted once per side, off the
clock.  Parity at larger scale stays ``tools/parity_sweep.py``'s job.

Usage (from the repo root, so the Python workers import the UDF
queries' modules):
    python tools/scale_probe.py [N] [--sf-dir DIR] [--only qA,qB,...]

``N`` defaults to 8 and ``DIR`` to the sf0.01 test catalog; ``--only``
keeps the queries whose name equals or starts with one of the entries.
One stderr line per query; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from magi_etl_spark.chkpt import release  # noqa: E402

STRIDE = 10_000_000  # id shift between copies, above every key of sf0.1
# key domain -> the (table, column) pairs holding it; a copy shifts every
# column of a domain alike, so each join matches within its own copy
KEY_DOMAINS = {
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "event_id": (("events", "event_id"),),
    "user_id": (("events", "user_id"),),
    "doc_id": (("documents", "doc_id"),),
    "vec_id": (("embeddings", "vec_id"),),
}
RUNS = 3  # timed runs per side


def replicate(src_dir: str, out_dir: str, n: int) -> None:
    """Write ``n`` id-shifted copies of every table of ``src_dir`` that
    holds a key column to ``out_dir``; a table with none (``region``,
    ``nation``) is copied once.  The parquet schema is the source's, so
    ``load_table`` reads the copy unchanged."""
    shifted: dict[str, set[str]] = {}
    for pairs in KEY_DOMAINS.values():
        for table, col in pairs:
            shifted.setdefault(table, set()).add(col)
    os.makedirs(out_dir, exist_ok=True)
    for fname in sorted(os.listdir(src_dir)):
        if not fname.endswith(".parquet"):
            continue
        base = pq.read_table(os.path.join(src_dir, fname))
        keys = shifted.get(fname[: -len(".parquet")], set())
        copies = [base] if not keys else [
            pa.Table.from_arrays([
                pc.add(base[c], pa.scalar(k * STRIDE, base[c].type))
                if c in keys else base[c]
                for c in base.column_names
            ], schema=base.schema)
            for k in range(n)
        ]
        pq.write_table(pa.concat_tables(copies), os.path.join(out_dir, fname))


def _once(spark, fn, sf_dir: str, count: bool = False) -> float | int:
    """Build ``fn`` on ``sf_dir`` and run it: its row count, or the wall
    of construction plus the ``noop`` sink.  Releases its barriers."""
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        if count:
            return df.count()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        release()


def measure(spark, fn, one: str, big: str) -> dict:
    """The per-query row of the report (see the module docstring)."""
    _once(spark, fn, one)  # warm-up
    walls: dict[str, list[float]] = {one: [], big: []}
    for _ in range(RUNS):
        for d in (one, big):
            walls[d].append(_once(spark, fn, d))
    rows = {d: _once(spark, fn, d, count=True) for d in (one, big)}
    med = {d: statistics.median(ws) for d, ws in walls.items()}
    return {
        "wall_1x_s": round(med[one], 3),
        "range_1x_s": [round(min(walls[one]), 3), round(max(walls[one]), 3)],
        "wall_nx_s": round(med[big], 3),
        "range_nx_s": [round(min(walls[big]), 3), round(max(walls[big]), 3)],
        "rows_1x": rows[one],
        "rows_nx": rows[big],
        "wall_ratio": round(med[big] / med[one], 2),
        "rows_ratio": round(rows[big] / rows[one], 2) if rows[one] else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()
    only = [s.strip() for s in args.only.split(",") if s.strip()]

    from magi_etl_spark.queries import QUERIES
    from magi_etl_spark.session import get_spark

    todo = [
        q for q in QUERIES
        if not only or any(q == o or q.startswith(o) for o in only)
    ]
    spark = get_spark(app_name="magi-scale-report")
    report: dict[str, dict] = {}
    errors: dict[str, str] = {}
    t0 = time.time()
    with tempfile.TemporaryDirectory(prefix="scale-report-") as big:
        replicate(args.sf_dir, big, args.n)
        for name in todo:
            try:
                r = report[name] = measure(spark, QUERIES[name], args.sf_dir, big)
            except Exception as e:  # noqa: BLE001 — a report records, never aborts
                errors[name] = (str(e) or repr(e)).splitlines()[0][:400]
                print(f"{name}: ERROR {errors[name]}", file=sys.stderr, flush=True)
                continue
            print(
                f"{name}: 1x {r['wall_1x_s']:.2f}s {r['range_1x_s']}  "
                f"{args.n}x {r['wall_nx_s']:.2f}s {r['range_nx_s']}  "
                f"wall x{r['wall_ratio']}  rows x{r['rows_ratio']}",
                file=sys.stderr, flush=True,
            )
    spark.stop()
    print(json.dumps({
        "report": "scale", "n": args.n, "sf_dir": args.sf_dir,
        "wall_s": round(time.time() - t0, 1), "queries": report, "errors": errors,
    }))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
