"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full operator inventory
(magi_etl_spark.queries) for the sf0.01 DuckDB-oracle correctness gate.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from magi_etl_spark.chkpt import release
from magi_etl_spark.queries import ORACLE, QUERIES

REPO = os.path.dirname(os.path.abspath(__file__))

# The external correctness gate oracle-checks the first GATE_WINDOW
# entries of ``queries()``; the rest of the registry is covered by the
# local DuckDB-oracle suite and tools/parity_sweep.py.
GATE_WINDOW = 50


def _green(row: dict) -> bool:
    """A driver row that passed: rows and schema match, the hash matches
    (``None`` for rows-only checks), no error."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
        and not row.get("err")
    )


def correctness_rows(repo: str = REPO) -> dict[int, dict[str, dict]]:
    """round -> the driver's rows from ``CORRECTNESS_r<round>.json``."""
    out: dict[int, dict[str, dict]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                out[int(m.group(1))] = json.load(fh)
    return out


def last_green_round(rounds: dict[int, dict[str, dict]]) -> dict[str, int]:
    """query -> the latest round in which its driver row was green."""
    last: dict[str, int] = {}
    for n, rows in rounds.items():
        for name, row in rows.items():
            if _green(row):
                last[name] = max(last.get(name, 0), n)
    return last


def window_order(names: list[str], rounds: dict[int, dict[str, dict]]) -> list[str]:
    """The gate's verification schedule: queries never verified or whose
    latest driver row failed come first, then the rest by ascending last
    green round; ``names``' order breaks ties."""
    latest: dict[str, int] = {}
    for n, rows in rounds.items():
        for name in rows:
            latest[name] = max(latest.get(name, 0), n)
    last = last_green_round(rounds)

    def key(i: int) -> tuple[int, int, int]:
        name = names[i]
        if name not in last or latest[name] != last[name]:
            return (0, 0, i)
        return (1, last[name], i)

    return [names[i] for i in sorted(range(len(names)), key=key)]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    :func:`window_order` over the recorded driver rows.  Each entry first
    calls ``chkpt.release()``, so the driver's one session holds one
    query's barrier blocks at a time."""

    def released(fn):
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            release()
            return fn(spark, sf_dir)

        return build

    order = window_order(list(QUERIES), correctness_rows())
    return {n: released(QUERIES[n]) for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return dict(ORACLE)
