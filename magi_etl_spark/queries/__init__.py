"""Driver-facing query inventory.

Each entry pairs a Spark DataFrame program (idiomatic, Catalyst-optimized)
with an ANSI-SQL oracle that DuckDB runs over the same parquet tables.
Column names are aligned on both sides — the driver sorts columns by name
and hashes values, so every computed column is aliased identically.

Determinism rules used throughout (see SURVEY.md §5.2):
- Monetary sums are reported as exact integers (``round(x * 10^k)`` summed
  as bigint) so floating-point summation order can never flip a hash.
- LIMIT/top-k queries always carry a unique tie-break key.
- Timestamps are never emitted raw (parquet ns vs Spark micro precision);
  they are floored to seconds/days or diffed into integers.
- Float outputs are either per-row deterministic expressions or rounded
  well inside the driver's 6-dp comparison grid.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the DuckDB-equivalent SQL (omit for
    non-SQL-expressible operators — the driver then runs a rows-only check).
    A name may be registered once: a second registration would silently
    replace the first program and its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise RuntimeError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Registration order is the order of this list, then source order within
# each module; the driver's window order breaks ties by it.
_MODULES = (
    "advanced",
    "dedup",
    "engine",
    "etl",
    "relational",
    "similarity",
    "text",
    "extensions",
    "extensions_r5",
    "extensions_r6",
    "extensions_r7",
    "extensions_r8",
    "extensions_r9",
    "extensions_r10",
    "extensions_r11",
    "extensions_r12",
    "extensions_r13",
    "extensions_r14",
    "extensions_r15",
)


def _load_all() -> None:
    import importlib

    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")


_load_all()
