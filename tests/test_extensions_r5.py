"""The r5 staged registry (q117-q132) merged into the main registry at
the r6 rotation (COVERAGE.md "Planned r6 window", rule 1).  The
per-entry DuckDB-oracle sweep these tests used to run now happens
through the main-registry sweep (tests/test_queries_oracle.py), and the
plan-lint sweep through tests/test_plan_lint.py — what remains here is
the merge invariant."""

from __future__ import annotations


def _ext2():
    """The queries ``queries/extensions_r5.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions_r5"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


def test_r5_extension_registry_is_merged_into_the_gate_registry():
    """r6 rotation rule 1: every r5 extension entry is registered (same
    function object — merged, not shadowed) and its oracle rode along;
    the all-query oracle sweep therefore covers them every run."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext2()
    assert len(ext_q) == 16 and set(ext_q) == set(ext_o)
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
    for name, sql in ext_o.items():
        assert ORACLE.get(name) == sql, f"{name} oracle not merged"
