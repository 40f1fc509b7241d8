"""The r10 staged registry (EXT7, q232-q237) merged into the main
registry at the r11 rotation (COVERAGE.md "Planned r11 window").  The
per-entry DuckDB-oracle sweep these tests used to run now happens
through the main-registry sweep (tests/test_queries_oracle.py), the
plan lint through tests/test_plan_lint.py, and the no-HUGEINT lint
through tests/test_oracle_types.py.  What remains here is the merge
invariant."""

from __future__ import annotations


def _ext7():
    """The queries ``queries/extensions_r10.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions_r10"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


def test_r10_extension_registry_is_fully_merged():
    """r11 rotation rule 1: every EXT7 entry is registered (same function
    object — merged, not shadowed) and its oracle rode along; the
    all-query oracle sweep therefore covers them every run."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext7()
    assert len(ext_q) == 6 and set(ext_q) == set(ext_o)
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
        assert ORACLE.get(name) == ext_o[name], f"{name} oracle not merged"
