"""The r6 staged registry (q133-q183) is FULLY merged as of the r9
rotation: the first 49 entries (q133-q181) merged at r8 (COVERAGE.md
"Planned r8 window", scenario 1), and the two-entry residue
(q182/q183, displaced by the q122 failure re-entry) merged at r9 after
CORRECTNESS_r08 came back 50/50 green.  The per-entry DuckDB-oracle
sweep now happens through the main-registry sweep
(tests/test_queries_oracle.py), the plan lint through
tests/test_plan_lint.py, and the no-HUGEINT lint through
tests/test_oracle_types.py.  What remains here is the merge
invariant."""

from __future__ import annotations


def _ext3():
    """The queries ``queries/extensions_r6.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions_r6"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


def test_r6_extension_registry_is_fully_merged():
    """r9 rotation: every EXT3 entry is registered (same function object
    — merged, not shadowed) with its oracle."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext3()
    assert len(ext_q) == 51 and set(ext_q) == set(ext_o)
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
        assert ORACLE.get(name) == ext_o[name], f"{name} oracle not merged"
