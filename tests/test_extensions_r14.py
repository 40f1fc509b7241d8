"""Staged-registry discipline for the round-14 wave (EXT11, q256-q261):
per-entry DuckDB hash comparison (the driver's own check, run locally
every suite run), the no-HUGEINT output lint, the complex-type output
lint, and the plan lint — the same gauntlet every prior staged wave
carried before its rotation merge.  Operator SEMANTICS are pinned in
tests/test_r14_wave.py on hand fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from oracle_harness import compare, duckdb_connection


def _ext11():
    """The queries ``queries/extensions_r14.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions_r14"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


def test_r14_extension_registry_is_fully_merged():
    """r15 rotation rule 1: every EXT11 entry is registered (same
    function object — merged, not shadowed) and its oracle rode along;
    the all-query oracle sweep therefore covers them every run.  (Until
    the r15 merge this test asserted the OPPOSITE — staged
    disjointness.)"""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext11()
    assert len(ext_q) == 6 and set(ext_q) == set(ext_o)
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
        assert ORACLE.get(name) == ext_o[name], f"{name} oracle not merged"


def test_staged_oracles_emit_no_hugeint(sf_dir):
    _, ext_o = _ext11()
    con = duckdb_connection(sf_dir)
    offenders = {}
    for name, sql in ext_o.items():
        rel = con.sql(sql)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_staged_queries_emit_no_complex_types(spark, sf_dir):
    ext_q, _ = _ext11()
    offenders = {}
    for name, fn in ext_q.items():
        bad = [
            f.name
            for f in fn(spark, sf_dir).schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def _names():
    ext_q, _ = _ext11()
    return sorted(ext_q)


@pytest.mark.parametrize("name", _names())
def test_staged_query_matches_oracle(spark, sf_dir, con, name):
    ext_q, ext_o = _ext11()
    ok, msg = compare(ext_q[name](spark, sf_dir), con, ext_o[name])
    assert ok, f"{name}: {msg}"


def test_staged_queries_are_lint_clean(spark, sf_dir):
    """Every r14 staged entry passes the plan linter BEFORE it enters
    the gate.  q260's quantile-regression selections localCheckpoint
    bounded intermediates at build time (the q250 IPF pattern);
    everything else compiles to keyed joins, keyed aggregations, and
    per-key windows over distinct values only."""
    from magi_etl_spark.plans import lint

    ext_q, _ = _ext11()
    errors = {}
    for name, fn in ext_q.items():
        errs = [f for f in lint(fn(spark, sf_dir)) if f.severity == "error"]
        if errs:
            errors[name] = [f.rule for f in errs]
    assert not errors, errors
