"""The r4 staged registry (q95-q113) merged into the main registry at
the r5 rotation, plus the r5 additions (q114-q116).  The per-entry
DuckDB-oracle sweep these tests used to run now happens through the
main-registry sweep (tests/test_queries_oracle.py) — what remains here
is the merge invariant and the rows-only invariants the oracle can't
express."""

from __future__ import annotations


def _ext():
    """The queries ``queries/extensions.py`` registers, and their oracles."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    mod = "magi_etl_spark.queries.extensions"
    q = {n: f for n, f in QUERIES.items() if f.__module__ == mod}
    return q, {n: ORACLE[n] for n in q if n in ORACLE}


def test_extension_registry_is_merged_into_the_gate_registry():
    """r5 rotation rule 1: every extension entry is registered (same
    function object — merged, not shadowed) and its oracle rode along;
    the all-query oracle sweep therefore covers them every run."""
    from magi_etl_spark.queries import ORACLE, QUERIES

    ext_q, ext_o = _ext()
    for name, fn in ext_q.items():
        assert QUERIES.get(name) is fn, f"{name} not merged into QUERIES"
    for name, sql in ext_o.items():
        assert ORACLE.get(name) == sql, f"{name} oracle not merged"
    # rows-only entries stay a deliberate, short list (driver contract)
    assert len(set(ext_q) - set(ext_o)) <= 2


def test_semantic_dedup_rows_only_invariants(spark, sf_dir):
    ext_q, _ = _ext()
    rows = ext_q["q104_semantic_dedup"](spark, sf_dir).collect()
    from magi_etl_spark.tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    reps = {r["vec_id"] for r in rows if r["kept"]}
    assert reps  # at least one representative
    for r in rows:
        assert r["rep_id"] in reps and r["rep_id"] <= r["vec_id"]


def test_pq_refine_rows_only_invariants(spark, sf_dir):
    ext_q, _ = _ext()
    out = ext_q["q106_pq_refine_topk"](spark, sf_dir)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == 10
        assert sorted(r["rn"] for r in rs) == list(range(1, 11))
        ds = [r["d2"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert ds == sorted(ds)  # ascending exact distance
        assert all(r["vec_id"] != q for r in rs)
