"""Operators materialize their reuse intermediates (the dedup family)."""

from __future__ import annotations


def test_operators_without_scope_keep_legacy_persist(spark, sf_dir):
    from magi_etl_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = D.minhash_signatures(d, "doc_id", "text")
    assert sigs.count() > 0
