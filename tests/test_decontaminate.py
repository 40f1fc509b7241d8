"""Benchmark decontamination operator (operators/decontaminate.py)."""

import pytest
from pyspark.sql import functions as F

from magi_etl_spark.operators.decontaminate import contamination_pairs, decontaminate


@pytest.fixture()
def corpus(spark):
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        # d1 embeds the full benchmark item verbatim -> containment 1.0
        (1, f"intro words then {bench_text} and a long tail of filler text"),
        # d2 shares a 5-token prefix -> 3 of 8 bench shingles -> 0.375
        (2, "the quick brown fox jumps into a completely different story"),
        # d3 unrelated
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # d4 too short for any 3-gram
        (4, "tiny doc"),
    ]
    bench = [(100, bench_text), (200, "nothing here matches anything at all today")]
    return (
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(bench, "bench_id long, text string"),
    )


def test_containment_pairs_thresholds(corpus):
    docs, bench = corpus
    pairs = {
        (r.doc_id, r.bench_id): r
        for r in contamination_pairs(
            docs, bench, bench_id="bench_id", threshold=0.3
        ).collect()
    }
    # bench 100 has 8 distinct 3-grams; d1 contains all of them
    assert pairs[(1, 100)].overlap == 8
    assert pairs[(1, 100)].bench_shingles == 8
    assert pairs[(1, 100)].containment == pytest.approx(1.0)
    # d2 contains exactly the 3 shingles of the shared 5-token prefix
    assert pairs[(2, 100)].overlap == 3
    assert pairs[(2, 100)].containment == pytest.approx(3 / 8)
    # nothing matches bench 200; d3/d4 flag nothing
    assert {k for k in pairs} == {(1, 100), (2, 100)}
    # default 0.8 threshold keeps only the verbatim embed
    strict = contamination_pairs(docs, bench, bench_id="bench_id").collect()
    assert [(r.doc_id, r.bench_id) for r in strict] == [(1, 100)]


def test_decontaminate_anti_join(corpus):
    docs, bench = corpus
    clean = decontaminate(docs, bench, bench_id="bench_id", threshold=0.3)
    assert sorted(r.doc_id for r in clean.collect()) == [3, 4]


def test_broadcast_in_plan(spark, corpus):
    docs, bench = corpus
    plan = (
        contamination_pairs(docs, bench, bench_id="bench_id")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "ResolvedHint (strategy=broadcast)" in plan or "broadcast" in plan.lower()


def test_embedding_decontaminate_drops_paraphrase_leaks(spark):
    from magi_etl_spark.operators.decontaminate import (
        embedding_contamination_pairs,
        embedding_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),   # near-paraphrase of bench item 100
            (3, [0.0, 1.0, 0.0]),      # unrelated
        ],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "bench_id long, embedding array<double>"
    )
    pairs = embedding_contamination_pairs(corpus, bench, threshold=0.99)
    assert {r["vec_id"] for r in pairs.collect()} == {1, 2}
    clean = embedding_decontaminate(corpus, bench, threshold=0.99)
    assert {r["vec_id"] for r in clean.collect()} == {3}
