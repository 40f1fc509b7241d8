"""Benchmark decontamination: flag training documents whose word-n-gram
overlap with an evaluation/benchmark set is high enough to leak test
data into training (LLM-data-pipeline extension; no counterpart in the
reference, which is tabular-only).

Semantics follow the common n-gram containment rule (GPT-3 appendix-C /
Dolma-style): a document is contaminated by a benchmark item when at
least ``threshold`` of the benchmark item's distinct n-grams appear in
the document — containment is measured against the BENCHMARK side, not
symmetric Jaccard, because a long document trivially dilutes Jaccard
while still embedding the whole eval item.

Scale shape (the part that must survive 100 TB): the benchmark set is
small by nature (eval suites are thousands of items, not billions), so
its exploded (bench_id, shingle) postings BROADCAST to every executor;
the corpus side is a linear scan — explode, map-side hash-join against
the broadcast, then one aggregation keyed by (doc_id, bench_id) over
*matched candidates only*.  The corpus never shuffles its full width,
and an un-matched document contributes zero rows past the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.operators.dedup import with_shingles


def contamination_pairs(
    docs: DataFrame,
    bench: DataFrame,
    doc_id: str = "doc_id",
    doc_text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """(doc_id, bench_id, overlap, bench_shingles, containment) for every
    doc/benchmark pair with containment >= threshold.

    ``overlap`` counts DISTINCT shared n-grams; ``containment`` =
    overlap / |distinct benchmark n-grams|.  Benchmark items shorter than
    ``n`` tokens have no shingles and can never flag anything."""
    d = with_shingles(docs, doc_id, doc_text, n).where(
        F.size("shingles") > 0
    )
    b = (
        with_shingles(bench, bench_id, bench_text, n)
        .where(F.size("shingles") > 0)
        .select(
            F.col("doc_id").alias("b_id"),
            F.size("shingles").alias("b_n_sh"),
            F.explode("shingles").alias("shingle"),
        )
        .transform(materialize, eager=False)
    )
    d_post = d.select("doc_id", F.explode("shingles").alias("shingle"))
    matched = d_post.join(F.broadcast(b), "shingle")
    pairs = matched.groupBy("doc_id", "b_id", "b_n_sh").agg(
        F.count("*").alias("overlap")  # postings are distinct per side
    )
    return (
        pairs.where(F.col("overlap") >= F.col("b_n_sh") * F.lit(threshold))
        .select(
            "doc_id",
            F.col("b_id").alias("bench_id"),
            "overlap",
            F.col("b_n_sh").alias("bench_shingles"),
            (F.col("overlap") / F.col("b_n_sh")).alias("containment"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    doc_id: str = "doc_id",
    doc_text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The corpus minus contaminated documents: a broadcastable LEFT ANTI
    join of ``docs`` against the flagged doc ids (the flagged set is
    orders of magnitude smaller than the corpus)."""
    flagged = contamination_pairs(
        docs, bench, doc_id, doc_text, bench_id, bench_text, n, threshold
    ).select(F.col("doc_id").alias("_c_id")).distinct()
    return docs.join(
        F.broadcast(flagged), docs[doc_id] == F.col("_c_id"), "left_anti"
    )


def embedding_contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic decontamination pairs: corpus vectors whose cosine
    similarity to ANY benchmark vector reaches ``threshold`` —
    paraphrased or lightly-reworded eval leakage that n-gram
    containment misses entirely (the reason modern pipelines run BOTH
    filters).  Output: ``(corpus_id, bench_id, score)``.

    Same scale posture as the n-gram filter: the benchmark side is
    small by nature, so it broadcasts whole; the corpus side is one
    linear scan with a per-row dot product against the broadcast — no
    corpus shuffle, no pair materialization below the threshold."""
    from magi_etl_spark.functions.vectors import as_double, cosine

    c = corpus.select(
        F.col(corpus_id), as_double(F.col(vec_col)).alias("_v")
    )
    b = bench.select(
        F.col(bench_id), as_double(F.col(vec_col)).alias("_b")
    )
    return (
        c.crossJoin(F.broadcast(b))
        .select(
            corpus_id,
            bench_id,
            F.round(cosine(F.col("_v"), F.col("_b")), 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def embedding_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    bench_id: str = "bench_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus minus everything semantically contaminated: one
    broadcast scoring pass, distinct flagged ids, one anti join."""
    flagged = embedding_contamination_pairs(
        corpus, bench, threshold, corpus_id, bench_id, vec_col
    ).select(corpus_id).distinct()
    return corpus.join(flagged, corpus_id, "left_anti")
