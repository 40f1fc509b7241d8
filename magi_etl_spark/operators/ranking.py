"""Lexical relevance ranking: BM25 scoring without an inverted index.

The reference's similar-content scorer is cosine over token count
vectors (reference ``dash_app/tasks.py`` recommend family — our M4/q39);
BM25 is the retrieval-grade upgrade a training-data pipeline uses for
query-based corpus slicing and hard-negative mining.

Shape: for a FIXED (small) query-term set the per-document term
frequencies are pure array expressions over the token array — no explode
and no (doc x term) shuffle.  Corpus statistics (N, avgdl, per-term
document frequencies) reduce to ONE scalar row, cross-joined back as a
broadcast literal.  Total cost: one narrow scan + one 1-row aggregate —
at 100 TB the scoring pass is embarrassingly parallel and the only
synchronization is the tiny stats row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import tokens


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms`` (case-folded,
    whitespace tokens).  Output: ``id_col, dl, score`` for documents
    matching at least one term.

    idf uses the standard smoothed form ``ln(1 + (N - df + 0.5) /
    (df + 0.5))`` — always positive, so a term in most documents still
    contributes monotonically.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    idf = lambda i: F.log(  # noqa: E731
        F.lit(1.0)
        + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
    )
    part = lambda i: idf(i) * (  # noqa: E731
        F.col(f"tf_{i}")
        * (k1 + 1)
        / (
            F.col(f"tf_{i}")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    score = sum(
        (part(i) for i in range(len(query_terms))), start=F.lit(0.0)
    )
    matched = sum(
        (F.col(f"tf_{i}") for i in range(len(query_terms))), start=F.lit(0)
    )
    return scored.where(matched > 0).select(
        id_col, "dl", score.alias("score")
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    tagging/labeling primitive (and the classic keyword-extraction
    baseline).  ``tf`` is the in-document count, ``idf`` the smoothed
    ``ln((1+N)/(1+df)) + 1`` (scikit-learn's convention: never zero, so
    corpus-universal terms still rank below anything rarer).

    Shape: explode → (doc, term) count aggregate → term document
    frequencies (|V| rows) joined back on the term key → per-document
    top-k window.  Ties break (score desc, term asc); every stage is
    keyed on doc or term — nothing collected, no corpus-wide state
    beyond the 1-row N."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            (
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("n_docs"))
                        / (F.lit(1.0) + F.col("df"))
                    )
                    + F.lit(1.0)
                )
            ).alias("score"),
        )
    )
    rank_w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= k)
        .select(id_col, "term", "tf", F.round("score", 6).alias("score"), "rn")
    )


def rrf_fuse(
    lists: dict[str, DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 60,
    ranked: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion of several retriever outputs (hybrid
    search: BM25 + embedding cosine is the canonical pair).  Each list
    contributes ``1 / (k + rank)`` per document; scores are never
    compared across lists — only ranks — so heterogeneous score scales
    fuse without calibration (Cormack et al.'s RRF, the standard
    hybrid-retrieval baseline).

    Output: ``id_col, rrf_score, n_lists, best_rank``.

    Inputs are retriever TOP-K CANDIDATE LISTS — bounded frames (tens to
    thousands of rows), which is what makes the per-list global rank
    window safe here: the single group is over k rows, not the corpus
    (``pinned_partition`` keeps the spec explicit).  To fuse
    corpus-scale rankings instead, pre-rank each side with the
    range-partitioned ``operators.prefix.ranked_prefix_sum`` and pass
    ``ranked=True`` with a ``rank`` column already attached.  The fuse
    itself is one union + one hash aggregate on the id — linear, one
    shuffle, no driver work.

    Ranks tie-break on ``id_col`` so fusion is deterministic across
    partitionings and engines.
    """
    from magi_etl_spark.functions import pinned_partition

    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = []
    for name, df in lists.items():
        if ranked:
            part = df.select(id_col, F.col("rank").cast("long").alias("rank"))
        else:
            # non-foldable constant anchor (lit-based anchors are
            # constant-folded out of the window spec)
            anchor = F.crc32(F.col(id_col).cast("string"))
            w = W.partitionBy(pinned_partition(anchor)).orderBy(
                F.col(score_col).desc(), F.col(id_col)
            )
            part = df.select(id_col, F.row_number().over(w).alias("rank"))
        parts.append(part.withColumn("_list", F.lit(name)))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(id_col).agg(
        F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("rrf_score"),
        F.count("*").alias("n_lists"),
        F.min("rank").alias("best_rank"),
    )
