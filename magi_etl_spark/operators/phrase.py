"""Positional-postings exact phrase search.

Lives in its own module (rather than ``operators/ranking.py``, the
lexical-relevance sibling) so the gate-verified BM25/TF-IDF surface
stays byte-identical — the same isolation rule ``operators/linkage.py``
followed for ``joins.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching over a POSITIONAL postings layout:
    ``id_col, n_matches`` for every document containing the phrase's
    tokens at consecutive positions — the inverted-index primitive that
    LIKE-pattern scans can't express safely (token boundaries) and
    substring search can't express at all once tokenization normalizes
    whitespace/case.

    Shape: tokenize once, posexplode to (doc, pos, tok) postings,
    FILTER each join leg to a single phrase token BEFORE joining (the
    selective predicate reaches the scan, so each leg is
    term-frequency-sized, not corpus-token-sized), then chain keyed
    equi-joins on (doc, aligned start position).  Every join is a hash
    join on (doc, pos) keys; at 100 TB the legs are as small as the
    phrase terms are rare — the classic postings-intersection cost
    model.  Length-1 phrases reduce to a term-frequency count with no
    join."""
    terms = [w for w in phrase.lower().split() if w]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    toks = words(F.col(text_col))
    postings = df.select(
        F.col(id_col), F.posexplode(toks).alias("_pos", "_tok")
    )
    matches = postings.where(F.col("_tok") == terms[0]).select(
        id_col, F.col("_pos").alias("_start")
    )
    for i, w in enumerate(terms[1:], start=1):
        leg = postings.where(F.col("_tok") == w).select(
            id_col, (F.col("_pos") - i).alias("_start")
        )
        matches = matches.join(leg, [id_col, "_start"])
    return matches.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )
