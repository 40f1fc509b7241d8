"""Greedy maximum-coverage document selection: pick k documents that
together cover as much of the corpus vocabulary as possible — the
submodular max-coverage selector (greedy is the classic (1 - 1/e)
approximation) a curation pipeline runs to seed evaluation sets,
lexicon-complete subsamples, and tokenizer training slices.  The
LEXICAL-coverage complement of ``operators/coreset.py`` (which
maximizes geometric diversity over embeddings).

Greedy rule, k rounds: each round scores every document by its count
of NOT-YET-COVERED distinct units (one anti-join + one aggregation),
selects the argmax (ties to the smallest doc id), and adds its units
to the covered set.  Coverage units are token N-GRAMS (default
bigrams): unigram vocabularies saturate after one pick on small
corpora, while bigram contexts are the unit tokenizer-training and
eval-seeding coverage actually wants.

Scale shape: per round — one broadcast-able anti-join of (doc, token)
pairs against the covered-token set, one per-doc count aggregate, one
1-row ``max_by`` collect (the bounded-collect idiom: exactly k rows
cross the driver over the whole trace, like ``coreset.kcenter_select``).
The (doc, token) pair frame is computed once and materialized;
the covered set grows by at most the winner's vocabulary each round.
No pairwise doc-doc materialization anywhere.

Determinism: counts are integers, ties break to the smallest doc id,
and the covered set after each round is a set union — the whole trace
is exactly replayable, so a SQL oracle unrolls the k rounds.

Scope note: the reference app has no subset-selection surface — this
operator belongs to the training-data-pipeline extension family the
engine adds beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize

_WORD_RE = "[a-z]+"


def _units(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (doc, unit) pairs where a unit is a space-joined token
    n-gram (n = 1 gives plain tokens)."""
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(_WORD_RE), 0
        ).alias("_tk"),
    )
    if n == 1:
        unit = F.explode("_tk").alias("_tok")
    elif n == 2:
        # static expr (no value splicing): adjacent-pair contexts; the
        # CASE guards sequence() against descending ranges on short docs
        unit = F.explode(
            F.expr(
                "CASE WHEN size(_tk) < 2 THEN array()"
                " ELSE transform(sequence(1, size(_tk) - 1),"
                " i -> concat(_tk[i - 1], ' ', _tk[i])) END"
            )
        ).alias("_tok")
    else:
        raise ValueError(f"ngram order {n} not supported (1 or 2)")
    return toks.select("_doc", unit).distinct()


def vocab_cover_select(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> list[dict]:
    """Greedy max-coverage trace as a list of
    ``{rank, id, new_tokens, cum_tokens}`` dicts (at most k entries;
    stops early when every unit is covered — the gate corpus always has
    k productive rounds, so its unrolled oracle never sees the early
    stop, the ``coreset.kcenter_select`` convention)."""
    dt = materialize(_units(df, id_col, text_col, ngram))
    covered = None  # DataFrame[_tok] of covered tokens
    trace: list[dict] = []
    cum = 0
    for r in range(1, k + 1):
        uncov = dt if covered is None else dt.join(
            covered, "_tok", "left_anti"
        )
        # one aggregate: the doc covering the most uncovered tokens
        top = (
            uncov.groupBy("_doc")
            .agg(F.count(F.lit(1)).alias("_g"))
            .select(
                F.max_by(
                    F.struct("_doc", "_g"),
                    F.struct(F.col("_g"), -F.col("_doc")),
                ).alias("_m")
            )
            .collect()
        )
        if not top or top[0]["_m"] is None:
            break  # vocabulary exhausted
        m = top[0]["_m"]
        cum += m["_g"]
        trace.append(
            {"rank": r, "id": m["_doc"], "new_tokens": m["_g"],
             "cum_tokens": cum}
        )
        won = uncov.where(F.col("_doc") == m["_doc"]).select("_tok")
        covered = materialize(
            won if covered is None else covered.union(won)
        )
    return trace


def vocab_cover_trace(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """The selection trace as a DataFrame:
    ``sel_rank, doc_id, new_tokens, cum_tokens`` (all integers)."""
    spark = df.sparkSession
    rows = [
        (t["rank"], t["id"], t["new_tokens"], t["cum_tokens"])
        for t in vocab_cover_select(df, k, id_col, text_col, ngram)
    ]
    return spark.createDataFrame(
        rows, "sel_rank int, doc_id long, new_tokens long, cum_tokens long"
    )
