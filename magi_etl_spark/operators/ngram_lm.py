"""Corpus n-gram statistics and bigram-LM scoring.

Extends the unigram quality proxy (``operators/text.py``
``unigram_logprob_scores``) one order up: a bigram model separates
"rare words" from "rare word ORDER" — word-salad spam scores near the
unigram floor under a bigram model while fluent-but-niche text does
not.  Same 100 TB shape as the unigram scorer: counts are
map-side-combined aggregates over exploded tokens, the model tables are
vocabulary-sized keyed frames joined back on the token keys, and
nothing non-scalar is collected.

Tokenization here is the deliberately simple lowercase ``[a-z]+``
(``functions.text.words``) the BPE trainer (``operators/bpe.py``) uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words



def _adjacent(toks: Column) -> Column:
    n = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("l"), F.slice(toks, 2, n - 1).alias("r")
    )


def doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (document, adjacent token pair): ``id_col, l, r``.
    Documents with fewer than two tokens emit nothing."""
    # token array bound to a column first: _adjacent references its
    # input three times (size + two slices), which re-ran the regexp
    # tokenize 3x per row when handed the raw expression (r15)
    return (
        df.select(F.col(id_col), words(F.col(text_col)).alias("_tk"))
        .select(F.col(id_col), F.explode(_adjacent(F.col("_tk"))).alias("p"))
        .select(id_col, F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Mean per-bigram conditional log probability under the corpus's
    own add-``smoothing`` bigram model:

        p(r | l) = (c(l, r) + s) / (c_left(l) + s * V)

    where ``c(l, r)`` is the corpus bigram count, ``c_left(l)`` the
    count of occurrences of ``l`` WITH a successor (so the conditional
    sums to 1 over the vocabulary), and ``V`` the unigram vocabulary
    size.  Output ``id_col, n_bigrams, mean_logprob``; documents with
    fewer than two tokens are dropped.

    Scale: bigram model = one keyed aggregate (|bigram types| rows);
    left totals ride the same frame re-aggregated; the doc stream joins
    on the (l, r) key — all keyed shuffles, V is a broadcast scalar.

    The bigram stream is materialized once (r15): it feeds the model
    aggregate AND the scoring join, and left lazy each reference
    re-tokenized the corpus."""
    from magi_etl_spark.chkpt import materialize

    bg = materialize(doc_bigrams(df, id_col, text_col))
    model = bg.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_lr"))
    left_tot = model.groupBy("l").agg(F.sum("c_lr").alias("c_l"))
    v = df.select(
        F.explode(words(F.col(text_col))).alias("tok")
    ).agg(F.count_distinct("tok").alias("v_size"))
    scored = (
        bg.join(model, ["l", "r"])
        .join(left_tot, "l")
        .join(F.broadcast(v))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c_lr") + F.lit(smoothing))
                / (F.col("c_l") + F.lit(smoothing) * F.col("v_size"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_lp").alias("mean_logprob"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus's ``k`` most frequent word ``n``-grams:
    ``(ngram, n_occurrences, doc_freq)``, ranked (count desc, ngram
    asc) for a deterministic cut.  The boilerplate/contamination recon
    pass: chart-topping n-grams are headers, license tails, and
    template fragments.

    Shape: explode to (doc, ngram) rows, a (ngram, doc) pre-aggregate
    that map-side-combines within-document repetition, one per-ngram
    rollup, distributed top-k via TakeOrdered (orderBy+limit) — no
    window, no collect."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # token array bound to a column BEFORE the gram transform (r15):
    # interpreted HOFs skip CSE, so slicing the tokenize expression
    # inside the lambda re-split every document once per gram —
    # measured ~6x of this query's wall at sf0.1
    toks = F.col("_tk")
    size = F.size(toks)
    grams = F.transform(
        F.slice(toks, 1, F.greatest(size - F.lit(n - 1), F.lit(0))),
        lambda x, i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    rows = df.select(
        F.col(id_col), words(F.col(text_col)).alias("_tk")
    ).select(F.col(id_col), F.explode(grams).alias("ngram"))
    # two-stage aggregate instead of count_distinct: the (ngram, doc)
    # pre-aggregate map-side-combines within-document repetition (the
    # boilerplate case this operator exists for), so the wide shuffle
    # carries one row per (ngram, doc) instead of one per occurrence
    per_doc = rows.groupBy("ngram", id_col).agg(
        F.count(F.lit(1)).alias("_occ")
    )
    agg = per_doc.groupBy("ngram").agg(
        F.sum("_occ").alias("n_occurrences"),
        F.count(F.lit(1)).alias("doc_freq"),
    )
    return agg.orderBy(F.desc("n_occurrences"), F.asc("ngram")).limit(k)


def kneser_ney_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Mean per-bigram conditional log probability under an interpolated
    Kneser-Ney bigram model trained on the corpus itself — the smoothing
    the KenLM-style quality filters of large-corpus pipelines actually
    use, where the backoff mass goes to CONTINUATION probability
    (how many distinct contexts a word follows) rather than raw
    frequency, so boilerplate tokens that appear often but only in one
    template stop inflating fluency scores:

        p(r | l) = max(c(l,r) - d, 0) / c(l)
                   + (d * N1+(l,*) / c(l)) * (N1+(*,r) / N1+(*,*))

    with ``d = discount``, ``N1+(l,*)`` the distinct continuations of
    ``l``, ``N1+(*,r)`` the distinct left contexts of ``r``, and
    ``N1+(*,*)`` the total bigram-type count.  Every scored bigram has
    c >= 1 (the model is trained on the same corpus), so no zero-mass
    branch is needed.  Output ``id_col, n_bigrams, mean_kn_logprob``;
    documents with fewer than two tokens are dropped.

    Scale: identical shape to :func:`bigram_logprob_scores` — all model
    tables are bigram-type-sized keyed aggregates joined back on token
    keys; the type total rides as a broadcast 1-row frame; nothing
    collects.

    r15: the bigram stream and the bigram-type model are materialized
    once — bg feeds the model and the scoring join, model feeds FOUR
    aggregates/joins; left lazy each reference re-derived the corpus
    tokenize (5 compiled corpus scans on q164)."""
    from magi_etl_spark.chkpt import materialize

    bg = materialize(doc_bigrams(df, id_col, text_col))
    model = materialize(
        bg.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_lr"))
    )
    left = model.groupBy("l").agg(
        F.sum("c_lr").alias("c_l"), F.count(F.lit(1)).alias("n1p_l")
    )
    cont = model.groupBy("r").agg(F.count(F.lit(1)).alias("n1p_r"))
    tot = model.agg(F.count(F.lit(1)).alias("n1p_tot"))
    d = F.lit(discount)
    p = (
        F.greatest(F.col("c_lr") - d, F.lit(0.0)) / F.col("c_l")
        + (d * F.col("n1p_l") / F.col("c_l"))
        * (F.col("n1p_r") / F.col("n1p_tot"))
    )
    scored = (
        bg.join(model, ["l", "r"])
        .join(left, "l")
        .join(cont, "r")
        .join(F.broadcast(tot))
        .select(F.col(id_col), F.log(p).alias("_lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_lp").alias("mean_kn_logprob"),
    )
