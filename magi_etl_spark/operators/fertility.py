"""Tokenizer fertility analytics — the vocabulary-sizing diagnostics a
tokenizer owner reads before freezing a vocab: *fertility* (BPE tokens
per word) and *compression* (characters per token), grouped by any
corpus dimension (source, language).  High-fertility segments are the
ones a vocabulary change helps most; the same rollup over candidate
vocab sizes is the standard tokenizer A/B.

Scale shape: training rides the word vocabulary (driver-side merge
loop, 2 Spark jobs); per-word symbol counts are one narrow projection
over the segmented vocabulary; the corpus token stream joins that
word-keyed table (the tokenizer-cache trick — each distinct word
costs one probe, not one re-segmentation) and rolls up per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words
from magi_etl_spark.operators.bpe import (
    _syms,
    bpe_apply,
    bpe_train_local,
    bpe_word_freqs,
)



def tokenizer_fertility(
    df: DataFrame,
    n_merges: int = 10,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """``(by, n_words, n_bpe_tokens, n_chars, fertility,
    chars_per_token)`` per group under a fresh ``n_merges``-merge BPE
    model trained on the whole corpus: ``fertility = tokens/word``,
    ``chars_per_token = chars/token``, both rounded to 6."""
    from magi_etl_spark.chkpt import materialize

    # ONE materialized corpus word-count pass shared by the train
    # guard/collect and the segmentation (r15 — the bpe.py idiom)
    wf = materialize(bpe_word_freqs(df, text_col))
    merge_rows = bpe_train_local(
        df, n_merges, text_col, word_freqs=wf
    ).collect()
    vocab = bpe_apply(wf, [(m["l"], m["r"]) for m in merge_rows])
    seg = vocab.select(
        "word", F.size(_syms(F.col("sym"))).alias("n_sym")
    )
    stream = df.select(
        F.col(by), F.explode(words(F.col(text_col))).alias("word")
    )
    n_words = F.count(F.lit(1))
    n_toks = F.sum("n_sym")
    n_chars = F.sum(F.length("word"))
    return (
        stream.join(seg, "word")
        .groupBy(by)
        .agg(
            n_words.cast("long").alias("n_words"),
            n_toks.cast("long").alias("n_bpe_tokens"),
            n_chars.cast("long").alias("n_chars"),
            F.round(n_toks / n_words.cast("double"), 6).alias("fertility"),
            F.round(n_chars / n_toks.cast("double"), 6).alias(
                "chars_per_token"
            ),
        )
    )
