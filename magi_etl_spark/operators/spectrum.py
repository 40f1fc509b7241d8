"""Token frequency spectrum and Good-Turing adjusted counts.

The frequency-of-frequencies profile ``N_r`` (how many distinct tokens
occur exactly ``r`` times) is the standard corpus diagnostic behind
Good-Turing smoothing, Zipf/Heaps fits, and tokenizer-vocabulary sizing:
``N_1/N`` is the Good-Turing estimate of unseen-token mass, and the
adjusted count ``r* = (r+1) · N_{r+1} / N_r`` is the smoothed frequency
a language model should charge an r-count token (Gale & Sampson 1995).

Scale shape: two keyed aggregations (token→count, count→count) plus one
self-equi-join on ``r+1`` — the spectrum is O(√total_tokens) rows, so
the join is trivially small, but it is still expressed as a KEYED join,
never a corpus-wide ordered window (a ``lead`` over the spectrum would
single-partition it; the plan linter bans that shape).

Determinism: everything is integer until the single final division,
which both engines perform on exact integer-valued doubles —
bit-identical by IEEE-754.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.select(
        F.explode(words(F.col(text_col))).alias("tok")
    )


def frequency_spectrum(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``r, n_r``: the count-of-counts profile of the token stream."""
    freq = _tokens(df, text_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("r")
    )
    return freq.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))


def good_turing(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``r, n_r, r_star``: the spectrum with Good-Turing adjusted counts.
    ``r_star`` is NULL for the spectrum's tail rows where ``N_{r+1} = 0``
    (Gale-Sampson smoothing of the gaps is a modeling choice left to the
    caller; the raw estimator is the oracle-checkable part)."""
    spec = frequency_spectrum(df, text_col)
    nxt = spec.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    return spec.join(nxt, "r", "left").select(
        "r",
        "n_r",
        (
            ((F.col("r") + 1) * F.col("_n_next")).cast("double")
            / F.col("n_r").cast("double")
        ).alias("r_star"),
    )
