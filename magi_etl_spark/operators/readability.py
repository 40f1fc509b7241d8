"""Readability scoring — the Flesch reading-ease family used as a
document-quality signal in corpus filtering (alongside the
length/punctuation/stopword heuristics of ``operators/text.py`` and
the LM scores of ``operators/ngram_lm.py``).  The syllable counter is
the standard vowel-group heuristic made DETERMINISTIC and
engine-portable: a syllable is one maximal ``[aeiouy]+`` run, counted
over the lowercased text (non-letters break runs, so runs never span
words); sentences are maximal ``[.!?]+`` runs, floored at one so
punctuation-free documents behave as a single sentence.

Everything is a narrow projection over three ``regexp_extract_all``
counts — no explode, no joins, no shuffle beyond the caller's; the
arithmetic is plain IEEE doubles, so a SQL oracle replays the scores
digit for digit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import words

_SYLLABLE_RE = "[aeiouy]+"
_SENTENCE_RE = "[.!?]+"


def _count(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_words, n_sentences, n_syllables, flesch_ease,
    fk_grade)`` for every document with at least one word:

    - ``flesch_ease = 206.835 - 1.015*(words/sentences)
      - 84.6*(syllables/words)`` (higher = easier), and
    - ``fk_grade = 0.39*(words/sentences) + 11.8*(syllables/words)
      - 15.59`` (Flesch-Kincaid grade level),

    both rounded to 6 decimals.  Documents with no ``[a-z]+`` word
    drop out (the ratios are undefined), as in the oracle."""
    low = F.lower(F.col(text_col))
    n_words = F.size(words(F.col(text_col)))
    syll = _count(low, _SYLLABLE_RE)
    sent = F.greatest(_count(low, _SENTENCE_RE), F.lit(1))
    wps = n_words.cast("double") / sent.cast("double")
    spw = syll.cast("double") / n_words.cast("double")
    return df.where(n_words > 0).select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        sent.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )
