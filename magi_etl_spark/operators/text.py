"""Text analysis operators: token stats, quality scoring, language ID
heuristic, document fingerprinting.  Pure Column expressions (codegen'd);
no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import char_shingles, tokens

# Small, fixed stopword inventories for the language-ID heuristic.  Scores
# are counts of exact token hits — portable to any SQL engine.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "les", "des", "et", "est", "une"),
}


def _hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*markers)))


def token_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Token count + average token length (integer-exact ratios).

    The token array is projected + materialized once (interpreted HOFs skip
    CSE, so the three stats would otherwise re-split every document —
    see ``quality_scores``)."""
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("_len"),
        tokens(F.col(text_col)).alias("_t"),
    ).transform(materialize, eager=False)
    t = F.col("_t")
    toklen_sum = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    return base.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.col("_len").alias("n_chars_measured"),
        F.round(toklen_sum / F.size(t), 6).alias("avg_token_len"),
    )


def quality_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Heuristic document quality: length, stopword ratio, lexical
    diversity, blended 0..1 score (training-data filtering primitive).

    The token array is projected and MATERIALIZED once: higher-order
    functions run interpreted (no common-subexpression elimination), so
    computing each stat straight off the text would re-split every
    document ~5 times — measured 8x wall at the 32x scale probe before
    this materialization.  Same trade as the dedup family
    (``operators/dedup.py``)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).where(F.size("_t") > 0).transform(materialize, eager=False)
    t = F.col("_t")
    n = F.size(t)
    stop_ratio = _hits(t, LANG_MARKERS["en"]) / n
    diversity = F.size(F.array_distinct(t)) / n
    score = (
        F.least(n / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + diversity * 0.3
    )
    return base.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(diversity, 6).alias("lexical_diversity"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Stopword-vote language ID with deterministic tie-break (declaration
    order).  A real model would be a broadcast n-gram table; the operator
    shape — per-row scoring against broadcast constants — is the same.

    The token array is projected + materialized once: the vote expression
    references the hit count of every language, which would otherwise
    re-tokenize each document once per language (interpreted HOFs skip
    CSE — see ``quality_scores``)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).transform(materialize, eager=False)
    t = F.col("_t")
    hit_cols = {lang: _hits(t, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier languages win ties
        pred = F.when(hit_cols[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return base.select(F.col(id_col), pred.alias("pred_lang"))


def fingerprints(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over character k-grams, plus an
    exact-content digest.  Both portable (md5 string min)."""
    sh = char_shingles(F.col(text_col), k)
    # array_min of an empty array is NULL, so coalesce expresses the
    # short-document fallback with ONE evaluation of the shingle array
    # (the old when(size(sh) > 0, ...) shape evaluated it twice —
    # interpreted HOFs skip CSE)
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        F.coalesce(
            F.array_min(F.transform(sh, F.md5)), F.md5(F.col(text_col))
        ).alias("kgram_fingerprint"),
    )


def normalize_text(
    text: Column,
    lowercase: bool = True,
    strip_punct: bool = False,
    collapse_ws: bool = True,
) -> Column:
    """Corpus canonicalization column: control-char removal, optional
    lowercasing and ASCII-punctuation stripping, whitespace collapse +
    trim.  Character classes are spelled as explicit ASCII ranges so the
    identical pattern runs under Java regex (Spark) and RE2 (DuckDB) —
    named classes like \\p{Punct} differ subtly between engines.

    Pure Column expression: composes into any scan with no extra stage.
    Unicode NFC/NFKC folding needs ICU and is deliberately out of scope
    here — run it in the decode/ingest UDF seam if required."""
    c = F.regexp_replace(text, r"[\x00-\x08\x0b-\x1f\x7f]", "")
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", " ")
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


# Redaction patterns, ordered most-specific first: emails and IPv4
# before bare digit runs, so an address is replaced whole rather than
# having its digits hollowed out.  Same engine-portable regex dialect as
# the q70 scan (explicit ranges, no \d, no bounded quantifiers).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    ("ipv4", r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", "[IP]"),
    ("digit_run", r"[0-9][0-9][0-9]+", "[NUM]"),
)


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Language-model quality proxy: mean per-token unigram log
    probability under the corpus's OWN empirical distribution — the
    cheap stand-in for the KenLM-perplexity filters pretraining
    pipelines threshold on (gibberish and boilerplate-free natural text
    separate cleanly; extremely low scores mean rare-token soup).

    Add-``smoothing`` estimates: ``p(w) = (c_w + s) / (N + s·V)``.

    Scale shape: one explode → one token-count aggregate (map-side
    combined; the vocabulary frame is |V| rows), token stream joined
    back to the vocabulary on the token key, one per-document mean —
    every stage keyed, nothing collected.  Output: ``id_col, n_tokens,
    mean_logprob`` (empty documents are dropped — no tokens, no
    distribution)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        toks.join(vocab, "tok")
        .join(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c") + F.lit(smoothing))
                / (F.col("n_total") + F.lit(smoothing) * F.col("v_size"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_lp").alias("mean_logprob"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_repeats: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal: any paragraph (blank-line-split
    block) whose NORMALIZED form occurs in at least ``min_repeats``
    distinct documents is stripped from every document — the standard
    pretraining-cleanup pass for nav bars, license headers, and cookie
    banners that survive document-level dedup because the surrounding
    text differs.

    Output: one row per input document — ``id_col, text_dedup,
    n_paragraphs, n_removed`` (documents reduced to nothing keep an
    empty ``text_dedup``; empty/whitespace-only paragraphs are dropped
    as normalization).

    Scale shape: posexplode (no shuffle) → one count-distinct-docs
    aggregate keyed on the normalized paragraph → one join back on that
    key → one group-by-document rebuild.  Every stage is keyed and
    map-side combinable; the boilerplate frame is joined, never
    collected, so a 100 TB corpus with millions of repeated paragraphs
    stays distributed end to end."""
    if min_repeats < 2:
        raise ValueError(f"min_repeats must be >= 2, got {min_repeats}")
    from magi_etl_spark.functions import fan_out

    # spread a narrow scan before the per-row split/normalize work —
    # a small parquet file arrives as one task otherwise
    paras = fan_out(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n\s*\n")).alias("pos", "para"),
    )
    marked = paras.withColumn("_norm", normalize_text(F.col("para"))).where(
        F.col("_norm") != ""
    )
    boiler = (
        marked.groupBy("_norm")
        .agg(F.countDistinct(id_col).alias("_docs"))
        .where(F.col("_docs") >= min_repeats)
        .select("_norm", F.lit(True).alias("_boiler"))
    )
    flagged = marked.join(boiler, "_norm", "left")
    keep = ~F.coalesce(F.col("_boiler"), F.lit(False))
    rebuilt = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.count(F.when(F.col("_boiler"), 1)).alias("n_removed"),
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "para")))
                ),
                lambda s: s["para"],
            ),
        ).alias("text_dedup"),
    )
    # documents whose every paragraph normalized away still get a row
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).cast("long").alias(
                "n_paragraphs"
            ),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias(
                "n_removed"
            ),
        )
    )


def redact_pii(
    text: Column,
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> Column:
    """PII redaction column: each ``(name, regex, placeholder)`` applied
    in order as a ``regexp_replace`` chain — the acting half of the q70
    scan-then-route compliance pair (scan counts, this rewrites).  Pure
    Column expression; at 100 TB this is a map-only pass that fuses into
    whatever scan or write surrounds it."""
    c = text
    for _name, pat, placeholder in patterns:
        c = F.regexp_replace(c, pat, placeholder)
    return c
