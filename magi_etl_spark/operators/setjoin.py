"""Exact set-similarity join by prefix filtering (the PPJoin/AllPairs
family, Chaudhuri-Ganti-Kaushik ICDE'06 / Xiao et al. WWW'08).

The LSH family (operators/dedup.py) answers similarity joins
APPROXIMATELY; this operator is the EXACT counterpart: every document
pair with token-set Jaccard >= t, no false negatives, no all-pairs
scan.  The filter that makes it scale: order each document's tokens by
ascending global document frequency (rarest first, unique tie-break on
the token), and emit only the first ``|set| - ceil(t*|set|) + 1``
tokens as join keys — two sets with Jaccard >= t MUST share a prefix
token (pigeonhole on the overlap bound), and prefixes are dominated by
RARE tokens, so the candidate join fans out far less than a full
token-postings join.  Candidates are then verified with one exact
intersection count; for rational thresholds the accept test is pure
integer arithmetic (``inter * q >= union * p`` for t = p/q).

Scale shape: one df aggregate (vocabulary-sized), per-document rank
windows (keyed by doc), a prefix-token equi-join whose per-key fan-out
the frequency ordering minimizes, and one keyed verification join.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import alnum_words


def _token_frame(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``doc_id, _tk`` with the token ARRAY bound to a column.  The
    gram transform below slices the token array inside a lambda;
    interpreted HOFs skip common-subexpression elimination, so the
    array must be a bound column — referencing the split EXPRESSION
    inside the lambda re-tokenizes the document once per gram
    (measured 8x slower at sf0.1)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        alnum_words(F.col(text_col)).alias("_tk"),
    )


def _grams_of(col: str, k: int) -> "F.Column":
    """Array of space-joined k-token grams over the bound token-array
    column ``col``, in reading order (index i = 0-based first-token
    position)."""
    toks = F.col(col)
    size = F.size(toks)
    return F.transform(
        F.slice(toks, 1, F.greatest(size - F.lit(k - 1), F.lit(0))),
        lambda x, i: F.array_join(F.slice(toks, i + 1, k), " "),
    )


def token_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct lowercase word tokens per document: ``doc_id, tok``."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(alnum_words(F.col(text_col))).alias("tok"),
    ).distinct()


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Distinct k-token shingles per document: ``doc_id, tok`` where
    ``tok`` is the space-joined k-gram.  Shingle document frequencies
    are low (unlike word tokens, whose stopword postings explode any
    token-equality join), so shingle sets are the right element domain
    for an exact similarity join at scale.

    r15 optimization (guide §2.4): grams are assembled in array-land
    (transform over the token array) and deduped per document with
    ``array_distinct`` BEFORE the explode — the old shape paid a
    per-document window (lead) shuffle to build grams and a corpus-wide
    (doc, tok) distinct exchange to dedup them; this one is entirely
    map-side.  Identical output rows."""
    return _token_frame(docs, id_col, text_col).select(
        "doc_id",
        F.explode(F.array_distinct(_grams_of("_tk", k))).alias("tok"),
    )


def shingle_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Positioned k-token shingles per document: ``doc_id, pos, tok``
    (0-based token position of the gram's first token) — the
    position-aware companion to :func:`shingle_sets` for run/overlap
    diagnostics.

    r15 optimization: positions ARE the gram-array indices, so the
    whole frame is one posexplode over the array-land grams — the old
    per-document window (lead) shuffle is gone.  Identical output."""
    return _token_frame(docs, id_col, text_col).select(
        "doc_id",
        F.posexplode(_grams_of("_tk", k)).alias("pos", "tok"),
    )


def longest_common_runs(
    pairs: DataFrame,
    positions: DataFrame,
    k: int = 3,
) -> DataFrame:
    """For each ``(doc_a, doc_b)`` pair: the longest contiguous run of
    shared k-gram shingles, by diagonal gaps-and-islands — matched
    position pairs with a constant offset ``pos_a - pos_b`` and
    consecutive ``pos_a`` form one island.  Returns ``doc_a, doc_b,
    longest_gram_run, common_tokens`` (a run of r consecutive shared
    k-grams spans r + k - 1 shared tokens).

    Scale: the gram-equality join fans out by shared-gram multiplicity
    only for the CANDIDATE pairs (the input pair set is already
    similarity-filtered), and every window is partitioned by
    (pair, diagonal).

    Eager: the positions input feeds both join sides, so it is
    materialized at call time (the similarity_join posture) —
    left lazy, the upstream tokenize ran twice."""
    from pyspark.sql import Window as PW

    positions = materialize(positions)
    pa = positions.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("_pa"),
        "tok",
    )
    pb = positions.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("_pb"),
        "tok",
    )
    matched = (
        pairs.select("doc_a", "doc_b")
        .join(pa, "doc_a")
        .join(pb, ["doc_b", "tok"])
        .select("doc_a", "doc_b", "_pa", "_pb")
        .distinct()
    )
    diag = matched.withColumn("_diag", F.col("_pa") - F.col("_pb"))
    w = PW.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    islands = diag.withColumn(
        "_island", F.col("_pa") - F.row_number().over(w)
    )
    runs = islands.groupBy("doc_a", "doc_b", "_diag", "_island").agg(
        F.count("*").alias("_run")
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("_run").cast("long").alias("longest_gram_run"),
        (F.max("_run") + (k - 1)).cast("long").alias("common_tokens"),
    )


def weighted_jaccard_scores(
    pairs: DataFrame,
    sets: DataFrame,
    weight_col: str = "w",
) -> DataFrame:
    """Weighted-Jaccard scoring of CANDIDATE pairs: for each
    ``(doc_a, doc_b)``, ``w_inter = sum over shared elements of
    min(w_a, w_b)`` and ``w_union = W_a + W_b - w_inter`` — the
    integer-weighted generalization of set Jaccard (rarity-weighted
    similarity, where a shared rare shingle counts more than a shared
    common one).  ``sets`` carries ``doc_id, tok, w`` with integer
    weights; with per-document-constant weights this reduces to plain
    Jaccard scaled by the weight.  Output is all-integer:
    ``doc_a, doc_b, w_inter, w_union``.

    Scoring-only by design: the candidate set comes from a lossless
    generator (prefix filter, LSH + verify) — this operator never
    generates pairs itself.

    Eager: the weighted-set input feeds three downstream frames
    (totals and both scoring sides), so it is materialized at call
    time (the similarity_join posture)."""
    sets = materialize(sets)
    totals = sets.groupBy("doc_id").agg(
        F.sum(weight_col).cast("long").alias("_W")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col(weight_col).alias("_wa")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col(weight_col).alias("_wb")
    )
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.least(F.col("_wa"), F.col("_wb")))
            .cast("long")
            .alias("w_inter")
        )
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("_W").alias("_Wa"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("_W").alias("_Wb"))
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "w_inter",
            (F.col("_Wa") + F.col("_Wb") - F.col("w_inter")).alias("w_union"),
        )
    )


def similarity_join(
    sets: DataFrame,
    threshold: Fraction = Fraction(1, 2),
) -> DataFrame:
    """All pairs ``doc_a < doc_b`` with ``|A ∩ B| / |A ∪ B| >=
    threshold``, found via prefix filtering and verified exactly.
    Returns ``doc_a, doc_b, inter_size, union_size`` (the similarity as
    an exact integer ratio — no float in the output).

    ``threshold`` must be a Fraction so the verification stays integer:
    accept iff ``inter * q >= (sa + sb - inter) * p`` for t = p/q.

    Eager: the element-set input is materialized at call time —
    it feeds FIVE downstream frames (document frequencies, sizes, the
    ranked prefix, and both verification sides), and left lazy the
    compiled plan re-derived the upstream tokenize per reference (the
    q256/q250 lesson; profiled at 9.1s -> 4.4s for the q195 path at
    sf0.1).  The prefix frame (both candidate-join sides) is
    materialized for the same reason.  Never a bare persist() — the
    dbscan cache-manager lesson.
    """
    p, q = threshold.numerator, threshold.denominator
    sets = materialize(sets)
    df_tok = sets.groupBy("tok").agg(F.count("*").alias("_df"))
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("_sz"))
    ranked = (
        sets.join(df_tok, "tok")
        .withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("_df", "tok")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length L = sz - ceil(t*sz) + 1; ceil(p*sz/q) = (p*sz+q-1) DIV q
    prefix = (
        ranked.where(
            F.col("_rk")
            <= F.col("_sz") - F.expr(f"({p} * _sz + {q - 1}) DIV {q}") + 1
        )
        .select("doc_id", "tok", "_sz", "_rk")
        .transform(materialize)
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t*|A| <= |B| <= |A|/t (A the smaller side)
            & (F.col("b._sz") * q >= F.col("a._sz") * p)
            & (F.col("a._sz") * q >= F.col("b._sz") * p)
            # positional filter (PPJoin, Xiao et al. WWW'08 §3.2): a pair
            # needs overlap alpha = ceil(p*(sa+sb)/(p+q)); a match at
            # prefix ranks (i, j) caps the overlap at 1 + min(sa-i, sb-j)
            # (both sets are ranked in the SAME global token order), so a
            # generated row whose cap is under alpha cannot be the pair's
            # FIRST shared token and the pair, if similar, still surfaces
            # through that earlier match — lossless, integer-only, and it
            # prunes the verification fan-out before the distinct
            # (measured at sf0.1: 310k -> 125k candidates, q195 wall
            # 6.5 -> 5.0 s)
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a._sz") - F.col("a._rk"),
                        F.col("b._sz") - F.col("b._rk"),
                    )
                )
                * (p + q)
                >= (F.col("a._sz") + F.col("b._sz")) * p
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("tok"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("tok"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_size"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("_sz").alias("_sa"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("_sz").alias("_sb"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn(
            "union_size", F.col("_sa") + F.col("_sb") - F.col("inter_size")
        )
        .where(F.col("inter_size") * q >= F.col("union_size") * p)
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )
