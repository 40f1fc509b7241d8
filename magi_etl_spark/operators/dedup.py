"""Deduplication operators for large-scale document pipelines.

Exact (hash group-by), n-gram Jaccard, and MinHash+LSH near-dup detection,
all as shuffles over built-in DataFrame ops.  Scale notes per operator —
the shapes here are the ones that survive 100 TB:

- exact: one hash-partitioned group-by, map-side combined.
- jaccard: explode to (doc, shingle) then a shingle-keyed self-join.  The
  join blows up on stop-shingles, so ``max_doc_freq`` drops shingles that
  appear in too many documents *before* the join (standard frequent-token
  pruning; at web scale this is the difference between feasible and not).
- MinHash+LSH: constant-size signature per doc, then a band-keyed
  equi-join — candidate generation is linear in docs + pairs-in-bucket,
  never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import salted_min_hashes, tokens, word_shingles


def exact_duplicate_groups(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Groups of rows identical on ``keys``; keeps the min id as survivor
    (reference dedup-with-count ``groupby(cols).size()``,
    ``dash_app/dash_app.py:1558-1570``)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias(f"kept_{id_col}"))
        .where(F.col("n_copies") > 1)
    )


# shared with operators/similarity.py — one definition, one behavior
from magi_etl_spark.functions import fan_out as _fan_out  # noqa: E402


def dedup_keep_best(
    df: DataFrame,
    keys: list[str],
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Duplicate resolution keeping the highest-quality row per key group
    (the corpus-dedup policy: among duplicates, keep the best copy, not an
    arbitrary one).  Ties break on min id for determinism."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(F.desc(quality_col), F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingles array) projection; distinct shingle sets for Jaccard.

    The token array is materialized before shingling: higher-order functions
    run interpreted (CodegenFallback, no common-subexpression elimination),
    so an inlined ``tokens(text)`` would re-tokenize the document for every
    ``element_at`` inside the shingle lambda — measured O(shingles)
    blowup.  The barrier bounds it to one tokenization per document; at
    cluster scale this spills to local disk, which is still far cheaper.
    """
    toks = _fan_out(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select("doc_id", tokens(F.col(text_col)).alias("toks"))
    toks = materialize(toks, eager=False)
    sh = word_shingles(F.col("toks"), n)
    if distinct:
        sh = F.array_distinct(sh)
    return toks.select("doc_id", sh.alias("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | float | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Jaccard is computed from exact integer intersection/union counts, so
    the threshold comparison is engine-portable.  ``max_doc_freq`` prunes
    stop-shingles before the self-join and is the REQUIRED scale lever:
    the join's intermediate size is Σ_s df(s)², so popular shingles cost
    quadratically.  An ``int`` caps absolute document frequency; a
    ``float`` in (0, 1) caps it at that fraction of the corpus (portable
    across scale factors — prefer it).  Union sizes still use the FULL
    shingle sets, so pruning can only lower a pair's Jaccard — pairs that
    survive are true near-dups (no false positives added); pairs held
    together only by stop-shingles are dropped, which is the point.
    """
    sets = with_shingles(df, id_col, text_col, n).where(
        F.size("shingles") > 0
    ).transform(materialize, eager=False)
    sizes = sets.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_doc_freq is not None:
        dfreq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
        if isinstance(max_doc_freq, float) and max_doc_freq < 1.0:
            ndocs = ex.agg(F.countDistinct("doc_id").alias("_nd"))
            rare = (
                dfreq.crossJoin(F.broadcast(ndocs))
                .where(F.col("df") <= F.col("_nd") * F.lit(max_doc_freq))
                .select("shingle")
            )
        else:
            rare = dfreq.where(F.col("df") <= int(max_doc_freq)).select("shingle")
        ex = ex.join(rare, "shingle")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | float | None = None,
) -> DataFrame:
    """All ORDERED pairs with shingle-set containment
    ``|A ∩ B| / |A| >= threshold`` — the asymmetric near-SUPERSET
    detector Jaccard misses: a short document wholly quoted inside a
    long one has low Jaccard (the union is large) but containment ≈ 1
    from the quoted side.  Corpus dedup policies treat contained
    documents as duplicates of their superset (Lee et al. 2022 §4
    discusses exact-substring containment; this is the shingle-set
    relaxation).

    Output ``(doc_a, doc_b, n_common, n_a, containment)`` — directed:
    doc_a is the (near-)contained side, both directions are emitted
    when both clear the threshold.  Same postings-join scale shape and
    ``max_doc_freq`` stop-shingle pruning as
    :func:`ngram_jaccard_pairs` (pruning only lowers containment, so
    survivors are true positives); intersection counts stay exact
    integers, so the threshold cut is engine-portable."""
    sets = with_shingles(df, id_col, text_col, n).where(
        F.size("shingles") > 0
    ).transform(materialize, eager=False)
    sizes = sets.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_doc_freq is not None:
        dfreq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
        if isinstance(max_doc_freq, float) and max_doc_freq < 1.0:
            ndocs = ex.agg(F.countDistinct("doc_id").alias("_nd"))
            rare = (
                dfreq.crossJoin(F.broadcast(ndocs))
                .where(F.col("df") <= F.col("_nd") * F.lit(max_doc_freq))
                .select("shingle")
            )
        else:
            rare = dfreq.where(F.col("df") <= int(max_doc_freq)).select("shingle")
        ex = ex.join(rare, "shingle")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cont = F.col("n_inter") / F.col("n_a")
    return (
        inter.join(sa, "doc_a")
        .where(cont >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.round(cont, 6).alias("containment"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 4,
) -> DataFrame:
    """Per-doc MinHash signature columns m0..m{k-1} (md5-based, portable).

    The shingle arrays are materialized before fanning out into k min-hash
    columns — otherwise Catalyst inlines the tokenize/shingle expression
    into every one of the k projections (k-fold recompute)."""
    sets = with_shingles(df, id_col, text_col, n).where(
        F.size("shingles") > 0
    ).transform(materialize, eager=False)
    return sets.select("doc_id", *salted_min_hashes(F.col("shingles"), n_hashes))


def lsh_candidate_pairs(
    signatures: DataFrame, band_cols: list[list[str]]
) -> DataFrame:
    """Banded LSH: docs agreeing on all hashes of any band become a
    candidate pair.

    All bands go through ONE self-join: each doc explodes to
    (band_index, band_key) rows and the join keys on both — buckets
    shuffle-join instead of an all-pairs product, and adding bands adds
    rows, not extra joins."""
    keys = F.array(
        *[F.concat_ws("|", *[F.col(c) for c in cols]) for cols in band_cols]
    )
    banded = signatures.select(
        "doc_id", F.posexplode(keys).alias("band_idx", "band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 4,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: signatures → banded candidates →
    exact Jaccard verification of candidates only."""
    # Materialize the tokenize->shingle->md5 work once: Catalyst inlines
    # projection aliases, so without the barrier the whole expression tree is
    # re-evaluated on EVERY side of every self-join (measured 4x cost).
    # Both intermediates are small: signatures are 4 hashes/doc, shingle
    # sets are the tokenized docs.
    sets = with_shingles(df, id_col, text_col, n).where(
        F.size("shingles") > 0
    ).transform(materialize, eager=False)
    sigs = sets.select(
        "doc_id", *salted_min_hashes(F.col("shingles"), n_hashes)
    ).transform(materialize, eager=False)
    bands = [
        [f"m{j}" for j in range(i, min(i + band_size, n_hashes))]
        for i in range(0, n_hashes, band_size)
    ]
    cands = lsh_candidate_pairs(sigs, bands)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
