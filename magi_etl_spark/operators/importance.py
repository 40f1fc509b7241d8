"""Data-selection scoring: DSIR-style importance weights and n-gram
novelty.

``dsir_scores`` implements the hashed n-gram importance-resampling
estimator (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): features are words hashed into ``n_buckets``
buckets, a target corpus and the raw corpus each induce a smoothed
bucket distribution, and a document's score is the mean log-likelihood
ratio of its tokens — high scores mean "looks like the target domain".
Selection is then a threshold or weighted sample over the scores.

Scale shape: two bucket histograms (map-side-combined aggregates over
exploded tokens; the bucket table is ``n_buckets`` rows — broadcast by
construction), the token stream joined to the 256-row ratio table on
the bucket key, one per-document mean.  Nothing collected; the hash is
md5-prefix arithmetic so a SQL oracle reproduces it digit by digit.

``ngram_novelty`` scores how much of a document is corpus-unique: the
fraction of its distinct n-grams appearing in no other document — the
complement of the boilerplate signal (q120's top n-grams), useful as a
diversity objective during selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import words

_HEX = "0123456789abcdef"


def _ngrams_of(col: str, n: int) -> Column:
    """Array of space-joined n-token grams over the BOUND token-array
    column ``col`` (index i = 0-based first-token position).  Callers
    must bind the token array to a column first: interpreted HOFs skip
    common-subexpression elimination, so referencing the tokenize
    expression inside the lambda re-splits the text once per gram."""
    toks = F.col(col)
    size = F.size(toks)
    return F.transform(
        F.slice(toks, 1, F.greatest(size - F.lit(n - 1), F.lit(0))),
        lambda x, i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def _bucket(col: Column, n_buckets: int = 256) -> Column:
    """Hash a string into [0, n_buckets): the first two md5 hex digits
    read positionally (engine-portable — no hex-cast differences),
    modulo ``n_buckets``."""
    h = F.md5(col)
    d1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return (d1 * 16 + d2) % n_buckets


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    smoothing: float = 0.5,
) -> DataFrame:
    """``(id_col, n_tokens, dsir_score)`` for every document of ``raw``
    with at least one token: the mean over tokens of
    ``ln(p_target(bucket) / p_raw(bucket))`` under add-``smoothing``
    bucket distributions.  Positive = target-like."""
    def hist(df: DataFrame, name: str) -> DataFrame:
        toks = df.select(
            F.explode(words(F.col(text_col))).alias("tok")
        ).select(_bucket(F.col("tok"), n_buckets).alias("bucket"))
        return toks.groupBy("bucket").agg(F.count(F.lit(1)).alias(name))

    t = hist(target, "c_t")
    r = hist(raw, "c_r")
    # outer join over the bucket domain: absent buckets get count 0
    spark = raw.sparkSession
    domain = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    # r15 (guide §1.4/§5): the n_buckets-row ratio table feeds BOTH the
    # total aggregate and the per-bucket weight projection — left lazy
    # each reference compiled its own copy of the two corpus histogram
    # passes (5 live corpus scans in the audit).  One barrier on this
    # tiny frame runs each histogram once.
    ratio = materialize(
        domain.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("c_t"), F.lit(0)).alias("c_t"),
            F.coalesce(F.col("c_r"), F.lit(0)).alias("c_r"),
        )
    )
    tot = ratio.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r")
    )
    w = ratio.join(F.broadcast(tot)).select(
        "bucket",
        (
            F.log(
                (F.col("c_t") + F.lit(smoothing))
                / (F.col("n_t") + F.lit(smoothing) * F.lit(float(n_buckets)))
            )
            - F.log(
                (F.col("c_r") + F.lit(smoothing))
                / (F.col("n_r") + F.lit(smoothing) * F.lit(float(n_buckets)))
            )
        ).alias("w"),
    )
    stream = raw.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    ).select(id_col, _bucket(F.col("tok"), n_buckets).alias("bucket"))
    return (
        stream.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("w").alias("dsir_score"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_distinct_grams, novel_frac)``: the fraction of the
    document's DISTINCT word n-grams that appear in no other document
    (document frequency 1).  Documents with fewer than ``n`` tokens
    are dropped.  Shape: one (doc, gram)-distinct frame feeds both the
    gram document-frequency aggregate and the per-doc rollup — a keyed
    self-agg, no pair joins."""
    # r15 optimization (guide §2.3/§2.4): the per-document DISTINCT gram
    # set is computed in array-land (``array_distinct``) and materialized
    # ONCE at doc grain — the old shape exploded the corpus to gram rows
    # and paid a full (doc, gram) distinct exchange, then re-derived the
    # tokenize for the second reference.  Exploding the deduped arrays
    # feeds the document-frequency aggregate map-side-combined, and only
    # the SHARED grams (df > 1) come back: a gram that misses the join is
    # novel by definition, so ``novel = |set| - |set ∩ shared|`` — same
    # integers, same double division, identical output.  The token array
    # is BOUND TO A COLUMN before the gram transform: interpreted HOFs
    # skip CSE, so slicing the split EXPRESSION inside the lambda would
    # re-tokenize the document once per gram (measured 8x at sf0.1).
    garr = materialize(
        df.select(F.col(id_col), words(F.col(text_col)).alias("_tk"))
        .select(F.col(id_col), F.array_distinct(_ngrams_of("_tk", n)).alias("_g"))
        .where(F.size("_g") > 0)
    )
    dg = garr.select(F.col(id_col), F.explode("_g").alias("gram"))
    shared = (
        dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 1)
        .select("gram")
    )
    n_shared = dg.join(shared, "gram").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_ns")
    )
    return (
        garr.join(n_shared, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_g").cast("long").alias("n_distinct_grams"),
            (
                (F.size("_g") - F.coalesce(F.col("_ns"), F.lit(0)))
                / F.size("_g")
            ).alias("novel_frac"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span profile — the bounded, shingle-based
    variant of exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token position is *duplicated* when the ``n``-token shingle
    starting there occurs in more than one document, and consecutive
    duplicated positions form a span.  Output ``(id_col, n_shingles,
    n_dup, max_dup_run)`` — ``max_dup_run + n - 1`` bounds the longest
    copied token span, the quantity span-removal filters threshold on.

    Shape (r15 optimization, guide §2.3/§2.4): the shingle array is
    built in array-land and materialized ONCE at doc grain; the
    document-frequency aggregate consumes the per-doc DISTINCT shingle
    arrays (map-side combined — no (doc, shingle) distinct exchange),
    only the SHARED shingles (df > 1) come back (a position whose
    shingle misses the join is not duplicated, so the build side is the
    small copied-shingle set), and the gaps-and-islands max-run folds
    over the per-doc sorted duplicated-position array — no window, no
    token-grain shuffles.  All-integer output, identical to the old
    window form."""
    # token array bound to a column first — see ngram_novelty's note on
    # interpreted HOFs skipping CSE
    sarr = materialize(
        df.select(F.col(id_col), words(F.col(text_col)).alias("_tk"))
        .select(F.col(id_col), _ngrams_of("_tk", n).alias("_s"))
        .where(F.size("_s") > 0)
    )
    # distinct docs per shingle; a shingle repeated WITHIN one document
    # does not make that document a copy of another — array_distinct
    # collapses the within-doc repeats before the explode.
    shared = (
        sarr.select(F.col(id_col), F.explode(F.array_distinct("_s")).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 1)
        .select("shingle")
    )
    pos = sarr.select(
        F.col(id_col), F.posexplode("_s").alias("k", "shingle")
    )
    dup_pos = (
        pos.join(shared, "shingle")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("k")).alias("_ks"))
    )
    # longest run of consecutive duplicated positions, folded in
    # array-land over the sorted distinct positions (same value the
    # per-doc gaps-and-islands window produced)
    max_run = F.aggregate(
        F.slice(F.col("_ks"), 2, F.greatest(F.size("_ks") - 1, F.lit(0))),
        F.struct(
            F.element_at(F.col("_ks"), 1).alias("p"),
            F.lit(1).alias("r"),
            F.lit(1).alias("b"),
        ),
        lambda s, k: F.struct(
            k.alias("p"),
            F.when(k == s["p"] + 1, s["r"] + 1).otherwise(F.lit(1)).alias("r"),
            F.greatest(
                s["b"],
                F.when(k == s["p"] + 1, s["r"] + 1).otherwise(F.lit(1)),
            ).alias("b"),
        ),
        lambda s: s["b"],
    )
    return sarr.join(dup_pos, id_col, "left").select(
        F.col(id_col),
        F.size("_s").cast("long").alias("n_shingles"),
        F.coalesce(F.size("_ks"), F.lit(0)).cast("long").alias("n_dup"),
        F.when(F.col("_ks").isNull(), F.lit(0))
        .otherwise(max_run)
        .cast("long")
        .alias("max_dup_run"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The TRANSFORM complement of ``duplicated_spans`` — Lee et al.'s
    span removal at shingle granularity: every token covered by a
    cross-document-duplicated ``n``-token shingle is dropped, and the
    survivors are reassembled in reading order.  Output ``(id_col,
    n_tokens, n_kept, cleaned_text)`` for every document with at least
    one token; fully-copied documents come back with ``n_kept = 0``
    and an empty string (removal, not deletion — dropping them is the
    caller's thresholding decision).

    Shape (r15 optimization, guide §2.3/§2.4): ONE materialized token
    frame at doc grain; the shingle document-frequency aggregate
    consumes per-doc DISTINCT shingle arrays (map-side combined — no
    (doc, shingle) distinct exchange); duplicated positions come back
    per doc as one sorted array, expand to covered token indices in
    array-land, and the kept positions are ``array_except`` over the
    full position range — so re-assembly is a per-row array transform,
    not a token-grain anti-join plus ordered re-aggregation.  The old
    shape exploded the corpus to token rows twice and shuffled them
    through an anti-join and a collect_list sort; identical output."""
    toks = words(F.col(text_col))
    tokf = materialize(
        df.select(F.col(id_col), toks.alias("_tk")).where(F.size("_tk") > 0)
    )
    size = F.size("_tk")
    shingles = F.transform(
        F.slice(F.col("_tk"), 1, F.greatest(size - F.lit(n - 1), F.lit(0))),
        lambda x, i: F.array_join(F.slice(F.col("_tk"), i + 1, n), " "),
    )
    sarr = tokf.select(F.col(id_col), shingles.alias("_s"))
    shared = (
        sarr.select(F.col(id_col), F.explode(F.array_distinct("_s")).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 1)
        .select("shingle")
    )
    pos = sarr.select(
        F.col(id_col), F.posexplode("_s").alias("k", "shingle")
    )
    dup_pos = (
        pos.join(shared, "shingle")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("k")).alias("_ks"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("_ks"),
                lambda k: F.sequence(k, k + F.lit(n - 1)),
            )
        )
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("_tk") - 1),
        F.coalesce(covered, F.array().cast("array<int>")),
    )
    return tokf.join(dup_pos, id_col, "left").select(
        F.col(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.size(kept_pos).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at(F.col("_tk"), p + 1)),
            " ",
        ).alias("cleaned_text"),
    )
