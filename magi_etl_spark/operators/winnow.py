"""Winnowing document fingerprints (the MOSS local fingerprinting
algorithm, Schleimer-Wilkerson-Aiken SIGMOD'03).

Where the MinHash family answers "are these documents similar as SETS",
winnowing answers "do these documents share contiguous RUNS of text" —
the plagiarism / exact-passage-reuse signal — while guaranteeing that
any shared run of at least ``w + k - 1`` tokens produces at least one
shared fingerprint (the winnowing coverage guarantee).

Algorithm, exactly as the paper's robust variant: hash every k-token
gram, slide a window of ``w`` consecutive gram hashes, and in each
window select the RIGHTMOST minimal hash.  The per-window selection is
expressed as one lexicographic ``min(struct(hash, -pos))`` window
aggregate — rightmost-minimal is precisely the argmin of ``(h, -pos)``
— so the whole operator is two per-document window functions plus a
distinct: no UDFs, no cross-document work, and a SQL oracle replays the
selection verbatim.

Scale: everything is partitioned by ``doc_id`` (per-document windows);
the pair join runs on fingerprint hash equality — banded by
construction, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from magi_etl_spark.functions.text import alnum_words, md5_u32


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    seed: str = "win",
) -> DataFrame:
    """Distinct winnowing fingerprints per document: ``doc_id, pos,
    fp_hash`` where ``pos`` is the selected gram's 0-based token
    position and ``fp_hash`` the 32-bit md5-derived gram hash."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            alnum_words(F.col(text_col))
        ).alias("pos", "tok"),
    )
    byw = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(byw) for i in range(1, k)]
    grams = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *leads).alias("gram"),
        F.lead("tok", k - 1).over(byw).isNotNull().alias("_full"),
    ).where("_full")
    hashed = grams.select(
        "doc_id",
        "pos",
        md5_u32(F.concat(F.lit(f"{seed}|"), F.col("gram"))).alias("h"),
        (-F.col("pos")).alias("_np"),
    )
    winf = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = hashed.select(
        "doc_id",
        F.min(F.struct("h", "_np")).over(winf).alias("_m"),
        F.count("*").over(winf).alias("_n"),
    ).where(F.col("_n") == w)
    return sel.select(
        "doc_id",
        (-F.col("_m._np")).alias("pos"),
        F.col("_m.h").alias("fp_hash"),
    ).distinct()


def fingerprint_pairs(
    fps: DataFrame,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` distinct
    fingerprint HASHES: ``doc_a < doc_b, shared_fps``.  The join key is
    the fingerprint hash itself — candidate generation is bucketed by
    construction (only documents with a common fingerprint ever meet)."""
    sets = fps.select("doc_id", "fp_hash").distinct()
    a = sets.alias("a")
    b = sets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
