"""Document chunking: overlapping fixed-size token windows — the
sequence-packing primitive for LLM training corpora (long documents
become training-sized samples with ``chunk - stride`` token overlap).

Pure array expressions: sequence for the start grid, slice per window,
explode — one generate stage, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.text import tokens


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
    min_chunk_tokens: int = 16,
) -> DataFrame:
    """One row per (document, window): 1-indexed start grid stepping by
    ``stride``; the final window may be short and is kept only at
    ``min_chunk_tokens`` or more."""
    toks_df = df.select(  # HOFs: tokenize once, slice many
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).where(F.size("toks") > 0).transform(materialize, eager=False)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
    exploded = toks_df.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    piece = F.slice(F.col("toks"), F.col("start"), chunk_tokens)
    return (
        exploded.select(
            "doc_id",
            "chunk_idx",
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).alias("n_chunk_tokens"),
        )
        .where(F.col("n_chunk_tokens") >= min_chunk_tokens)
    )
