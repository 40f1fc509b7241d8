"""Synchronous label propagation (LPA, Raghavan et al. 2007) —
community detection by iterated neighbor-majority voting, the cheap
complement to exact connected components (``operators/components.py``:
reachability equivalence classes) and k-core (``operators/kcore.py``:
density filtering).  LPA finds DENSELY-linked groups in a bounded number
of rounds, which is what domain/author clustering over a web-scale
corpus graph actually runs.

Determinism (vanilla LPA is notoriously order-dependent): updates are
fully synchronous (every round reads only the previous round's labels),
the initial label is the vertex id, and the majority vote breaks ties
to the SMALLEST label — so a SQL oracle replays every round exactly.

Scale shape: one keyed shuffle join + ONE aggregate keyed on the
vertex id per round over the (undirected) edge list; the first round
needs no join, since its labels are the vertex ids.  The vote is
Spark's deterministic ``mode(label, true)``, which returns the smallest
of equally frequent labels, so no ``(id, label)`` count aggregate (and
its exchange) precedes it.  Labels pass a ``chkpt.materialize``
barrier each round so lineage stays flat (the operators/graph.py
discipline).  No step is ever quadratic in vertices; rounds are a
fixed small constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def undirect(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Symmetrized, deduplicated, self-loop-free edge list."""
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rev = edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    return fwd.union(rev).where(F.col("src") != F.col("dst")).distinct()


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``id, label`` after ``n_rounds`` of synchronous neighbor-majority
    label propagation with smallest-label tie-breaks.  Vertices are the
    edge endpoints; every vertex has at least one neighbor by
    construction, so the majority vote is total."""
    und = undirect(edges, src_col, dst_col).transform(materialize)
    labels = und.select(
        F.col("src").alias("id"), F.col("src").alias("label")
    ).distinct()
    for i in range(n_rounds):
        # every vertex starts labelled with its own id, so the first
        # round's neighbor labels are the neighbor ids: no join
        nbr = (
            und.join(labels.withColumnRenamed("id", "dst"), "dst")
            if i
            else und.withColumn("label", F.col("dst"))
        ).select(F.col("src").alias("id"), "label")
        # deterministic mode: the most frequent label, ties to the
        # smallest — the whole vote is one aggregate keyed on id
        labels = nbr.groupBy("id").agg(
            F.mode("label", True).alias("label")
        ).transform(materialize)
    return labels


def community_sizes(labels: DataFrame) -> DataFrame:
    """``label, n_members`` rollup of a propagation result."""
    return labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
