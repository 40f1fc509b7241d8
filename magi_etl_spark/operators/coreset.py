"""Greedy k-center coreset selection (farthest-point traversal) over an
embedding corpus — the classic diversity-maximizing subset selector for
training-data curation (pick k exemplars such that every corpus point is
close to some exemplar; Gonzalez'85 gives the 2-approximation).

Where ``similarity._farthest_point_select`` runs the same greedy rule
over an already-collected candidate list (codebook init, bounded k·|cand|
driver work), this operator runs it over the FULL DISTRIBUTED corpus:

Scale shape: exactly ``k`` rounds; each round broadcasts the (≤ k)
chosen centers as literal arrays and issues ONE aggregate — the argmax
of every point's distance to its nearest chosen center (``max_by`` over
a ``least(...)`` of per-center squared distances).  No pairwise
materialization, no per-round shuffle growth, no lineage growth (the
corpus frame is scanned fresh each round); at 100 TB this is k
map-reduce passes, each embarrassingly parallel.

Determinism: floats are cast to double BEFORE multiplication (the
``functions/vectors.py`` discipline, proven green across the q27/q44/PQ
driver rows); per-element products and the left-to-right fold are then
bit-identical in any IEEE-double engine, and ties on exact distance
break to the smallest id on both sides.

Scope note: the reference app has no diversity-selection surface —
this operator belongs to the training-data-pipeline extension family
(dedup/similarity/mixing/curation) the engine adds beyond reference
parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.vectors import as_double


def _sqdist_to(vec_col: F.Column, center: list[float]) -> F.Column:
    lit = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[dict]:
    """Greedy k-center: start from the smallest ``id_col``, then take
    ``k - 1`` farthest-point rounds.  Returns the selection trace as a
    list of ``{rank, id, sq_dist}`` dicts, where ``sq_dist`` is the
    selected point's squared distance to the previously chosen set
    (0.0 for the seed) — a k-row result by construction, so the
    driver-side list is the bounded-collect idiom, not a corpus
    collect."""
    # one barrier for the k rounds (r15, guide §5): every round scans
    # the same (id, vector) projection; left lazy each round re-read
    # the source — a k-fold scan bill at any scale
    corpus = df.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    ).transform(materialize, eager=False)
    seed = corpus.orderBy("_id").limit(1).collect()[0]
    chosen = [{"rank": 1, "id": seed["_id"], "sq_dist": 0.0}]
    centers = [list(seed["_v"])]
    for r in range(2, k + 1):
        mind = F.least(*[_sqdist_to(F.col("_v"), c) for c in centers]) \
            if len(centers) > 1 else _sqdist_to(F.col("_v"), centers[0])
        # one aggregate per round; max_by carries the winning vector so
        # no second pass is needed to fetch the new center
        far = (
            corpus.select("_id", "_v", mind.alias("_d"))
            .select(
                F.max_by(
                    F.struct("_id", "_d", "_v"),
                    F.struct(F.col("_d"), -F.col("_id")),
                ).alias("_m")
            )
            .collect()[0]["_m"]
        )
        if far["_d"] <= 0.0:
            # every remaining point coincides exactly with a chosen
            # center: further rounds would only re-select duplicates,
            # adding zero coverage — stop with a shorter trace (the
            # gate query's corpus always has >= k distinct vectors, so
            # its 8-round oracle never sees this branch)
            break
        chosen.append({"rank": r, "id": far["_id"], "sq_dist": far["_d"]})
        centers.append(list(far["_v"]))
    return chosen


def kcenter_trace(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The selection trace as a k-row DataFrame:
    ``sel_rank, vec_id, sq_dist``.  Distances are emitted raw (not
    pre-rounded): both engines compute the identical double expression,
    and the compare grid rounds both sides the same way — pre-rounding
    with Python's banker's rounding would DIVERGE from the oracle's
    half-away ROUND at grid boundaries."""
    spark = df.sparkSession
    rows = [
        (c["rank"], c["id"], float(c["sq_dist"]))
        for c in kcenter_select(df, k, id_col, vec_col)
    ]
    return spark.createDataFrame(
        rows, "sel_rank int, vec_id long, sq_dist double"
    )
