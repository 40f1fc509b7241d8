"""k-core decomposition by iterative peeling.

Completes the graph family (connected components, PageRank,
personalized PageRank, triangle counting): the k-core is the maximal
subgraph where every vertex keeps degree >= k — the standard "dense
cohesive community" extraction, and (via peeling order) the basis of
degeneracy ordering.

Algorithm: repeatedly drop vertices with current degree < k and the
edges touching them, until a fixed point (or the iteration cap — the
cap keeps driver-side planning bounded and lets a SQL oracle unroll the
same number of steps; convergence is reported so callers can see
whether the cap bound).  Each round is exactly one keyed degree
aggregate + one semi-join edge filter behind a ``chkpt`` barrier
truncating lineage (the PageRank idiom); the barrier is lazy and the
round's convergence count fills it, so no separate barrier job runs.
Per-round cost is linear in surviving edges; the Python loop keeps
only a counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct undirected co-occurrence edges (``a < b``): items are
    adjacent when they share a group.  ONE keyed shuffle (the per-group
    ``collect_set``) followed by a map-side combination explode — no
    self-join, so the C(s, 2) per-group pair fan-out never rides an
    exchange.  Per-group item counts must be bounded (the usual
    basket/order contract); a group with s items emits C(s, 2) rows
    from one task."""
    sets = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "_items",
                    lambda x, i: F.transform(
                        F.slice(
                            "_items",
                            i + F.lit(2),
                            F.greatest(
                                F.size("_items") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    ),
                )
            )
        ).alias("_e")
    )
    return pairs.select(F.col("_e.a"), F.col("_e.b")).distinct()


def undirected_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonicalize to distinct undirected edges src < dst."""
    e = pairs.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    )
    return e.where(F.col("a") != F.col("b")).distinct()


def peel_round(
    e: DataFrame, k: int, broadcast_vertices: bool = True
) -> DataFrame:
    """One peeling round: drop edges touching any vertex of current
    degree < k.  Exposed so tests can assert the round's PLAN (the
    eager checkpoints inside :func:`k_core` truncate lineage, hiding
    the round shape from the final frame)."""
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    keep = deg.where(F.col("deg") >= k).select("v")
    if broadcast_vertices:
        # the keep-list is VERTEX-sized (dimension scale, not edge
        # scale) — broadcasting it turns both survivor filters into
        # map-side semi joins, so each peel round shuffles only the
        # degree aggregate.  For billion-vertex graphs pass False and
        # take the keyed semi-join shuffles instead.
        keep = F.broadcast(keep)
    return e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi").join(
        keep.withColumnRenamed("v", "b"), "b", "left_semi"
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_iters: int = 8,
    broadcast_vertices: bool = True,
) -> DataFrame:
    """Vertices of the k-core after at most ``max_iters`` peeling
    rounds: ``vertex, degree`` (degree within the surviving subgraph).

    ``edges`` must be canonical undirected (``a < b``, distinct — see
    :func:`undirected_edges`).  With ``max_iters`` rounds the result is
    exact whenever the peel converges earlier (typical for small k);
    the matching oracle unrolls the identical rounds, so the contract
    is deterministic either way.
    """
    # counted barriers: the lazy barrier is filled by the convergence
    # count's own job (chkpt.materialize docstring)
    e = materialize(edges, eager=False)
    n_prev = e.count()
    for _ in range(max_iters):
        if n_prev == 0:
            break
        e = materialize(peel_round(e, k, broadcast_vertices), eager=False)
        n_now = e.count()
        if n_now == n_prev:
            # fixed point: every remaining vertex already has deg >= k,
            # so further rounds are no-ops — identical to running the
            # full max_iters (the oracle's extra unrolled rounds pass
            # the frame through unchanged)
            break
        n_prev = n_now
    return (
        e.select(F.col("a").alias("vertex"))
        .unionAll(e.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("degree"))
        .where(F.col("degree") >= k)
    )


def kcore_oracle_sql(edges_cte: str, k: int, max_iters: int = 8) -> str:
    """The unrolled peeling oracle: ``edges_cte`` must define a CTE body
    producing canonical undirected edges ``(a, b)``.  Returns a full
    SELECT whose output matches :func:`k_core` (vertex, degree)."""
    parts = [f"e0 AS MATERIALIZED ({edges_cte})"]
    for i in range(max_iters):
        parts.append(
            f"""d{i} AS (
        SELECT v, COUNT(*) AS deg FROM (
            SELECT a AS v FROM e{i} UNION ALL SELECT b AS v FROM e{i}
        ) GROUP BY v
    )"""
        )
        parts.append(
            f"""e{i + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{i} e
        JOIN d{i} da ON da.v = e.a AND da.deg >= {k}
        JOIN d{i} db ON db.v = e.b AND db.deg >= {k}
    )"""
        )
    n = max_iters
    return f"""
    WITH {",".join(parts)}
    SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS v FROM e{n} UNION ALL SELECT b AS v FROM e{n}
    ) GROUP BY v HAVING COUNT(*) >= {k}
    """
