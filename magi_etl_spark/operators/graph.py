"""Link-analysis over edge DataFrames: PageRank with dangling-mass
redistribution.

Web-scale corpus pipelines rank source quality by link structure
(PageRank / harmonic-centrality filters over the crawl graph) before
text filters ever run; the reference has no graph surface, so this is
a scale extension in the same family as ``operators/components.py``.

Execution shape per iteration — the only shape that survives 100 TB:

- out-degrees are computed ONCE and cached with the edge list;
- one shuffle join (ranks → edges on src) + one aggregation (sum of
  contributions by dst) per iteration;
- dangling-node mass (vertices with no out-edges) is aggregated to a
  1-row frame and CROSS-JOINED back lazily (broadcast) — without it
  the ranks leak mass and drift from the true distribution.  r4 shipped
  this as a per-iteration ``.first()``, i.e. one extra driver job and
  one extra pass over ``ranks`` per round; folding it into the lazy
  plan (r4 VERDICT item 5) leaves exactly ONE job per iteration — the
  eager checkpoint;
- ``localCheckpoint`` each round truncates the otherwise exponentially
  growing lineage (the components operator learned this the hard way).

Driver work per round: zero.  Everything is keyed shuffles plus one
broadcast scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
    reset_vertices: DataFrame | None = None,
) -> DataFrame:
    """``(vertex, rank)`` for every vertex in ``edges`` after
    ``iterations`` rounds of power iteration; ranks sum to 1.  Parallel
    edges count as parallel links (weight by multiplicity), matching
    the classic formulation.

    With ``reset_vertices`` (a 1-column frame of vertex ids) the walk
    is PERSONALIZED: teleports and dangling mass return uniformly to
    the seed set instead of all vertices (rank init is the reset
    distribution), so ranks measure proximity to the seeds — the
    related-items / trust-propagation form.  Same per-iteration shape:
    one shuffle join + one aggregation, dangling mass as a broadcast
    1-row aggregate, eager localCheckpoint truncating lineage."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    # r15 optimization (guide §2.4, §5): the edge frame feeds the vertex
    # union, the degree aggregate AND the links join — and the degree
    # aggregate is referenced by the dangling anti-join EVERY iteration,
    # so left lazy the caller's edge derivation (q116's orders x
    # lineitem join) recompiled once per round.  Materialize the edges
    # once, and the degree frame (vertex-scale) once, so no per-round
    # reference ever touches the corpus again.
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    vertices = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .transform(materialize, eager=False)
    )
    n = vertices.count()
    if reset_vertices is None:
        reset = vertices.select("v", F.lit(1.0 / n).alias("_rp"))
    else:
        seed_col = reset_vertices.columns[0]
        seeds = reset_vertices.select(F.col(seed_col).alias("v")).distinct()
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("reset_vertices is empty")
        reset = vertices.join(
            seeds.withColumn("_s", F.lit(1)), "v", "left"
        ).select(
            "v",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("_rp"),
        )
    # NOTE (measured, r15): pre-partitioning links/reset by their join
    # keys before caching (guide §2.4) was tried and reverted — pinning
    # the cached partition count defeats AQE's partition coalescing and
    # ran ~15% slower at sf0.1, where the per-iteration ranks frame is
    # tiny.  On a real cluster with edge-scale links, cache the links
    # frame hash-partitioned by src so the loop-invariant side never
    # re-exchanges.
    reset = materialize(reset, eager=False)
    out_deg = materialize(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    links = materialize(e.join(out_deg, "src"), eager=False)
    ranks = reset.select("v", F.col("_rp").alias("rank"))
    for _ in range(iterations):
        contribs = (
            links.join(ranks.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        # dangling vertices (no out-edges) spread their rank over the
        # reset distribution; the mass rides the plan as a broadcast
        # 1-row aggregate instead of a collected scalar, so each
        # iteration is exactly one job
        dangling = (
            ranks.join(out_deg.withColumnRenamed("src", "v"), "v", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass"))
        )
        ranks = (
            reset.join(contribs, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                (
                    F.lit(1.0 - damping) * F.col("_rp")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("_dmass") * F.col("_rp")
                    )
                ).alias("rank"),
            )
            .transform(materialize)
        )
    return ranks.select(F.col("v").alias("vertex"), "rank")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over an UNDIRECTED simple graph
    (edges in either orientation; self-loops dropped; duplicates
    collapsed): ``node, degree, n_triangles, clustering`` where
    ``clustering = 2 * n_triangles / (degree * (degree - 1))`` (rounded
    to 4; 0.0 for degree-1 nodes), restricted to nodes with >= 1
    triangle.

    Scale shape — the degree-ordered orientation (Cohen 2009 /
    Schank-Wagner "forward"): every undirected edge is oriented from
    the lower-(degree, id) endpoint to the higher one, so every
    vertex's OUT-degree is O(sqrt(m)) regardless of how skewed the raw
    degree distribution is; wedge enumeration (the self-join of the
    oriented adjacency on its source) is then sum(out_deg^2) <=
    m * sqrt(m) instead of the sum(deg^2) blow-up a hub vertex causes
    in the naive join.  Each triangle is discovered exactly once (its
    lowest-ordered corner), then credited to all three corners with an
    explode — one extra narrow shuffle, no double counting.
    """
    # fan-out barriers (the r15 scan-audit fix): left lazy, ``und`` is
    # referenced by deg (2x), the orientation join and the closure join,
    # and ``oriented`` by both wedge sides — the compiled plan re-derived
    # the whole upstream edge subtree 13x (26 corpus scans on q147's
    # co-purchase graph).  Each frame is bounded (edges / nodes) and is
    # materialized ONCE via the chkpt barrier.
    und = materialize(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .filter(F.col("_u") != F.col("_v"))
        .select(
            F.least("_u", "_v").alias("_a"), F.greatest("_u", "_v").alias("_b")
        )
        .distinct()
    )
    deg = materialize(
        und.select(F.col("_a").alias("node"))
        .unionAll(und.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    # orient by (degree, node): lower endpoint -> higher endpoint
    keyed = (
        und.join(deg.select(F.col("node").alias("_a"), F.col("degree").alias("_da")), "_a")
        .join(deg.select(F.col("node").alias("_b"), F.col("degree").alias("_db")), "_b")
    )
    fwd = F.struct("_da", "_a") < F.struct("_db", "_b")
    oriented = materialize(
        keyed.select(
            F.when(fwd, F.col("_a")).otherwise(F.col("_b")).alias("lo"),
            F.when(fwd, F.col("_b")).otherwise(F.col("_a")).alias("hi"),
        )
    )
    # wedges at the lowest-ordered corner; the y < z filter puts the
    # closing edge in canonical (_a < _b) id order, so the closure join
    # probes the undirected edge set directly — no doubled build side
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    w2 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z"))
    closed = wedges.join(
        und.select(F.col("_a").alias("y"), F.col("_b").alias("z")),
        ["y", "z"],
    )
    per_node = (
        closed.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_node.join(deg, "node").select(
        "node",
        "degree",
        "n_triangles",
        F.round(
            2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
            4,
        ).alias("clustering"),
    )
