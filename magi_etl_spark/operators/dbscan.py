"""Grid-blocked DBSCAN (Ester et al. 1996) — density-based clustering
in planar integer coordinates, built ENTIRELY by composing two
gate-verified operators: ``spatial.grid_blocked_eps_join`` supplies
the epsilon-neighborhood pairs (9-cell candidates, exact integer
metric, no all-pairs path) and ``components.connected_components``
supplies the cluster labels over the core-core graph.  The engine's
first composed-operator surface: no new join topology, no new metric —
just the classic algorithm expressed as a dataflow over existing
parts.

Definitions (exact, deterministic):

- core point: at least ``min_pts`` points within ``eps`` (the point
  itself included — the standard |N_eps(p)| >= minPts rule);
- cluster: a connected component of the core-core epsilon graph,
  labeled by its MINIMUM core id (connected_components' contract), so
  labels are reproducible across runs and engines;
- border point: a non-core point with at least one core neighbor —
  assigned the MINIMUM cluster label among its core neighbors (the
  deterministic resolution of DBSCAN's classic border ambiguity);
- noise: everything else (cluster NULL).

Scale shape: neighbor counts and core flags are keyed aggregations of
the grid-join's candidate stream (bounded by local density x corpus,
never corpus^2); the component loop runs over CORE-CORE edges only,
its iteration count bounded by cluster graph diameter; border
assignment is one keyed join + min-aggregate.  Cluster sizes are
density-bounded under a subcritical eps (the caller's knob) — the
caller owns eps/min_pts exactly as it owns LSH band counts.

Scope note: the reference app has no clustering surface beyond KMeans
(M6); DBSCAN adds the density family, and its oracle replays the
definition naively (all-pairs counts + recursive-CTE reachability) so
the blocked path is checked against an independent formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def grid_dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    max_iterations: int = 20,
) -> DataFrame:
    """``id, role, cluster`` for every input point: ``role`` in
    ('core', 'border', 'noise'); ``cluster`` is the minimum core id of
    the point's cluster (NULL for noise).  ``id_col`` must be unique;
    coordinates are integers (micro-units, the spatial.py contract)."""
    from magi_etl_spark.operators.components import connected_components
    from magi_etl_spark.operators.spatial import grid_blocked_eps_join

    if int(min_pts) < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts!r}")
    if len({id_col, x_col, y_col}) != 3 or "id" in (x_col, y_col):
        raise ValueError(
            "id/x/y columns must be three distinct names, and the "
            f"coordinate columns may not be named 'id' (the internal "
            f"id alias): {(id_col, x_col, y_col)!r}"
        )
    p = points.select(
        F.col(id_col).cast("long").alias("id"), x_col, y_col
    )
    # every ordered neighbor pair within eps, self-pairs included —
    # one grid-blocked join, never all-pairs.  The pair stream feeds
    # FIVE consumers (neighbor counts, both sides of the core-core
    # edges, the border join, and — via cores — the anti-join), so it
    # materializes once (O(corpus) id pairs, density-bounded) instead
    # of re-running the grid join per consumer — measured 3-4x of the
    # operator's wall at 32x scale.  Eager chkpt barrier, NOT a bare
    # persist(): an explicit persist stays registered in the cache
    # manager until someone unpersists it, leaking one cached pair
    # frame per grid_dbscan call in a long-lived session (the r12
    # ADVICE item — the lsh_index.py lesson); checkpoint blocks are
    # released by the ContextCleaner as soon as the result frame goes
    # out of scope, and the component loop below needs the pair stream
    # materialized before its first iteration anyway.
    pairs = (
        grid_blocked_eps_join(
            p.select(F.col("id").alias("_ida"), x_col, y_col),
            p.select(F.col("id").alias("_idb"), x_col, y_col),
            int(eps),
            ["_ida"],
            ["_idb"],
            x_col,
            y_col,
        )
        .select("_ida", "_idb")
        .transform(materialize)
    )
    cores = (
        pairs.groupBy("_ida")
        .agg(F.count(F.lit(1)).alias("_n_eps"))
        .where(F.col("_n_eps") >= int(min_pts))
        .select(F.col("_ida").alias("id"))
        .transform(materialize)
    )
    core_pairs = (
        pairs.join(cores.select(F.col("id").alias("_ida")), "_ida")
        .join(cores.select(F.col("id").alias("_idb")), "_idb")
    )
    # component labels over core-core edges; a core with no OTHER core
    # in range is absent from the edge list and forms its own cluster
    comp = connected_components(
        core_pairs.where(F.col("_ida") < F.col("_idb")),
        "_ida",
        "_idb",
        max_iterations=max_iterations,
    ).select(F.col("vertex").alias("id"), F.col("component").alias("cluster"))
    core_clusters = (
        cores.join(comp, "id", "left")
        .select("id", F.coalesce("cluster", "id").alias("cluster"))
    )
    border = (
        pairs.join(cores.select(F.col("id").alias("_ida")), "_ida", "left_anti")
        .join(
            core_clusters.select(
                F.col("id").alias("_idb"), F.col("cluster")
            ),
            "_idb",
        )
        .groupBy(F.col("_ida").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_clusters.select(
        "id", F.lit("core").alias("role"), "cluster"
    ).unionByName(
        border.select("id", F.lit("border").alias("role"), "cluster")
    )
    return (
        p.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            "cluster",
        )
    )
