"""Connected components over near-duplicate pair edges: turn the
pairwise output of MinHash-LSH / SimHash / embedding near-dup into
duplicate CLUSTERS with a canonical representative per cluster
(LLM-data-pipeline extension; the reference is tabular-only).

Pairs alone under-deduplicate: if A~B and B~C but A!~C, keeping "one of
each pair" still leaves two copies of the same underlying document
family.  The standard corpus-dedup policy is: build the similarity
graph, find connected components, keep one representative per
component.

Algorithm: iterative min-label propagation (the dataframe form of
hash-to-min — each round every vertex adopts the smallest label among
itself and its neighbors; converges in O(diameter) rounds).  Each round
is one join + one aggregation, both shuffling on the vertex key, and the
label frame stays (n_vertices × 2) narrow.  Near-dup graphs are
overwhelmingly tiny cliques and chains, so diameter — and the round
count — is small in practice; ``max_iterations`` bounds pathological
chains and raising it only adds rounds, not memory.  For billion-edge
general graphs you would switch to the large-star/small-star variant
(same per-round shape, provably fewer rounds); the per-round plan here
is identical, so the operator scales with the shuffle, not the driver —
the only driver-side work is the convergence check (a count of changed
labels per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    ``component`` is the minimum vertex id reachable from it.

    Isolated vertices don't appear in ``edges`` and therefore not in the
    output — union them in as their own component downstream if needed.
    """
    # undirected: materialize both directions once
    fwd = edges.select(F.col(src).alias("v"), F.col(dst).alias("n"))
    sym = fwd.union(
        edges.select(F.col(dst).alias("v"), F.col(src).alias("n"))
    ).transform(materialize, eager=False)
    # eager barrier: iterative driver loops must truncate lineage each
    # round, or round k re-executes rounds 1..k-1 and the plan grows
    # without bound
    labels = materialize(
        sym.groupBy("v")
        .agg(F.min("n").alias("mn"))
        .select("v", F.least("v", "mn").alias("label"))
    )
    for _ in range(max_iterations):
        # One-hop propagation AND pointer jumping in a single join: the
        # pointer edge (v, label[v]) rides along with the neighbor edges,
        # so min(n_label) over the union yields
        #   least( min over neighbors n of label[n],   # propagation
        #          label[label[v]] )                   # pointer jump
        # in ONE shuffle join + ONE aggregation per round.  Pointer
        # jumping halves the remaining distance to the component minimum
        # each round — convergence in O(log diameter), not O(diameter).
        # (r15 measured: splitting the pointer edge into its own
        # vertex-scale join — hoping to keep the materialized sym side
        # exchange-free — was tried and REVERTED: sym carries no hash
        # partitioning on the join key, so the split saved no exchange
        # and the extra join per round cost ~35% on the dbscan path.)
        contrib = sym.union(labels.select("v", F.col("label").alias("n")))
        new = (
            contrib.join(
                labels.select(
                    F.col("v").alias("n"), F.col("label").alias("n_label")
                ),
                "n",
            )
            .groupBy("v")
            .agg(F.min("n_label").alias("min_label"))
        )
        step = materialize(
            labels.join(new, "v", "left").select(
                "v",
                "label",
                F.least(
                    F.col("label"), F.coalesce("min_label", "label")
                ).alias("new_label"),
            )
        )
        changed = step.where(F.col("new_label") != F.col("label")).count()
        labels = step.select("v", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Every document labeled with its duplicate-cluster representative
    (the min doc id of its component; singletons represent themselves).
    ``keep = (doc == representative)`` marks the survivor set."""
    comp = connected_components(pairs, pair_a, pair_b)
    return docs.select(id_col).join(
        comp, docs[id_col] == comp.vertex, "left"
    ).select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("representative"),
        (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias("keep"),
    )
