"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; LSH sign-random-projection
bucketing is the scale path (candidate buckets instead of all-pairs).  The
reference computes full cosine-similarity matrices driver-side with scipy
(``dash_app/tasks.py:438-464``); here similarity is a distributed join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.vectors import as_double, cosine, dot, l2_norm


# shared with operators/dedup.py — one definition, one behavior
from magi_etl_spark.functions import fan_out as _fan_out  # noqa: E402


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of a (small, broadcast) query set.

    One broadcast nested-loop over the corpus — linear scan, no shuffle of
    the big side; at cluster scale this is the map-side scoring pattern.
    """
    corpus = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    q = query.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_q")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col("_v"), F.col("_q")).alias("_score"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("_score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", id_col, F.round("_score", 6).alias("score"), "rn")
    )


def blocked_neardup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 8,
) -> DataFrame:
    """Near-duplicate embedding pairs within blocking buckets.

    The block key (a label, an LSH bucket, a shard) turns O(n^2) into
    sum-of-squares-per-bucket.  Two scale measures on top:
    - norms are computed ONCE per vector (materialized), not per pair — the
      per-pair expression is a single dot product;
    - the join key is salted: the a-side gets ``id % S`` and the b-side is
      replicated S times, so a block with millions of vectors spreads over
      S*blocks partitions instead of pinning one core per block.
    """
    # Explicit width hint: the input is typically a bucket-join OUTPUT,
    # which AQE coalesces to very few partitions (small row count) even
    # though the plan contains shuffles — and the downstream work is
    # O(pairs-per-bucket), far heavier than the row count suggests.
    # Without the hint fan_out's "shuffle plans are already wide" rule
    # would no-op and pin the whole pair scan on one or two cores.
    side = _fan_out(
        df.select(
            F.col(id_col), F.col(block_col).alias("block"), as_double(F.col(vec_col)).alias("_v")
        ),
        width=1,
    ).withColumn("_norm", l2_norm(F.col("_v"))).transform(materialize, eager=False)
    a = side.withColumn("_salt", F.pmod(F.col(id_col), F.lit(salt_buckets)))
    b = side.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    score = dot(F.col("a._v"), F.col("b._v")) / (F.col("a._norm") * F.col("b._norm"))
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.block").alias("block"),
            score.alias("_score"),
        )
        .where(F.col("_score") >= F.lit(threshold))
        .select("id_a", "id_b", "block", F.round("_score", 6).alias("score"))
    )


def auto_n_lists(n_vectors: int, floor: int = 8) -> int:
    """IVF list count ~ sqrt(n) (the FAISS guideline): the next power of
    two of ``sqrt(n_vectors)``, floored at ``floor`` and capped at
    ``n_vectors``.  A FIXED list count makes the probe cost ``n_probe x
    n / n_lists`` grow linearly with the corpus (the q211
    fixed-bucket-count class of defect); sqrt keeps both the centroid
    table and the per-probe list scan O(sqrt n)."""
    n = max(n_vectors, 1)
    return max(1, min(n, max(floor, 1 << max(0, math.ceil(math.log2(n) / 2)))))


def ivf_index(
    df: DataFrame,
    n_lists: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: KMeans centroids + per-vector inverted-list
    assignment.  The index is (assigned vectors, centroid table); at
    cluster scale the assigned side is written partitioned by ``list_id``
    so probes become partition pruning.

    ``n_lists=None`` (the default) derives the list count as ~sqrt(n)
    from one corpus count (:func:`auto_n_lists`), so the per-probe scan
    fraction shrinks as the corpus grows instead of staying a constant
    1/16th of it.  An explicit ``n_lists`` is honored verbatim (oracles
    pin theirs)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = _fan_out(
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    ).withColumn("_feat", array_to_vector("_v")).transform(materialize, eager=False)
    if n_lists is None:
        # one 1-row aggregate over the (materialized) feature frame
        n_lists = auto_n_lists(feat.count(), floor=16)
    model = KMeans(k=n_lists, seed=seed, featuresCol="_feat", predictionCol="list_id").fit(feat)
    assigned = model.transform(feat).select(
        id_col, F.col("_v"), F.col("list_id")
    )
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return materialize(assigned, eager=False), centroids


def _farthest_point_select(cands: list, n: int) -> list:
    """Greedy k-center over an already-collected candidate list: start
    from the first candidate (smallest hash), then repeatedly take the
    candidate whose minimum squared distance to the chosen set is largest
    (ties → earliest candidate order, so the result is deterministic)."""
    if len(cands) <= n:
        return list(cands)
    chosen = [cands[0]]
    chosen_idx = {0}
    # min squared distance from each candidate to the chosen set so far
    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a["_v"], b["_v"]))

    best = [d2(c, cands[0]) for c in cands]
    while len(chosen) < n:
        pick, pick_d = None, -1.0
        for i, c in enumerate(cands):
            if i in chosen_idx:
                continue
            if best[i] > pick_d:
                pick, pick_d = i, best[i]
        chosen.append(cands[pick])
        chosen_idx.add(pick)
        for i, c in enumerate(cands):
            if i not in chosen_idx:
                best[i] = min(best[i], d2(c, cands[pick]))
    return chosen


def ivf_index_sampled(
    df: DataFrame,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "first",
    seed: int = 7,
    oversample: int = 4,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic IVF coarse quantizer: sampled corpus vectors are the
    centroids (the standard KMeans-free IVF variant; FAISS supports any
    coarse quantizer).  Unlike :func:`ivf_index` (KMeans) this build is
    fully order-deterministic, so the whole IVF probe path can be
    oracle-checked end to end.  Assignment is a broadcast of the tiny
    centroid table against the corpus — one narrow pass, no shuffle of
    the big side; at cluster scale the assigned set is written
    partitioned by ``list_id`` so probes become partition pruning.

    ``init`` selects the sampling strategy (all deterministic):

    - ``"first"``: the ``n_lists`` smallest ids.  SQL-expressible, but
      degenerate when the id space is clustered (adjacent ids = similar
      vectors ⇒ centroids crowd one region).
    - ``"hash"``: the ``n_lists`` smallest ``md5(seed || id)`` — a seeded
      uniform draw over the corpus regardless of id locality.  Still
      SQL-expressible (the q86 oracle).
    - ``"spread"``: k-means||-style — hash-oversample ``oversample *
      n_lists`` candidates distributed, then greedy farthest-point
      selection among the (tiny, collected) candidate set.  Best recall;
      the selection step is driver-side over ≤ ``oversample*n_lists``
      vectors so it stays O(candidates² · dim) on constants.
    """
    base = _fan_out(
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    )
    if n_lists is None:
        # ~sqrt(n) lists from one corpus count — same derivation (and
        # rationale) as ivf_index; explicit arguments stay honored.
        # Note: init="spread" selects driver-side over oversample*n_lists
        # candidates (O(candidates² · dim)), so very large corpora should
        # pass an explicit n_lists or use "hash" with the derived default.
        n_lists = auto_n_lists(base.count(), floor=8)
    hash_key = F.md5(F.concat(F.lit(f"s{seed}"), F.col(id_col).cast("string")))
    if init == "first":
        rows = base.orderBy(F.col(id_col)).limit(n_lists).collect()
    elif init == "hash":
        rows = base.orderBy(hash_key.asc(), F.col(id_col).asc()).limit(n_lists).collect()
    elif init == "spread":
        cands = base.orderBy(hash_key.asc(), F.col(id_col).asc()).limit(
            oversample * n_lists
        ).collect()
        rows = _farthest_point_select(cands, n_lists)
    else:
        raise ValueError(f"unknown IVF init {init!r}")
    centroids = [[float(x) for x in r["_v"]] for r in rows]
    assigned = assign_to_centroids(base, centroids, id_col, vec_col="_v")
    return materialize(assigned, eager=False), centroids


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``id_col, _v, list_id`` — nearest-centroid assignment as a
    narrow expression: struct comparison sorts by (d2, list_id), so
    ``array_sort(...)[0]`` is the argmin with a deterministic
    tie-break — no crossJoin, no window, no shuffle of the corpus.
    Shared by the index build and the incremental index append."""
    base = (
        df
        if vec_col == "_v"
        else df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    )

    def _d2_to(c: list[float]):
        lit = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(F.col("_v"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cands = F.array(
        *[
            F.struct(_d2_to(c).alias("d2"), F.lit(i).alias("list_id"))
            for i, c in enumerate(centroids)
        ]
    )
    return base.select(
        id_col, "_v", F.array_sort(cands)[0]["list_id"].alias("list_id")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: each query probes its ``n_probe`` nearest
    centroids and scores only those inverted lists — the IVF trade of
    recall for a ~(n_probe/n_lists) scan fraction.  Probe selection is a
    tiny crossJoin against the broadcast centroid table; scoring joins on
    ``list_id`` (partition-prunable at rest)."""
    import math

    cent = query.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "list_id int, centroid array<double>"
    )
    q = query.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_q")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_q"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    probe_w = W.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_d2", d2)
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select("query_id", "_q", "list_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col("_v"), F.col("_q")).alias("_score"),
        )
    )
    rank_w = W.partitionBy("query_id").orderBy(F.desc("_score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= k)
        .select("query_id", id_col, F.round("_score", 6).alias("score"), "rn")
    )


def hard_negatives(
    df: DataFrame,
    query: DataFrame,
    lo: float,
    hi: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-``k`` corpus vectors whose cosine lies in the band
    ``[lo, hi)`` — similar enough to be confusable, below the
    positive threshold so they are (statistically) true negatives
    (the in-batch-negatives upgrade every embedding-model pipeline
    ships eventually; cf. DPR, Karpukhin et al. 2020).

    Same scale shape as :func:`cosine_topk`: broadcast the bounded
    query set, one map-side scoring scan of the corpus, per-query
    top-k window over the band survivors only."""
    from pyspark.sql import Window as W

    corpus = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    q = query.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_q")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", F.col(id_col), cosine(F.col("_v"), F.col("_q")).alias("_s")
        )
        .where((F.col("_s") >= F.lit(lo)) & (F.col("_s") < F.lit(hi)))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_s"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", id_col, F.round("_s", 6).alias("score"), "rn")
    )


def auto_n_planes(n_vectors: int, target: int = 64) -> int:
    """SRP plane count for ~``target`` vectors per bucket: ``2^planes``
    buckets track the corpus size (p = ceil(log2(n / target)), clamped
    to [4, 32]).  A FIXED plane count makes bucket occupancy — and the
    sum-of-squares pair economics of any within-bucket comparison —
    grow linearly with the corpus (the q211 fixed-bucket-count class of
    defect)."""
    n = max(n_vectors, 1)
    return max(4, min(32, math.ceil(math.log2(max(n / target, 2.0)))))


def srp_lsh_buckets(
    df: DataFrame,
    n_planes: int | None = None,
    seed_planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Sign-random-projection LSH: bucket = sign bits against fixed planes.

    Planes are passed in (deterministic, seeded by the caller) as literal
    arrays — broadcast as constants into codegen, no second input needed.
    With ``seed_planes=None`` the planes are GENERATED here (seeded RNG,
    deterministic): the vector dimension comes from one sampled row and
    the plane count from :func:`auto_n_planes` over one corpus count
    (``n_planes`` overrides it), so the default bucket population stays
    ~64 at any corpus size instead of ``n / 2^8`` — the previous default
    (no planes at all) degenerated to a single corpus-wide bucket.
    """
    if seed_planes is None:
        import random

        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"]) if first else 1
        if n_planes is None:
            n_planes = auto_n_planes(df.count())
        rng = random.Random(seed)
        seed_planes = [
            [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_planes)
        ]
    v = as_double(F.col(vec_col))
    bits = []
    for i, plane in enumerate(seed_planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("string"))
    return df.select(F.col(id_col), F.concat_ws("", *bits).alias("bucket"))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
    seed: int = 7,
    salt_buckets: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, compare
    cosine similarity only WITHIN clusters, and keep one representative
    per connected near-duplicate group.

    Composition of three existing scale shapes — nothing new has to
    hold the corpus anywhere:

    1. :func:`ivf_index_sampled` assigns every vector a ``list_id``
       (broadcast centroids, narrow argmin expression — no shuffle);
    2. :func:`blocked_neardup_pairs` finds within-list pairs ≥
       ``threshold`` (salted block self-join: sum-of-squares-per-list
       economics, never corpus²);
    3. ``connected_components`` turns pairs into duplicate groups so
       chains (A~B~C with A≁C) collapse to ONE representative — the
       min id, matching the corpus-dedup keep policy elsewhere
       (``operators/dedup.py``).

    Output: every input row's ``id_col, list_id, rep_id, kept`` —
    ``kept`` marks the representative (isolated vectors keep
    themselves).  Filter ``kept`` for the deduplicated corpus; join
    ``rep_id`` back to re-route references to dropped duplicates.

    ``n_lists=None`` derives ~sqrt(n) lists (:func:`auto_n_lists`), so
    the within-list pair economics stay sum-of-squares-of-O(sqrt n)
    lists as the corpus grows; explicit values are honored verbatim.
    """
    from magi_etl_spark.operators.components import connected_components

    assigned, _cents = ivf_index_sampled(
        df, n_lists=n_lists, id_col=id_col, vec_col=vec_col, init=init, seed=seed
    )
    pairs = blocked_neardup_pairs(
        assigned,
        "list_id",
        threshold,
        id_col=id_col,
        vec_col="_v",
        salt_buckets=salt_buckets,
    )
    comps = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("vertex").alias(id_col), F.col("component").alias("_rep")
    )
    return (
        assigned.select(id_col, "list_id")
        .join(comps, id_col, "left")
        .select(
            id_col,
            "list_id",
            F.coalesce(F.col("_rep"), F.col(id_col)).alias("rep_id"),
            (F.coalesce(F.col("_rep"), F.col(id_col)) == F.col(id_col)).alias(
                "kept"
            ),
        )
    )
