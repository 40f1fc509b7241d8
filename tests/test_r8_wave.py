"""Hand-fixture invariants for the round-8 operator wave (coreset,
labelprop, spectrum, epochs, hashing_trick, fluency) — the oracle sweep
(tests/test_queries_oracle.py) proves engine parity; these pin the
SEMANTICS against values computed by hand or by a tiny Python
reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- k-center coreset ---------------------------------------------------------


def test_kcenter_trace_hand_geometry(spark):
    """5 points in 2-D with unambiguous farthest-point rounds: seed is
    the smallest id at (0,0); round 2 takes (10,1) (sq dist 101 beats
    (10,0)'s 100); round 3 takes (5,5) (min-dist 41 beats the 1s)."""
    from magi_etl_spark.operators.coreset import kcenter_trace

    pts = [
        (1, [0.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [10.0, 0.0]),
        (4, [10.0, 1.0]),
        (5, [5.0, 5.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = {r.sel_rank: (r.vec_id, r.sq_dist) for r in kcenter_trace(df, k=3).collect()}
    assert rows[1] == (1, 0.0)
    assert rows[2] == (4, 101.0)
    assert rows[3] == (5, 41.0)


def test_kcenter_tie_breaks_to_smallest_id(spark):
    from magi_etl_spark.operators.coreset import kcenter_trace

    pts = [(1, [0.0]), (7, [4.0]), (9, [4.0])]  # 7 and 9 tie at d=16
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = {r.sel_rank: r.vec_id for r in kcenter_trace(df, k=2).collect()}
    assert rows[2] == 7


def test_kcenter_stops_when_duplicates_exhaust_coverage(spark):
    """Two distinct positions, four points, k=4: after both positions
    are chosen every remaining point is an exact duplicate (min-dist 0),
    so the trace stops at 2 instead of re-selecting duplicates."""
    from magi_etl_spark.operators.coreset import kcenter_trace

    pts = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [3.0, 4.0]), (4, [3.0, 4.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = sorted(kcenter_trace(df, k=4).collect(), key=lambda r: r.sel_rank)
    assert [r.vec_id for r in rows] == [1, 3]
    assert rows[1].sq_dist == 25.0


def test_kcenter_selected_distances_never_increase(spark, sf_dir):
    """Farthest-point invariant: each round's selected max-min distance
    is bounded by the previous round's (the chosen set only grows, so
    every point's min-dist is non-increasing)."""
    from magi_etl_spark.operators.coreset import kcenter_trace
    from magi_etl_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    rows = sorted(kcenter_trace(e, k=6).collect(), key=lambda r: r.sel_rank)
    dists = [r.sq_dist for r in rows[1:]]  # seed's 0.0 excluded
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists


# --- label propagation ---------------------------------------------------------


def _lpa_reference(edges, n_rounds):
    """Tiny synchronous LPA reference: neighbor majority, ties to the
    smallest label."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {v: v for v in adj}
    for _ in range(n_rounds):
        nxt = {}
        for v in adj:
            c = Counter(labels[u] for u in adj[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    return labels


@pytest.mark.parametrize("n_rounds", [1, 3])
def test_label_propagation_matches_python_reference(spark, n_rounds):
    from magi_etl_spark.operators.labelprop import label_propagation

    # two triangles bridged by one edge
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.label for r in label_propagation(df, n_rounds=n_rounds).collect()
    }
    assert got == _lpa_reference(edges, n_rounds)


def test_label_propagation_round_is_one_aggregate_keyed_on_id(spark, checkpoint_mode):
    """Each round's vote is ONE aggregate keyed on ``id`` (deterministic
    ``mode``): no ``(id, label)`` count aggregate and no exchange on
    ``(id, label)`` ahead of it.  Planned under the plan-only ``off``
    checkpoint mode so both rounds stay in one plan."""
    import re

    from magi_etl_spark.operators.labelprop import label_propagation

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    checkpoint_mode("off")
    plan = label_propagation(df, n_rounds=2)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert plan.count("partial_mode(") == 2, plan
    assert not re.search(r"keys=\[id#\d+L?, label#", plan), plan
    assert not re.search(r"hashpartitioning\(id#\d+L?, label#", plan), plan


def test_label_propagation_separates_disconnected_communities(spark):
    from magi_etl_spark.operators.labelprop import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.label for r in label_propagation(df, n_rounds=3).collect()}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[10], got[11], got[12]} == {10}


# --- Good-Turing spectrum -------------------------------------------------------


def test_good_turing_hand_counts(spark):
    """corpus 'a a b' + 'b c': freqs a:2 b:2 c:1 -> N_1=1, N_2=2;
    r*(1) = 2·N_2/N_1 = 4.0; r*(2) = NULL (no N_3)."""
    from magi_etl_spark.operators.spectrum import good_turing

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    rows = {r.r: (r.n_r, r.r_star) for r in good_turing(df).collect()}
    assert rows == {1: (1, 4.0), 2: (2, None)}


# --- epoch planning --------------------------------------------------------------


def test_epoch_plan_hamilton_exactness_and_ceiling(spark):
    from magi_etl_spark.operators.epochs import epoch_mixture_plan

    docs = spark.createDataFrame(
        [("wiki", "one two three four"), ("web", "five six"), ("web", "seven")],
        "source string, text string",
    )  # wiki: 4 tokens, web: 3 tokens
    weights = spark.createDataFrame(
        [("wiki", 2), ("web", 1)], "source string, weight long"
    )
    plan = {r.source: r for r in epoch_mixture_plan(docs, weights, 10).collect()}
    # 10·(2/3) = 6.67 -> floor 6 rem 2; 10·(1/3) = 3.33 -> floor 3 rem 1;
    # one short slot goes to the larger remainder (wiki)
    assert plan["wiki"].target_tokens == 7 and plan["web"].target_tokens == 3
    assert plan["wiki"].target_tokens + plan["web"].target_tokens == 10
    assert plan["wiki"].epochs == 2  # ceil(7/4)
    assert plan["web"].epochs == 1  # ceil(3/3)
    assert plan["wiki"].oversample_permille == 1750
    assert plan["web"].oversample_permille == 1000


def test_epoch_plan_drops_empty_sources_and_reapportions(spark):
    from magi_etl_spark.operators.epochs import epoch_mixture_plan

    docs = spark.createDataFrame(
        [("wiki", "one two"), ("empty", "123 456 !!!"), ("web", "three four")],
        "source string, text string",
    )  # "empty" has no [a-z]+ tokens at all
    weights = spark.createDataFrame(
        [("wiki", 1), ("empty", 5), ("web", 1)], "source string, weight long"
    )
    plan = {r.source: r for r in epoch_mixture_plan(docs, weights, 10).collect()}
    assert set(plan) == {"wiki", "web"}  # empty source dropped
    # the budget reapportions over the surviving weights (1:1)
    assert plan["wiki"].target_tokens + plan["web"].target_tokens == 10
    assert plan["wiki"].target_tokens == 5 and plan["web"].target_tokens == 5


def test_epoch_plan_hamilton_exactness_property(spark):
    """Property sweep: for arbitrary weights and budgets, targets sum
    exactly to the budget and every epoch count covers its target
    (epochs · available >= target > (epochs - 1) · available)."""
    from magi_etl_spark.operators.epochs import epoch_mixture_plan

    import random

    rng = random.Random(8)
    for trial in range(4):
        srcs = [f"s{i}" for i in range(rng.randint(2, 6))]
        docs = spark.createDataFrame(
            [
                (s, " ".join("tok" for _ in range(rng.randint(1, 30))))
                for s in srcs
                for _ in range(rng.randint(1, 3))
            ],
            "source string, text string",
        )
        weights = spark.createDataFrame(
            [(s, rng.randint(1, 9)) for s in srcs], "source string, weight long"
        )
        budget = rng.randint(10, 5000)
        rows = epoch_mixture_plan(docs, weights, budget).collect()
        assert sum(r.target_tokens for r in rows) == budget, (trial, budget)
        for r in rows:
            assert r.epochs * r.available_tokens >= r.target_tokens
            if r.target_tokens > 0:
                assert (r.epochs - 1) * r.available_tokens < r.target_tokens


# --- feature hashing --------------------------------------------------------------


def _ref_hash(tok: str, n_buckets: int = 8, seed: str = "hash"):
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    bucket = h32(f"{seed}|b|{tok}") % n_buckets
    sign = 1 if h32(f"{seed}|s|{tok}") % 2 == 0 else -1
    return bucket, sign


def test_feature_hashing_profile_accounts_every_token(spark):
    from collections import defaultdict

    from magi_etl_spark.operators.hashing_trick import bucket_profile, doc_features

    docs = {1: ["x", "y", "x"], 2: ["y", "z"]}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string"
    )
    prof = bucket_profile(df, n_buckets=8).collect()
    assert sum(r.n_occurrences for r in prof) == 5
    # per-bucket signed sum is bounded by occurrence count
    for r in prof:
        assert abs(r.signed_sum) <= r.n_occurrences
    # doc features match the md5 reference exactly (tokens may collide
    # into one bucket — the reference accumulates the same way)
    want: dict[tuple[int, int], int] = defaultdict(int)
    for doc_id, toks in docs.items():
        for t in toks:
            b, s = _ref_hash(t)
            want[(doc_id, b)] += s
    want = {k: v for k, v in want.items() if v != 0}
    got = {
        (r.doc_id, r.bucket): r.signed_count
        for r in doc_features(df, n_buckets=8).collect()
    }
    assert got == want
    # determinism under repartition
    again = sorted(
        tuple(r) for r in bucket_profile(df.repartition(5), n_buckets=8).collect()
    )
    assert again == sorted(tuple(r) for r in prof)


# --- rare-bigram fluency band -------------------------------------------------------


def test_rare_bigram_band_hand_rates(spark):
    """'p q' occurs 3x (common at rare_max=2); every other bigram is a
    singleton (rare).  doc 1 = 'p q p q p q': bigrams [pq,qp,pq,qp,pq]
    -> qp occurs 2x (rare), so n_rare=2/5 -> 400 permille, kept;
    doc 2 = 'u v w': 2 singleton bigrams -> 1000 permille, dropped."""
    from magi_etl_spark.operators.fluency import rare_bigram_band

    df = spark.createDataFrame(
        [(1, "p q p q p q"), (2, "u v w")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in rare_bigram_band(df).collect()}
    assert rows[1].n_bigrams == 5 and rows[1].n_rare == 2
    assert rows[1].rate_permille == 400 and rows[1].keep == 1
    assert rows[2].n_bigrams == 2 and rows[2].n_rare == 2
    assert rows[2].rate_permille == 1000 and rows[2].keep == 0


def test_rare_bigram_band_skips_sub_bigram_docs(spark):
    from magi_etl_spark.operators.fluency import rare_bigram_band

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    assert {r.doc_id for r in rare_bigram_band(df).collect()} == {3}
