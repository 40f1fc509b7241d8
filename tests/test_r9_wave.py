"""Hand-fixture invariants for the round-9 operator wave (novelty,
dispersion, wquantile, conformal, maxcover, tailindex) — the oracle
sweep (tests/test_queries_oracle.py) proves engine parity; these pin the
SEMANTICS against values computed by hand or by a tiny Python
reference."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- source KL novelty -------------------------------------------------------


def _kl_reference(docs: list[tuple[str, str]]) -> dict[str, float]:
    """Direct (vocab-expanded) add-one KL per source, in nats."""
    from collections import Counter

    st: dict[str, Counter] = {}
    for src, text in docs:
        st.setdefault(src, Counter()).update(text.split())
    corpus = Counter()
    for c in st.values():
        corpus.update(c)
    vocab = sorted(corpus)
    big_n, big_v = sum(corpus.values()), len(vocab)
    out = {}
    for src, c in st.items():
        n_s = sum(c.values())
        kl = 0.0
        for t in vocab:
            q = (corpus[t] + 1) / (big_n + big_v)
            p = (c[t] + 1) / (n_s + big_v)
            kl += p * math.log(p / q)
        out[src] = kl
    return out


def test_source_kl_matches_direct_expansion(spark):
    """The closed-form absent-token fold equals the naive vocab-expanded
    sum cell for cell (both sources, counts included)."""
    from magi_etl_spark.operators.novelty import source_kl_novelty

    docs = [
        ("a", "x y z w x y z w"),
        ("b", "x x x x x x x q"),
    ]
    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in source_kl_novelty(df).collect()}
    want = _kl_reference(docs)
    for src in want:
        assert got[src].kl_nats == pytest.approx(want[src], abs=2e-6), src
    assert got["a"].n_tokens == 8 and got["b"].n_tokens == 8
    assert got["a"].vocab_size == 4 and got["b"].vocab_size == 2


def test_source_kl_identical_distribution_is_near_zero(spark):
    from magi_etl_spark.operators.novelty import source_kl_novelty

    df = spark.createDataFrame(
        [(1, "a", "u v w"), (2, "b", "u v w")],
        "doc_id long, source string, text string",
    )
    for r in source_kl_novelty(df).collect():
        assert abs(r.kl_nats) < 1e-9, r


# --- token dispersion --------------------------------------------------------


def test_dispersion_separates_bursty_from_even(spark):
    """'even' appears once in each of 6 docs (variance 0 over D=6 →
    dispersion ≈ ... computed by hand); 'burst' appears 6 times in one
    doc.  Same total ⇒ same mean; the bursty token's dispersion must be
    far larger, and both match the closed form."""
    from magi_etl_spark.operators.dispersion import token_dispersion

    texts = ["even burst burst burst burst burst burst"] + ["even"] * 5
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.tok: r for r in token_dispersion(df, min_df=1, top_n=10).collect()}
    d_docs = 6

    def disp(counts):
        tot = sum(counts)
        ssq = sum(c * c for c in counts)
        mean = tot / d_docs
        var = ssq / d_docs - mean * mean
        return var / mean

    assert got["even"].doc_freq == 6 and got["even"].total == 6
    assert got["burst"].doc_freq == 1 and got["burst"].total == 6
    assert got["even"].dispersion == pytest.approx(disp([1] * 6), abs=1e-12)
    assert got["burst"].dispersion == pytest.approx(disp([6]), abs=1e-12)
    assert got["burst"].dispersion > got["even"].dispersion


def test_dispersion_min_df_and_topn_cut(spark):
    from magi_etl_spark.operators.dispersion import token_dispersion

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b"), (3, "c")],
        "doc_id long, text string",
    )
    rows = token_dispersion(df, min_df=2, top_n=1).collect()
    assert len(rows) == 1 and rows[0].tok == "a"  # c fails min_df; top 1 by total


# --- weighted quantiles ------------------------------------------------------


def test_weighted_median_mass_rule(spark):
    """Values 1..4 with weights 1,1,1,7: the median DOLLAR sits in the
    heavy value (cumw reaches 5 of 10 only at v=4); the unweighted
    median would be 2."""
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 3, 1), ("g", 4, 7)],
        "g string, v long, w long",
    )
    got = {r.q: r.wq for r in
           weighted_quantiles(df, ["g"], "v", "w", [0.25, 0.5, 1.0]).collect()}
    assert got[0.5] == 4
    assert got[0.25] == 3   # cumw 3/10 < 2.5? no: threshold 2.5 → v=3 (cumw 3)
    assert got[1.0] == 4


def test_weighted_quantile_exact_boundary_is_inclusive(spark):
    """cumw >= q*W exactly at the boundary takes the SMALLER value:
    weights 1,1 at q=0.5 → first value (cumw 1 == 0.5*2)."""
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    df = spark.createDataFrame(
        [("g", 10, 1), ("g", 20, 1)], "g string, v long, w long"
    )
    got = {r.q: r.wq for r in
           weighted_quantiles(df, ["g"], "v", "w", [0.5]).collect()}
    assert got[0.5] == 10


def test_weighted_quantile_collapses_duplicate_values(spark):
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 1), ("g", 9, 1)], "g string, v long, w long"
    )
    got = {r.q: r.wq for r in
           weighted_quantiles(df, ["g"], "v", "w", [0.5, 0.9]).collect()}
    assert got[0.5] == 5 and got[0.9] == 9


# --- split conformal ---------------------------------------------------------


def test_split_conformal_python_reference(spark):
    """Replay the whole protocol in Python (same md5 folds) and compare
    every emitted cell."""
    import hashlib

    from magi_etl_spark.operators.conformal import split_conformal

    rows = [(i, "g", 1000 + 37 * (i % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g string, y long")
    got = split_conformal(
        df, ["g"], "k", F.col("y"), alpha=0.1, seed="t"
    ).collect()
    assert len(got) == 1
    r = got[0]

    def fold(key):
        h = hashlib.md5(f"t|{key}".encode()).hexdigest()
        return int(h[:8], 16) % 3

    tr = [y for k, _, y in rows if fold(k) == 0]
    ca = [(k, y) for k, _, y in rows if fold(k) == 1]
    te = [y for k, _, y in rows if fold(k) == 2]
    yhat = sum(tr) // len(tr)
    res = sorted(abs(y - yhat) for _, y in ca)
    k_idx = min(math.ceil((len(ca) + 1) * 0.9), len(ca))
    qhat = res[k_idx - 1]
    covered = sum(1 for y in te if abs(y - yhat) <= qhat)
    assert (r.n_train, r.n_cal, r.n_test) == (len(tr), len(ca), len(te))
    assert r.qhat_cents == qhat
    assert r.n_covered == covered
    # the guarantee direction: empirical coverage ≥ roughly 1 - alpha
    assert r.n_covered / r.n_test >= 0.8


def test_split_conformal_k_clamps_to_ncal(spark):
    """Tiny calibration sets: ceil((n+1)(1-alpha)) may exceed n; qhat
    clamps to the LARGEST residual instead of erroring.  Seed 'c1' over
    keys 0..11 yields folds (train 4, cal 5, test 3) with k = 6 > 5."""
    import hashlib

    from magi_etl_spark.operators.conformal import split_conformal

    rows = [(i, "g", 100 * (i + 1)) for i in range(12)]
    df = spark.createDataFrame(rows, "k long, g string, y long")
    r = split_conformal(
        df, ["g"], "k", F.col("y"), alpha=0.1, seed="c1"
    ).collect()

    def fold(key):
        h = hashlib.md5(f"c1|{key}".encode()).hexdigest()
        return int(h[:8], 16) % 3

    tr = [y for k, _, y in rows if fold(k) == 0]
    ca = [y for k, _, y in rows if fold(k) == 1]
    assert (len(tr), len(ca)) == (4, 5)  # fixture precondition
    yhat = sum(tr) // len(tr)
    assert len(r) == 1
    assert r[0].n_cal == 5
    assert r[0].qhat_cents == max(abs(y - yhat) for y in ca)


# --- greedy max coverage -----------------------------------------------------


def test_vocab_cover_greedy_hand_fixture(spark):
    """Unigram fixture where greedy != frequency order: doc 1 has 4
    tokens, docs 2/3 each have 3 but overlap doc 1; after doc 1 is
    taken, doc 4's two FRESH tokens beat doc 2/3's single residuals."""
    from magi_etl_spark.operators.maxcover import vocab_cover_trace

    docs = [
        (1, "a b c d"),
        (2, "a b e"),
        (3, "c d f"),
        (4, "g h"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.sel_rank: r for r in
            vocab_cover_trace(df, k=3, ngram=1).collect()}
    assert rows[1].doc_id == 1 and rows[1].new_tokens == 4
    assert rows[2].doc_id == 4 and rows[2].new_tokens == 2
    assert rows[3].doc_id == 2 and rows[3].new_tokens == 1  # tie 2 vs 3 → 2
    assert rows[3].cum_tokens == 7


def test_vocab_cover_stops_when_vocab_exhausted(spark):
    from magi_etl_spark.operators.maxcover import vocab_cover_trace

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    rows = vocab_cover_trace(df, k=4, ngram=1).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1


def test_vocab_cover_bigram_units(spark):
    """ngram=2: 'a b c' contributes bigrams {'a b', 'b c'}; a one-token
    doc contributes nothing."""
    from magi_etl_spark.operators.maxcover import vocab_cover_trace

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "z")], "doc_id long, text string"
    )
    rows = vocab_cover_trace(df, k=2, ngram=2).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == 1 and rows[0].new_tokens == 2


# --- Hill tail index ---------------------------------------------------------


def test_hill_estimator_python_reference(spark):
    """Zipf-ish counts: compare against the direct Python computation."""
    from magi_etl_spark.operators.tailindex import hill_tail_index

    # build a corpus whose token frequencies are exactly 60,30,20,15,12,10
    # (pure-letter names: the [a-z]+ tokenizer drops digits)
    freqs = {"aa": 60, "bb": 30, "cc": 20, "dd": 15, "ee": 12, "ff": 10}
    text = " ".join(" ".join([t] * n) for t, n in freqs.items())
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r.k: r for r in hill_tail_index(df, ks=[3]).collect()}
    fs = sorted(freqs.values(), reverse=True)
    f_k1 = fs[3]
    h = sum(math.log(fs[i] / f_k1) for i in range(3)) / 3
    assert got[3].f_k1 == f_k1
    assert got[3].hill_h == pytest.approx(round(h, 6), abs=1e-9)
    assert got[3].alpha == pytest.approx(round(1 / h, 6), abs=1e-9)


def test_hill_tie_at_boundary_is_value_stable(spark):
    """Ties straddling the k-th position: only frequency VALUES enter
    the sum, so the result is identical whichever tied token the limit
    keeps."""
    from magi_etl_spark.operators.tailindex import hill_tail_index

    freqs = {"a": 8, "b": 4, "c": 4, "d": 4, "e": 2}
    text = " ".join(" ".join([t] * n) for t, n in freqs.items())
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = hill_tail_index(df, ks=[2]).collect()[0]
    # top-3 kept: 8,4,4 → f_k1 = 4; H = (ln(8/4) + ln(4/4)) / 2
    assert r.f_k1 == 4
    assert r.hill_h == pytest.approx(round(math.log(2) / 2, 6), abs=1e-9)
