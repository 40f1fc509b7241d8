"""Invariants the q168-q172 oracles can't express: classifier LLR
antisymmetry and sign sanity, domain-curation verdict logic, the
k-anonymity guarantee on the filtered rows, soft-dedup weight/mass
conservation, and survivorship null/recency/priority rules."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


# --- classifier --------------------------------------------------------------


def _seed_docs(spark):
    return spark.createDataFrame(
        [
            (1, "good clean prose text", True),
            (2, "good text prose flows", True),
            (3, "spam spam buy pills", False),
            (4, "buy spam pills now", False),
        ],
        "doc_id long, text string, is_pos boolean",
    )


def test_nb_model_llr_is_antisymmetric_under_label_swap(spark):
    from magi_etl_spark.operators.classifier import nb_token_model

    seeds = _seed_docs(spark)
    fwd = {
        r["tok"]: r["llr"] for r in nb_token_model(seeds, "is_pos").collect()
    }
    swapped = seeds.withColumn("is_pos", ~F.col("is_pos"))
    rev = {
        r["tok"]: r["llr"] for r in nb_token_model(swapped, "is_pos").collect()
    }
    assert set(fwd) == set(rev)
    for tok, v in fwd.items():
        assert rev[tok] == pytest.approx(-v, abs=1e-12)


def test_nb_score_signs_separate_the_seed_classes(spark):
    from magi_etl_spark.operators.classifier import (
        nb_score,
        nb_token_model,
    )

    seeds = _seed_docs(spark)
    model = nb_token_model(seeds, "is_pos")
    probe = spark.createDataFrame(
        [(10, "good prose"), (11, "spam pills"), (12, "zzzunknown")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in nb_score(probe, model).collect()}
    assert rows[10]["mean_llr"] > 0
    assert rows[11]["mean_llr"] < 0
    # a fully out-of-vocabulary document scores NULL, not 0
    assert rows[12]["n_scored"] == 0 and rows[12]["mean_llr"] is None


def test_seed_classifier_scores_every_document_once(spark):
    from magi_etl_spark.operators.classifier import seed_classifier_scores

    df = _seed_docs(spark).withColumn(
        "source", F.when(F.col("is_pos"), "a").otherwise("b")
    )
    out = seed_classifier_scores(
        df, F.col("source") == "a", F.col("source") == "b"
    )
    assert out.count() == 4
    # seed documents' tokens are all in the model vocabulary
    assert out.where("n_scored <> n_tokens").count() == 0


# --- domain curation ---------------------------------------------------------


def _domain_docs(spark):
    rows = []
    # healthy: 12 distinct docs of 25 tokens each
    for i in range(12):
        rows.append((100 + i, "healthy", " ".join(f"w{i}t{j}" for j in range(25))))
    # dup-heavy: 12 docs, 8 of them the same text
    for i in range(12):
        t = "copy " * 30 if i < 8 else f"orig {i} " * 15
        rows.append((200 + i, "dupfarm", t))
    # tiny: 3 docs
    for i in range(3):
        rows.append((300 + i, "tiny", " ".join(f"x{j}" for j in range(30))))
    # short-docs: 12 docs of 5 tokens
    for i in range(12):
        rows.append((400 + i, "short", f"a b c d e{i}"))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_curate_domains_verdicts(spark):
    from magi_etl_spark.operators.domains import curate_domains

    v = {
        r["source"]: r
        for r in curate_domains(
            _domain_docs(spark), "source", "text", 10, 20
        ).collect()
    }
    assert v["healthy"]["kept"] is True
    assert v["dupfarm"]["kept"] is False  # 8/12 exact dups
    assert v["dupfarm"]["n_dup_docs"] == 8
    assert v["tiny"]["kept"] is False  # below min_docs
    assert v["short"]["kept"] is False  # mean tokens below 20


def test_filter_to_kept_domains_drops_everything_else(spark):
    from magi_etl_spark.operators.domains import (
        curate_domains,
        filter_to_kept_domains,
    )

    docs = _domain_docs(spark)
    verdicts = curate_domains(docs, "source", "text", 10, 20)
    kept = filter_to_kept_domains(docs, verdicts, "source")
    assert {r["source"] for r in kept.select("source").distinct().collect()} == {
        "healthy"
    }
    assert kept.count() == 12


# --- k-anonymity -------------------------------------------------------------


def _quasi_rows(spark):
    rows = []
    for i in range(7):
        rows.append((i, "a", 1))  # group of 7: survives k=5
    for i in range(3):
        rows.append((10 + i, "a", 2))  # group of 3: suppressed
    rows.append((20, "b", 1))  # singleton: suppressed
    return spark.createDataFrame(rows, "row_id long, qa string, qb int")


def test_k_anonymize_guarantee_holds_on_the_output(spark):
    from magi_etl_spark.operators.anonymize import k_anonymize

    out = k_anonymize(_quasi_rows(spark), ["qa", "qb"], k=5)
    sizes = [
        r["n"]
        for r in out.groupBy("qa", "qb").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert sizes and all(n >= 5 for n in sizes)
    assert out.count() == 7  # only the size-7 group survives


def test_k_anonymity_profile_flags_match_group_sizes(spark):
    from magi_etl_spark.operators.anonymize import k_anonymity_profile

    prof = k_anonymity_profile(_quasi_rows(spark), ["qa", "qb"], k=5)
    for r in prof.collect():
        assert r["suppressed"] == (r["n_rows"] < 5)
    assert prof.where("suppressed").count() == 2


def test_l_diversity_catches_homogeneous_groups(spark):
    from magi_etl_spark.operators.anonymize import l_diversity_profile

    rows = [(i, "a", 1, 100 + (i % 4)) for i in range(8)]  # 4 distinct users
    rows += [(10 + i, "b", 1, 500) for i in range(6)]  # one user, 6 rows
    df = spark.createDataFrame(
        rows, "row_id long, qa string, qb int, user_id long"
    )
    prof = {
        (r["qa"], r["qb"]): r
        for r in l_diversity_profile(df, ["qa", "qb"], "user_id", 3).collect()
    }
    assert prof[("a", 1)]["diverse"] is True
    assert prof[("a", 1)]["n_distinct"] == 4
    # k-anonymous (6 rows) but NOT diverse — the case k alone misses
    assert prof[("b", 1)]["n_rows"] == 6
    assert prof[("b", 1)]["diverse"] is False


def test_dp_noisy_counts_are_deterministic_per_seed_and_bounded(spark):
    from magi_etl_spark.operators.anonymize import dp_noisy_counts

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 5)) for i in range(100)], "row_id long, g string"
    )
    a = {r["g"]: r["noisy_count"] for r in dp_noisy_counts(df, ["g"], 1.0, "s1").collect()}
    b = {r["g"]: r["noisy_count"] for r in dp_noisy_counts(df, ["g"], 1.0, "s1").collect()}
    c = {r["g"]: r["noisy_count"] for r in dp_noisy_counts(df, ["g"], 1.0, "s2").collect()}
    assert a == b  # same seed -> identical release
    assert a != c  # different seed (nonce) -> different noise
    # Laplace(1) noise under the 2^-32 clamp is bounded by 32*ln(2)
    for g, v in a.items():
        assert abs(v - 20) <= 32 * 0.6931472 + 1e-6


def test_dp_noise_shrinks_with_epsilon(spark):
    from magi_etl_spark.operators.anonymize import dp_noisy_counts

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 20)) for i in range(200)], "row_id long, g string"
    )
    loose = dp_noisy_counts(df, ["g"], 0.5, "s")
    tight = dp_noisy_counts(df, ["g"], 5.0, "s")
    dev = lambda frame: sum(
        abs(r["noisy_count"] - 10) for r in frame.collect()
    )
    assert dev(tight) < dev(loose)  # b = 1/eps: bigger eps, less noise


def test_bucketize_is_a_floor_bucket(spark):
    from magi_etl_spark.operators.anonymize import bucketize

    df = spark.range(1).select(
        bucketize(F.lit(49.99), 50.0).alias("a"),
        bucketize(F.lit(50.0), 50.0).alias("b"),
        bucketize(F.lit(-0.01), 50.0).alias("c"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (0, 1, -1)


# --- soft-dedup weights ------------------------------------------------------


def _dup_docs(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),
        (3, "alpha beta gamma"),
        (4, "delta epsilon"),
        (5, "zeta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_soft_dedup_weights_conserve_cluster_mass(spark):
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    w = soft_dedup_weights(_dup_docs(spark), beta=1.0)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert rows[1]["cluster_size"] == 3
    for r in rows.values():
        assert r["weight"] * r["cluster_size"] == pytest.approx(1.0, abs=1e-12)
        assert r["eff_tokens"] <= r["n_tokens"]
    # total effective doc mass = number of DISTINCT texts
    assert sum(r["weight"] for r in rows.values()) == pytest.approx(3.0, abs=1e-12)


def test_soft_dedup_beta_zero_is_identity(spark):
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    w = soft_dedup_weights(_dup_docs(spark), beta=0.0)
    assert w.where("weight <> 1.0").count() == 0


def test_effective_corpus_size_rollup(spark):
    from magi_etl_spark.operators.reweight import (
        effective_corpus_size,
        soft_dedup_weights,
    )

    r = effective_corpus_size(soft_dedup_weights(_dup_docs(spark))).collect()[0]
    assert r["n_docs"] == 5
    assert r["eff_docs"] == pytest.approx(3.0)
    assert r["n_tokens"] == 3 * 3 + 2 + 1


# --- tokenizer fertility / calibration ---------------------------------------


def test_tokenizer_fertility_bounds(spark):
    """Fertility is >= 1 (a word is at least one token) and at most the
    word length in characters; more merges never increase fertility."""
    from magi_etl_spark.operators.fertility import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            (1, "a", "the cat sat on the mat the cat sat again"),
            (2, "b", "compression compression compression ratio ratio"),
        ],
        "doc_id long, source string, text string",
    )
    f0 = {r["source"]: r for r in tokenizer_fertility(docs, 0).collect()}
    f5 = {r["source"]: r for r in tokenizer_fertility(docs, 5).collect()}
    for src in ("a", "b"):
        for f in (f0, f5):
            assert f[src]["n_bpe_tokens"] >= f[src]["n_words"]
            assert f[src]["n_bpe_tokens"] <= f[src]["n_chars"]
        # merges only ever merge symbols: token count is non-increasing
        assert f5[src]["n_bpe_tokens"] <= f0[src]["n_bpe_tokens"]
    # zero merges: every character is a token
    assert f0["a"]["n_bpe_tokens"] == f0["a"]["n_chars"]


def test_calibration_bins_partition_and_bound(spark):
    from magi_etl_spark.operators.classifier import calibration_bins

    rows = [
        (1, -1.2, False), (2, -0.7, False), (3, -0.6, False),
        (4, 0.1, True), (5, 0.4, True), (6, 1.3, True), (7, 0.3, False),
        (8, None, True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, mean_llr double, is_pos boolean")
    bins = calibration_bins(df, "mean_llr", "is_pos", 0.5).collect()
    assert sum(r["n_docs"] for r in bins) == 7  # NULL score excluded
    for r in bins:
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert r["n_pos"] <= r["n_docs"]
    by_bin = {r["bin"]: r for r in bins}
    assert by_bin[-3]["n_docs"] == 1  # -1.2 -> floor(-2.4) = -3
    assert by_bin[0]["n_docs"] == 3 and by_bin[0]["n_pos"] == 2
    assert by_bin[2]["frac_pos"] == 1.0


# --- curation manifest capstone ---------------------------------------------


def test_curation_manifest_recomputes_clusters_within_the_kept_set(spark):
    """Dropping a domain must change its survivors' cluster sizes: a
    text duplicated across a kept and a dropped domain counts once."""
    from magi_etl_spark.operators.domains import (
        curate_domains,
        filter_to_kept_domains,
    )
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    rows = []
    shared = " ".join(f"tok{j}" for j in range(25))
    for i in range(12):  # healthy domain; doc 100 shares text with tiny's
        rows.append((100 + i, "keep", shared if i == 0 else f"doc{i} word " * 15))
    rows.append((300, "tiny", shared))  # dropped (below min_docs)
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    verdicts = curate_domains(docs, "source", "text", 10, 20)
    kept = filter_to_kept_domains(docs, verdicts, "source")
    w = {r["doc_id"]: r for r in soft_dedup_weights(kept).collect()}
    assert 300 not in w
    assert w[100]["cluster_size"] == 1  # the cross-domain copy is gone


# --- multi-touch attribution -------------------------------------------------


def test_multi_touch_credit_conserves_and_follows_u_shape(spark):
    import datetime as dt

    from magi_etl_spark.operators.behavior import multi_touch_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: 4 touches then convert -> 0.4/0.2/0.2... wait n=4:
        # first+last 0.4 each, two interior 0.1 each
        (1, 1, t0, "click"),
        (2, 1, t0 + dt.timedelta(minutes=1), "view"),
        (3, 1, t0 + dt.timedelta(minutes=2), "view"),
        (4, 1, t0 + dt.timedelta(minutes=3), "signup"),
        (5, 1, t0 + dt.timedelta(minutes=4), "purchase"),
        # user 2: lone conversion -> (none)
        (6, 2, t0, "purchase"),
        # user 3: one touch -> full credit
        (7, 3, t0, "view"),
        (8, 3, t0 + dt.timedelta(minutes=1), "purchase"),
        # user 4: touch outside the lookback -> (none)
        (9, 4, t0 - dt.timedelta(hours=3), "click"),
        (10, 4, t0, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r["channel"]: r
        for r in multi_touch_attribution(
            df, ["click", "view", "signup"], "purchase", 3600
        ).collect()
    }
    # conservation: total credit == number of conversions
    assert abs(sum(r["credit"] for r in out.values()) - 4.0) < 1e-9
    # user 1's U-shape: click first 0.4, signup last 0.4, views 0.1+0.1
    # plus user 3's lone view 1.0
    assert abs(out["click"]["credit"] - 0.4) < 1e-9
    assert abs(out["signup"]["credit"] - 0.4) < 1e-9
    assert abs(out["view"]["credit"] - 1.2) < 1e-9
    assert out["(none)"]["n_touches"] == 2  # users 2 and 4


def test_markov_attribution_hand_solvable_chain(spark):
    import datetime as dt

    from magi_etl_spark.operators.behavior import markov_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2, 3):  # three click->purchase journeys
        rows.append((eid, u, t0, "click")); eid += 1
        rows.append((eid, u, t0 + dt.timedelta(minutes=1), "purchase")); eid += 1
    rows.append((eid, 4, t0, "view")); eid += 1  # one view->null journey
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r["channel"]: r
        for r in markov_attribution(df, ["click", "view"], "purchase").collect()
    }
    # chain: start->click 3/4, start->view 1/4; click->conv 1; view->null 1
    # p_conv(start) = 0.75; removing click zeroes it; removing view: 0.75
    assert out["click"]["p_conv"] == 0.75
    assert out["click"]["removal_effect"] == 1.0
    assert out["view"]["removal_effect"] == 0.0
    assert out["click"]["share"] == 1.0 and out["view"]["share"] == 0.0


# --- readability / FK discovery ----------------------------------------------


def test_readability_known_values(spark):
    from magi_etl_spark.operators.readability import readability_scores

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),  # 6 words, 2 sentences, 6 syl
            (2, "no punctuation here at all"),  # 1 sentence floor
            (3, "!!! ???"),  # no words: dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in readability_scores(docs).collect()}
    assert set(out) == {1, 2}
    r = out[1]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    expected = round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6)
    assert r["flesch_ease"] == expected
    assert out[2]["n_sentences"] == 1


def test_fk_discovery_flags_true_keys_and_impostors(spark, sf_dir):
    from magi_etl_spark.operators.discovery import discover_fk_candidates
    from magi_etl_spark.queries import QUERIES

    rows = {
        r["child"]: r
        for r in QUERIES["q181_fk_discovery"](spark, sf_dir).collect()
    }
    for true_fk in ("orders.o_custkey", "lineitem.l_orderkey",
                    "lineitem.l_partkey"):
        assert rows[true_fk]["containment"] == 1.0
        assert rows[true_fk]["parent_unique"] is True

    # constructed impostor + non-unique parent: the signals separate
    child = spark.createDataFrame(
        [(1,), (2,), (3,), (99,), (None,)], "k long"
    )
    parent_dup = spark.createDataFrame(
        [(1,), (1,), (2,), (3,)], "pk long"
    )
    out = discover_fk_candidates(
        [("c", child, "k", "p", parent_dup, "pk")]
    ).collect()[0]
    assert out["n_child_distinct"] == 4  # NULL excluded
    assert out["n_contained"] == 3  # 99 misses
    assert out["containment"] == 0.75
    assert out["parent_unique"] is False  # duplicated 1


# --- entity resolution capstone ----------------------------------------------


def test_entity_resolution_conserves_members_and_balance(spark, sf_dir):
    from pyspark.sql import functions as SF

    from magi_etl_spark.queries import QUERIES
    from magi_etl_spark.tables import load_table

    out = QUERIES["q179_entity_resolution"](spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    n_cust = c.count()
    agg = out.agg(
        SF.sum("n_members").alias("m"), SF.sum("total_bal_c").alias("b")
    ).collect()[0]
    assert agg["m"] == n_cust  # every customer lands in exactly one cluster
    total_c = c.agg(
        SF.sum(SF.round(SF.col("c_acctbal") * 100).cast("long"))
    ).collect()[0][0]
    assert agg["b"] == total_c  # cents-exact conservation
    # representatives are real member keys
    reps = out.select(SF.col("rep").alias("c_custkey"))
    assert reps.join(c, "c_custkey", "left_anti").count() == 0


# --- span removal ------------------------------------------------------------


def test_span_removal_drops_exactly_the_copied_span(spark):
    from magi_etl_spark.operators.importance import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    span = "alpha beta gamma delta epsilon"  # the copied 5-gram
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {span} outro three"),
            (2, f"other opening {span} and a different tail"),
            (3, "completely unrelated text with enough words here"),
            (4, span),  # fully copied: nothing survives
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, 5).collect()}
    assert out[1]["cleaned_text"] == "intro one two outro three"
    assert out[2]["cleaned_text"] == "other opening and a different tail"
    assert out[3]["cleaned_text"] == docs.collect()[2]["text"]
    assert out[4]["n_kept"] == 0 and out[4]["cleaned_text"] == ""
    # consistency with the profile: undup'd docs keep every token
    prof = {r["doc_id"]: r for r in duplicated_spans(docs, 5).collect()}
    assert prof[3]["n_dup"] == 0
    assert out[3]["n_kept"] == out[3]["n_tokens"]


# --- survivorship ------------------------------------------------------------


def _versions(spark):
    d = dt.date
    rows = [
        # key 1: base has price, newer crm row has NULL price -> price
        # survives from base (non-null beats recency); status from crm
        (1, "O", 100, d(2024, 1, 1), 0),
        (1, "U1", None, d(2024, 1, 11), 2),
        # key 2: two non-null prices -> latest wins
        (2, "O", 200, d(2024, 1, 1), 0),
        (2, None, 277, d(2024, 1, 6), 1),
        # key 3: same day, different src_rank -> higher rank wins
        (3, "A", 300, d(2024, 1, 1), 0),
        (3, "B", 301, d(2024, 1, 1), 1),
        # key 4: all statuses NULL -> NULL survives
        (4, None, 400, d(2024, 1, 1), 0),
    ]
    return spark.createDataFrame(
        rows, "k long, status string, price_c long, updated date, src_rank int"
    )


def test_golden_records_rules(spark):
    from magi_etl_spark.operators.survivorship import golden_records

    g = {
        r["k"]: r
        for r in golden_records(
            _versions(spark), "k", ["status", "price_c"], "updated", "src_rank"
        ).collect()
    }
    assert g[1]["status"] == "U1" and g[1]["price_c"] == 100
    assert g[2]["price_c"] == 277 and g[2]["status"] == "O"
    assert g[3]["status"] == "B" and g[3]["price_c"] == 301
    assert g[4]["status"] is None and g[4]["price_c"] == 400
    assert g[1]["n_versions"] == 2 and g[4]["n_versions"] == 1
