"""Driver-facing query inventory.

Each entry pairs a Spark DataFrame program (idiomatic, Catalyst-optimized)
with an ANSI-SQL oracle that DuckDB runs over the same parquet tables.
Column names are aligned on both sides — the driver sorts columns by name
and hashes values, so every computed column is aliased identically.

Determinism rules used throughout (see SURVEY.md §5.2):
- Monetary sums are reported as exact integers (``round(x * 10^k)`` summed
  as bigint) so floating-point summation order can never flip a hash.
- LIMIT/top-k queries always carry a unique tie-break key.
- Timestamps are never emitted raw (parquet ns vs Spark micro precision);
  they are floored to seconds/days or diffed into integers.
- Float outputs are either per-row deterministic expressions or rounded
  well inside the driver's 6-dp comparison grid.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# r10 rotation (COVERAGE.md "Planned r10 window"): CORRECTNESS_r09 came
# back 50/50 green, so the r9 wave (EXT6, q226-q231) merges and the
# staged backlog stays drained.
R9_QUEUE: frozenset[str] = frozenset()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the DuckDB-equivalent SQL (omit for
    non-SQL-expressible operators — the driver then runs a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    from magi_etl_spark.queries import (  # noqa: F401
        advanced,
        dedup,
        engine,
        etl,
        relational,
        similarity,
        text,
    )
    # r5 rotation: the r4 staged registry (q95-q113, oracle-verified all
    # through r4 by tests/test_extension_queries.py) merges into the main
    # registry verbatim — COVERAGE.md "Planned r5 window", rotation rule 1.
    from magi_etl_spark.queries.extensions import EXT_ORACLE, EXT_QUERIES

    dup = set(EXT_QUERIES) & set(QUERIES)
    if dup:
        raise RuntimeError(f"extension queries shadow registered ones: {dup}")
    QUERIES.update(EXT_QUERIES)
    ORACLE.update(EXT_ORACLE)
    # r6 rotation: the r5 staged registry (q117-q132, oracle-verified all
    # through r5 by tests/test_extensions_r5.py) merges the same way —
    # COVERAGE.md "Planned r6 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r5 import EXT2_ORACLE, EXT2_QUERIES

    dup2 = set(EXT2_QUERIES) & set(QUERIES)
    if dup2:
        raise RuntimeError(f"r5 extension queries shadow registered ones: {dup2}")
    QUERIES.update(EXT2_QUERIES)
    ORACLE.update(EXT2_ORACLE)
    # r8 rotation (COVERAGE.md "Planned r8 window", scenario 1 — the r6
    # driver artifacts never arrived and the r7 gate re-ran the r6 window
    # green): rule 1 front-loads the FIRST never-driver-verified staged
    # entries in registration order.  The q122 failure re-entry takes one
    # window slot, so 49 staged entries merge (q133-q181); the last two
    # EXT3 entries (q182/q183) stay staged and lead the r9 queue together
    # with the r7 wave (EXT4, q184-q219).
    from magi_etl_spark.queries.extensions_r6 import EXT3_ORACLE, EXT3_QUERIES

    merged_r6 = [n for n in EXT3_QUERIES if n not in R9_QUEUE]
    dup3 = set(merged_r6) & set(QUERIES)
    if dup3:
        raise RuntimeError(f"r6 extension queries shadow registered ones: {dup3}")
    for n in merged_r6:
        QUERIES[n] = EXT3_QUERIES[n]
        ORACLE[n] = EXT3_ORACLE[n]
    # r9 rotation: the r7 wave (EXT4, q184-q219, oracle-verified all through
    # r7/r8 by tests/test_extensions_r7.py) and the r8 wave (EXT5,
    # q220-q225, tests/test_extensions_r8.py) merge the same way —
    # COVERAGE.md "Planned r9 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r7 import EXT4_ORACLE, EXT4_QUERIES
    from magi_etl_spark.queries.extensions_r8 import EXT5_ORACLE, EXT5_QUERIES

    # r10 rotation: the r9 wave (EXT6, q226-q231, oracle-verified all
    # through r9 by tests/test_extensions_r9.py) merges the same way —
    # COVERAGE.md "Planned r10 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r9 import EXT6_ORACLE, EXT6_QUERIES

    # r11 rotation: the r10 wave (EXT7, q232-q237, oracle-verified all
    # through r10 by tests/test_extensions_r10.py) merges the same way —
    # COVERAGE.md "Planned r11 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r10 import EXT7_ORACLE, EXT7_QUERIES

    # r12 rotation: the r11 wave (EXT8, q238-q243, oracle-verified all
    # through r11 by tests/test_extensions_r8.py's shared lint + the
    # staged parity sweeps) merges the same way — COVERAGE.md "Planned
    # r12 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r11 import EXT8_ORACLE, EXT8_QUERIES

    # r13 rotation: the r12 wave (EXT9, q244-q249, oracle-verified all
    # through r12 by tests/test_extensions_r12.py + the staged parity
    # sweeps at three scale factors) merges the same way — COVERAGE.md
    # "Planned r13 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r12 import EXT9_ORACLE, EXT9_QUERIES

    # r14 rotation: the r13 wave (EXT10, q250-q255, oracle-verified all
    # through r13 by tests/test_extensions_r13.py + the staged parity
    # sweeps at three scale factors) merges the same way — COVERAGE.md
    # "Planned r14 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r13 import EXT10_ORACLE, EXT10_QUERIES

    # r15 rotation: the r14 wave (EXT11, q256-q261, oracle-verified all
    # through r14 by tests/test_extensions_r14.py + the staged parity
    # sweeps at three scale factors) merges the same way — COVERAGE.md
    # "Planned r15 window", rotation rule 1.
    from magi_etl_spark.queries.extensions_r14 import EXT11_ORACLE, EXT11_QUERIES

    for tag, (q, o) in {
        "r7": (EXT4_QUERIES, EXT4_ORACLE),
        "r8": (EXT5_QUERIES, EXT5_ORACLE),
        "r9": (EXT6_QUERIES, EXT6_ORACLE),
        "r10": (EXT7_QUERIES, EXT7_ORACLE),
        "r11": (EXT8_QUERIES, EXT8_ORACLE),
        "r12": (EXT9_QUERIES, EXT9_ORACLE),
        "r13": (EXT10_QUERIES, EXT10_ORACLE),
        "r14": (EXT11_QUERIES, EXT11_ORACLE),
    }.items():
        dup = set(q) & set(QUERIES)
        if dup:
            raise RuntimeError(
                f"{tag} extension queries shadow registered ones: {dup}"
            )
        QUERIES.update(q)
        ORACLE.update(o)


_load_all()


# --- driver-gate ordering -------------------------------------------------
# The external correctness gate oracle-checks the FIRST 50 entries of
# ``__spark_entry__.queries()`` in registration order, so dict order here
# IS the verification schedule.  The window below front-loads queries that
# have never had a driver row (new operators, reworked plans), then the
# load-bearing engine surface; the tail holds queries already verified in
# a previous round's gate.  The rotation across rounds is recorded in
# COVERAGE.md — every registered query must land inside the window at
# least once, and every query (window or tail) stays covered continuously
# by the local DuckDB-oracle suite (tests/test_queries_oracle.py).
GATE_WINDOW = 50

_PRIORITY: list[str] = [
    # Rule-2 re-entries, materialization-path batch: routing the
    # operator barriers through chkpt.materialize (behavior, dbscan,
    # kcore, lsh_index, maxcover, raking, setjoin, queries/engine.py
    # q79) and deleting caching.py's scope= plumbing (dedup, text,
    # chunking, decontaminate) edit the sources of these 43 queries
    # (tests/test_gate_window.py's AST-fingerprint rule), listed in
    # current registry order.  They lead the window; the r15 window
    # below keeps the remaining 7 slots and the rest of it returns to
    # the tail (all verified, sources unchanged since their last green
    # row).  components.py and prefix.py keep their raw barriers for
    # now: their dependents would take the batch past 50.
    "q195_similarity_join",
    "q210_common_runs",
    "q215_weighted_jaccard",
    "q23_dedup_exact",
    "q47_dedup_keep_best",
    "q24_minhash_signatures",
    "q25_minhash_lsh_neardup",
    "q29_ngram_jaccard_pairs",
    "q50_exact_ngram_jaccard_pairs",
    "q55_decontaminate",
    "q59_dedup_clusters",
    "q79_concurrent_fanout",
    "q94_token_budget_select",
    "q20_token_stats",
    "q21_quality_scores",
    "q22_language_id",
    "q49_chunking",
    "q26_fingerprints",
    "q57_sequence_packing",
    "q65_normalize_text",
    "q69_repetition_score",
    "q100_redact_pii",
    "q105_paragraph_dedup",
    "q109_unigram_logprob",
    "q112_semantic_decontaminate",
    "q113_corpus_curation",
    "q114_incremental_lsh_index",
    "q137_containment_pairs",
    "q139_funnel",
    "q140_cohort_retention",
    "q141_markov_transitions",
    "q146_rfm_segments",
    "q148_attribution",
    "q166_top_event_paths",
    "q182_multi_touch",
    "q183_markov_attribution",
    "q199_kcore",
    "q202_lsh_candidate_eval",
    "q206_langid_confusion",
    "q230_vocab_cover",
    "q244_grid_dbscan",
    "q250_survey_raking",
    "q255_dbscan_profile",
    # ROUND-15 WINDOW — COVERAGE.md "Planned r15 window", executed
    # verbatim: CORRECTNESS_r14 was 50/50 hash-green (zero err, no
    # failure re-entries), so rule 1 front-loads the r14 staged wave
    # (EXT11, q256-q261) in registration order — the staged backlog
    # stays at ZERO.  The r15-session r14-ADVICE fixes touch only these
    # wave modules (cucconi/ece + the friedman/quantreg chkpt routing),
    # whose queries lead the window anyway, so rule 2 adds no extra
    # re-entries; the behavior.py contract note is docstring-only
    # (rule-2 exempt by the AST fingerprint).
    "q256_friedman_dow",
    "q257_jonckheere_cohorts",
    "q258_cliffs_effect",
    "q259_cucconi_shift",
    "q260_quantile_line",
    "q261_calibration_summary",
    # Rule-2 re-entries: the r15-session scan-audit fixes (the r14
    # VERDICT's five open candidates, adjudicated with the tree-walking
    # audit) edit triangle_count in operators/graph.py (re-flags its
    # three dependents q147/q116/q160) and the q157/q175 query function
    # bodies (re-flags each query alone) — five slots, displacing the
    # planned fill's LAST five entries (q22 q26 q57 q98 q104 -> r16).
    # q39/q137/q202 were adjudicated BY DESIGN (zero live scans; the
    # old audit string-counted cache-fill re-prints), costing nothing.
    "q147_triangle_count",
    "q116_pagerank",
    "q160_personalized_pagerank",
    "q157_revenue_concentration",
    "q175_curation_manifest",
    # Rule-2 re-entries, OPTIMIZATION-round batch: the r15 optimization
    # sweep edited operator modules (bpe/fertility, ngram_lm,
    # importance, setjoin, dimjoin, negatives, selection, multimodal,
    # association — plus the chkpt barrier module those now import), so
    # every tail dependent with a pre-r15 green row re-enters
    # (tests/test_gate_window.py's AST-fingerprint rule; each was
    # re-verified vs DuckDB at sf0.01 AND sf0.1 in-session before
    # landing).  24 slots in registration order, displacing the
    # corresponding tail of the planned fill to r16 (COVERAGE.md
    # "Planned r16 window", updated this round).
    "q117_bpe_merges",
    "q118_bpe_segment",
    "q119_bigram_logprob",
    "q120_top_ngrams",
    "q122_bpe_encode_docs",
    "q123_multimodal_features",
    "q124_audio_features",
    "q127_dsir_importance",
    "q128_ngram_novelty",
    "q129_duplicated_spans",
    "q132_tokenize_and_pack",
    "q142_copurchase_lift",
    "q150_image_phash",
    "q151_image_near_dup",
    "q163_frequent_triples",
    "q164_kneser_ney",
    "q176_tokenizer_fertility",
    "q178_span_removal",
    "q198_asof_enrichment",
    "q211_negative_edges",
    "q233_exact_quantiles",
    # Oldest-verified-first tail refresh (rule 1 fill, 15 remaining
    # slots after the 24 optimization re-entries above; computed from
    # the union of CORRECTNESS rows at r14 close; ties in registration
    # order): the seven r9-era rows (q203 displaced from the r14 window
    # by the q245 rule-2 re-entry, then q220-q225), then the front of
    # the enumerated r10-era band.  q39 q42 q40 q30 q31 q77 q05 q06
    # q08 q09 q10 q11 q12 q13 q14 q46 q18 q27 q44 q41 q86 q28 q20 q21
    # (displaced by the optimization re-entries) plus q22 q26 q57 q98
    # q104 q106 q115 q132 q136 q204 q226 and the rest of the r10-era
    # tail displace to r16 (enumerated in COVERAGE.md "Planned r16
    # window").
    "q203_lorenz_points",
    "q220_kcenter_coreset",
    "q221_label_propagation",
    "q222_good_turing",
    "q223_epoch_plan",
    "q224_feature_hashing",
    "q225_rare_bigram_band",
    "q32_simhash",
    "q43_simhash_neardup",
    "q33_kv_parse",
    "q34_date_functions",
    "q35_vector_stats",
    "q36_rollup",
    "q37_pivot",
    "q38_srp_lsh_buckets",
]


def _reorder() -> None:
    snapshot = dict(QUERIES)
    missing = [n for n in _PRIORITY if n not in snapshot]
    if missing:
        raise RuntimeError(f"priority list names unknown queries: {missing}")
    QUERIES.clear()
    for n in _PRIORITY:
        QUERIES[n] = snapshot[n]
    for n in snapshot:
        if n not in QUERIES:
            QUERIES[n] = snapshot[n]


_reorder()
