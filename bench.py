"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line as the LAST line of stdout:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
Per-query plan fingerprints (the cross-round plan-identity evidence)
are written to BENCH_PLANS.json next to this file.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from magi_etl_spark.chkpt import release  # noqa: E402
from magi_etl_spark.queries import QUERIES  # noqa: E402
from magi_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_orders",
    "q05_region_revenue",
    "q09_top1_per_group",
    "q10_topk_per_group",
    "q11_sessionize",
    "q12_conditional_agg",
    "q25_minhash_lsh_neardup",
    "q27_embedding_topk",
    "q28_embedding_neardup",
    "q30_metric_query_events",
    "q32_simhash",
    "q42_window_benchmark",
    # heavy dedup/similarity tail — visible round-over-round
    "q43_simhash_neardup",
    "q44_lsh_blocked_embedding_dedup",
    "q47_dedup_keep_best",
    # engine surface + nested-subquery breadth
    "q52_min_cost_supplier",
    "q53_dominant_supplier",
    "q54_helix_generic",
    "q58_blame_supplier",
    # training-pipeline operators
    "q55_decontaminate",
    "q56_dataset_mix",
    "q57_sequence_packing",
    "q59_dedup_clusters",
    "q63_vocab_coverage",
    "q65_normalize_text",
    # temporal joins + multi-resolution rollup
    "q66_asof_join",
    "q67_range_join",
    "q68_hypertable_rollup",
    "q71_small_order_parts",
    "q72_large_volume_customers",
    "q73_table_diff",
    # product analytics
    "q74_daily_anomalies",
    "q75_funnel",
    "q76_retention_cohorts",
    "q78_key_skew_profile",
    # concurrency + physical-layout strategies (round 3)
    "q79_concurrent_fanout",
    "q80_bucketed_colocated_join",
    "q81_bloom_pruned_join",
    "q82_grouping_sets",
    "q83_event_gaps",
    "q84_dataset_split",
    # physical layout + ANN init strategies (round 4)
    "q85_zorder_pruned_scan",
    "q86_ivf_kmeans_topk",
    # warehouse ETL + retrieval (round 4)
    "q87_scd2_intervals",
    "q88_bm25_topk",
    "q89_rolling_7d",
    "q90_profile_table",
    "q91_gapfill_interpolate",
    "q92_cdc_apply",
    "q93_scd2_snapshot",
    "q94_token_budget_select",
    # r4 staged extensions, registered at the r5 rotation (the r4 bench
    # timed these in a separate "staged" section; they join the headline
    # as promised when they entered the gate registry)
    "q95_salted_hot_join",
    "q96_fuzzy_linkage",
    "q97_snm_pairs",
    "q98_rrf_fusion",
    "q99_temperature_mix",
    "q100_redact_pii",
    "q101_expectation_suite",
    "q102_incremental_extract",
    "q103_winsorize",
    "q104_semantic_dedup",
    "q105_paragraph_dedup",
    "q106_pq_refine_topk",
    "q107_join_estimate",
    "q108_group_sample_n",
    "q109_unigram_logprob",
    "q110_versioned_table",
    "q111_tfidf_keywords",
    "q112_semantic_decontaminate",
    "q113_corpus_curation",
    # new in round 5
    "q114_incremental_lsh_index",
    "q115_incremental_ivf_index",
    "q116_pagerank",
    # r5 staged extensions, registered at the r6 rotation — same
    # promotion rule as the r4 wave above
    "q117_bpe_merges",
    "q118_bpe_segment",
    "q119_bigram_logprob",
    "q120_top_ngrams",
    "q121_oot_split",
    "q122_bpe_encode_docs",
    "q123_multimodal_features",
    "q124_audio_features",
    "q125_enrich_summary",
    "q126_enrich_poster",
    "q127_dsir_importance",
    "q128_ngram_novelty",
    "q129_duplicated_spans",
    "q130_merge_into",
    "q131_weighted_sample",
    "q132_tokenize_and_pack",
    # r6 staged extensions, registered at the r8 rotation — same
    # promotion rule as the prior waves
    "q133_kmv_distinct",
    "q134_hll_distinct",
    "q135_cms_heavy_hitters",
    "q136_hard_negatives",
    "q137_containment_pairs",
    "q138_curriculum_order",
    "q139_funnel",
    "q140_cohort_retention",
    "q141_markov_transitions",
    "q142_copurchase_lift",
    "q143_psi_drift",
    "q144_mad_outliers",
    "q145_random_projection",
    "q146_rfm_segments",
    "q147_triangle_count",
    "q148_attribution",
    "q149_kmv_set_overlap",
    "q150_image_phash",
    "q151_image_near_dup",
    "q152_ols_trend",
    "q153_wilson_ci",
    "q154_ab_compare",
    "q155_benford_audit",
    "q156_mutual_information",
    "q157_revenue_concentration",
    "q158_dow_seasonality",
    "q159_corr_matrix",
    "q160_personalized_pagerank",
    "q161_fs_linkage",
    "q162_grid_quantiles",
    "q163_frequent_triples",
    "q164_kneser_ney",
    "q165_shard_plan",
    "q166_top_event_paths",
    "q167_phrase_search",
    "q168_seed_classifier",
    "q169_domain_curation",
    "q170_k_anonymity",
    "q171_soft_dedup_weights",
    "q172_golden_records",
    "q173_l_diversity",
    "q174_dp_noisy_counts",
    "q175_curation_manifest",
    "q176_tokenizer_fertility",
    "q177_score_calibration",
    "q178_span_removal",
    "q179_entity_resolution",
    "q180_readability",
    "q181_fk_discovery",
    # r6-residue + r7 + r8 staged extensions, registered at the r9
    # rotation — same promotion rule as the prior waves
    "q182_multi_touch",
    "q183_markov_attribution",
    "q184_active_user_stickiness",
    "q185_concurrency_peaks",
    "q186_revenue_gini",
    "q187_decay_engagement",
    "q188_target_encoding",
    "q189_woe_iv",
    "q190_quota_sample",
    "q191_cusum_alarms",
    "q192_holt_smoothing",
    "q193_winnow_profile",
    "q194_winnow_pairs",
    "q195_similarity_join",
    "q196_script_profile",
    "q197_extract_summary",
    "q198_asof_enrichment",
    "q199_kcore",
    "q200_data_skipping",
    "q201_dynamic_partition_pruning",
    "q202_lsh_candidate_eval",
    "q203_lorenz_points",
    "q204_ivf_recall_eval",
    "q205_theil_sen_trend",
    "q206_langid_confusion",
    "q207_ecdf_normalize",
    "q208_chi_square",
    "q209_survival_curve",
    "q210_common_runs",
    "q211_negative_edges",
    "q212_rendezvous_shards",
    "q213_twap",
    "q214_conversion_latency",
    "q215_weighted_jaccard",
    "q216_token_pmi",
    "q217_entry_exit_bounce",
    "q218_source_datasheet",
    "q219_transition_entropy",
    "q220_kcenter_coreset",
    "q221_label_propagation",
    "q222_good_turing",
    "q223_epoch_plan",
    "q224_feature_hashing",
    "q225_rare_bigram_band",
    # r9 wave, merged at the r10 rotation
    "q226_source_kl_novelty",
    "q227_token_burstiness",
    "q228_weighted_median",
    "q229_conformal_coverage",
    "q230_vocab_cover",
    "q231_hill_tail",
    # r10 wave, merged at the r11 rotation
    "q232_cuped_adjustment",
    "q233_exact_quantiles",
    "q234_boolean_retrieval",
    "q235_ks_drift",
    "q236_logrank_churn",
    "q237_ratio_metric_ci",
    # r11 wave, merged at the r12 rotation
    "q238_group_auc",
    "q239_spatial_pairs",
    "q240_daily_autocorrelation",
    "q241_bh_fdr",
    "q242_cmh_high_value",
    "q243_ndcg_eval",
    # r12 wave, merged at the r13 rotation
    "q244_grid_dbscan",
    "q245_rank_correlation",
    "q246_mann_kendall_trend",
    "q247_mcnemar_switch",
    "q248_rater_agreement",
    "q249_rmst_arms",
    # r14 rotation: the merged r13 wave joins the headline set (213)
    "q250_survey_raking",
    "q251_kruskal_cohorts",
    "q252_cusum_localization",
    "q253_brier_calibration",
    "q254_weighted_kappa",
    "q255_dbscan_profile",
    # r14 wave, merged at the r15 rotation
    "q256_friedman_dow",
    "q257_jonckheere_cohorts",
    "q258_cliffs_effect",
    "q259_cucconi_shift",
    "q260_quantile_line",
    "q261_calibration_summary",
]

_RUNS = 2  # best-of-N: local-mode timings are noisy


# Fingerprint canonicalization lives in magi_etl_spark/plans.py (the
# plan-tooling library) so tests can pin its compile-order stability;
# bench keeps a thin alias for its call sites and artifact notes.
# v2 fingerprints were carried for exactly one transition round (r11,
# diffable against BENCH_r10) and are dropped per the r11 verdict — v3
# is the only channel; v2's digit-stripping blindness is the documented
# r10 ADVICE defect and carrying it longer invites accidental reliance.
from magi_etl_spark.plans import plan_fingerprint as _plan_fingerprint  # noqa: E402

# A 1-min load average above this at bench start means another workload
# shares the host; the artifacts carry an explicit flag so a loaded-host
# run can never masquerade as a plan regression in cross-round diffs
# (the r11 driver bench recorded 203.9 s at load 6.6-11.5 vs the
# committed idle-host 185.9 s — same plans, pure contention).
_LOADED_HOST_1M = 2.0


# External-CPU accounting (r14 VERDICT item 2: the floor-based
# host_loaded_during flag missed an 8.7 1-min mid-run peak).  The 1-min
# load average cannot separate bench's OWN local[32] work from another
# workload's — the floor rule under-triggers (a transient external
# spike never holds the floor) and a max rule over-triggers (bench
# itself pushes 4-10).  /proc jiffy deltas CAN separate them exactly:
# external CPU = (host busy CPU) - (our JVM's CPU) - (this python
# process's CPU), sampled around each query's timed runs.  The flag
# trips when external work averaged more than one full core across the
# run — direct evidence, immune to bench's own load and to the 1-min
# average's ~60 s lag.
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_totals() -> tuple[float, float] | None:
    """(host_busy_s, bench_s) cumulative CPU seconds: all non-idle CPU
    on the host, and the share attributable to this bench — this python
    process plus every live DESCENDANT (spark-submit shell, the JVM,
    and the Python UDF daemon/worker processes the JVM forks, whose CPU
    never lands in the JVM's own utime/stime) plus reaped-children time
    (cutime/cstime, so short-lived workers are not mis-billed as
    external work).  None if /proc is unreadable (non-Linux)."""
    try:
        fields = open("/proc/stat").readline().split()[1:]
        vals = [int(x) for x in fields]
        busy = (sum(vals) - vals[3] - vals[4]) / _CLK_TCK  # - idle - iowait
        stats: dict[int, tuple[int, float]] = {}  # pid -> (ppid, cpu_s)
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                st = open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # raced a process exit
            # post-comm indices: 1=ppid, 11=utime 12=stime 13=cutime
            # 14=cstime (reaped children; live ones are walked below)
            stats[int(p)] = (
                int(st[1]),
                (int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]))
                / _CLK_TCK,
            )
        me = os.getpid()
        mine = set()
        grew = True
        while grew:  # transitive closure over the ppid tree
            grew = False
            for pid, (ppid, _) in stats.items():
                if pid not in mine and (pid == me or ppid in mine):
                    mine.add(pid)
                    grew = True
        bench = sum(stats[pid][1] for pid in mine)
        return busy, bench
    except (OSError, ValueError, IndexError):
        return None


def _materialize(df) -> None:
    """Run the query end-to-end via a noop-format write: every output
    column materializes (``.count()`` lets Spark skip columns the count
    doesn't reference, under-timing projection-heavy plans) and the sink
    discards rows at the executor, so no I/O cost pollutes the timing."""
    df.write.format("noop").mode("overwrite").save()


# The 13 queries BENCH_r01 measured, in its order — the cross-round 2x
# comparison set.  `python bench.py --subset-r01` runs ONLY these in a
# fresh session and writes BENCH_R01_SUBSET.json, so the r01 comparison
# is measured like-for-like (a 13-query session) instead of riding the
# 250+-query session's scheduler/JVM overhead floor, which is what made
# sub-second queries like q42/q32 brush the 2x bar with byte-identical
# plans (the r13 verdict's "What's wrong #1").  The driver's no-arg
# contract is untouched.
_R01_SUBSET = [
    "q01_pricing_summary",
    "q03_top_orders",
    "q05_region_revenue",
    "q09_top1_per_group",
    "q10_topk_per_group",
    "q11_sessionize",
    "q12_conditional_agg",
    "q25_minhash_lsh_neardup",
    "q27_embedding_topk",
    "q28_embedding_neardup",
    "q30_metric_query_events",
    "q32_simhash",
    "q42_window_benchmark",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    subset_r01 = "--subset-r01" in sys.argv[1:]
    spark = get_spark(app_name="magi-etl-bench")

    load_before = os.getloadavg()
    # the r7 headline slowed +43% round-over-round with ZERO plan
    # fingerprints changed — pure host contention (load_avg 6-8 at bench
    # start), but the artifact couldn't prove it without forensic git
    # archaeology.  Noise evidence now rides in the artifacts themselves:
    # every run's wall time is recorded (not just the best), and the 1-min
    # load average is sampled DURING the run, per query.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    plans: dict[str, str] = {}
    load_during: list[float] = []
    ext_cores: dict[str, float] = {}
    if load_before[0] > _LOADED_HOST_1M:
        print(
            f"# WARNING: load_1m={load_before[0]:.2f} > {_LOADED_HOST_1M} "
            "at bench start — host is loaded; walls are contention-"
            "inflated and the artifact is flagged host_loaded=true",
            file=sys.stderr,
        )
    names = [
        n for n in (_R01_SUBSET if subset_r01 else HEADLINE) if n in QUERIES
    ]
    # Optimization-loop helper (r15): SPARK_GRAFT_BENCH_ONLY=qA,qB runs
    # only the named queries (prefix match) with the same methodology.
    # The driver's no-arg/no-env contract is untouched; subset artifacts
    # land in BENCH_PLANS.json like any run, so treat them as scratch.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only_env:
        wanted = [s.strip() for s in only_env.split(",") if s.strip()]
        names = [
            n
            for n in names
            if any(n == w or n.startswith(w) for w in wanted)
        ]
    # warm the JVM + parquet footers once so timings measure the queries
    _materialize(QUERIES[names[0]](spark, sf_dir))
    release()
    for name in names:
        # release() after each query keeps its barrier blocks from slowing
        # LATER queries (r8 measured q107-q109 at 5×+ their standalone wall
        # from such neighbors); the plan is fingerprinted COLD, before any
        # run, so run order cannot move it (it drifted across r8's runs)
        cold_plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        plans[name] = _plan_fingerprint(None, cold_plan)
        walls: list[float] = []
        cpu0 = _cpu_totals()
        t_q0 = time.perf_counter()
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, sf_dir))
            walls.append(round(time.perf_counter() - t0, 3))
        cpu1 = _cpu_totals()
        if cpu0 and cpu1:
            # external CPU-seconds burned while this query's runs timed,
            # normalized per wall-second: >1.0 means another workload
            # held a full core+ through this query's timed region
            ext = max(0.0, (cpu1[0] - cpu0[0]) - (cpu1[1] - cpu0[1]))
            ext_cores[name] = round(ext / max(1e-9, time.perf_counter() - t_q0), 2)
        runs[name] = walls
        timings[name] = min(walls)
        load_during.append(os.getloadavg()[0])
        release()
        spread = max(walls) - min(walls)
        print(
            f"# {name}: best={timings[name]:.3f}s spread={spread:.3f}s "
            f"plan={plans[name]}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # Plan fingerprints go to a SIDE FILE, not the headline line: the r4
    # headline JSON carried 52 fingerprints + staged timings and outgrew
    # the driver's tail capture (BENCH_r04 parsed: null — the round's
    # number was lost).  The headline stays compact and is the LAST
    # stdout line (r4 VERDICT item 3).
    side_name = "BENCH_R01_SUBSET.json" if subset_r01 else "BENCH_PLANS.json"
    if only_env:
        # scratch artifact: never clobber the committed full-run file
        side_name = "BENCH_SUBSET_SCRATCH.json"
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), side_name),
        "w",
    ) as fh:
        json.dump(
            {
                "sf": sf,
                "runs_per_query": _RUNS,
                "plan_fingerprints": plans,
                "timings": timings,
                # host-contention flag (see _LOADED_HOST_1M): cross-round
                # wall diffs should ignore host_loaded=true artifacts
                "host_loaded": load_before[0] > _LOADED_HOST_1M,
                # the r12 lesson: host_loaded samples the START load
                # only, but degradation can arrive mid-run.  The bench's
                # OWN local[32] work pushes the 1-min average to 4-10
                # even on an idle host (measured across the r12/r13 run
                # series), so a max-based flag would be vacuously true;
                # the FLOOR of the per-query samples is the external
                # signal — bench load decays between queries, so a floor
                # above the bar means another workload held the host
                # through the run
                "host_loaded_during": min(load_during) > _LOADED_HOST_1M,
                # external cores per wall-second for each query's timed
                # region, from /proc jiffy deltas (host busy minus this
                # bench's python+JVM) — the direct mid-run contention
                # evidence the 1-min average's lag and the floor rule
                # both miss (r14 VERDICT item 2); a query with
                # ext_cores ~8 was fighting an 8-core external workload
                # no matter what the load flags say
                "ext_cores_during": ext_cores,
                "load_1m_before": round(load_before[0], 2),
                # every run's wall time (timings keeps the best) plus the
                # 1-min load average sampled after each query: the host-
                # contention evidence the r7 +43% ghost slowdown lacked
                "run_walls": runs,
                "load_1m_during": [round(x, 2) for x in load_during],
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    # Per-query timings live ONLY in BENCH_PLANS.json (above).  The r5
    # headline still inlined the 74-entry timings dict (~2.4 KB) and
    # outgrew the driver's ~2.1 KB tail capture for the second round
    # running (BENCH_r05 parsed: null).  The headline line must stay
    # under ~300 bytes and be the LAST stdout line.
    headline = json.dumps(
        {
            "metric": "r01_subset_wall_sec"
            if subset_r01
            else "headline_query_wall_sec",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "runs_per_query": _RUNS,
            "load_avg_before": [round(x, 2) for x in load_before],
            "load_avg_after": [round(x, 2) for x in os.getloadavg()],
            # max and mean of the 1-min load sampled per query DURING
            # the run — the single number that says whether this bench
            # shared the host (the r7 lesson)
            "load_1m_during_max": round(max(load_during), 2),
            "load_1m_during_mean": round(
                sum(load_during) / len(load_during), 2
            ),
            # true = another workload shared the host at bench start;
            # walls are contention-inflated, not plan regressions
            "host_loaded": load_before[0] > _LOADED_HOST_1M,
            # true = the per-query 1-min load FLOOR stayed above the
            # bar (the bench's own work decays between queries, so a
            # high floor means an EXTERNAL workload held the host
            # through the run — the r12 mid-run-degradation lesson)
            "host_loaded_during": min(load_during) > _LOADED_HOST_1M,
            # true = /proc accounting measured >1 external core on
            # average over SOME query's timed region (direct evidence;
            # catches the transient mid-run spikes the floor rule and
            # the laggy 1-min average both miss — r14 VERDICT item 2)
            "host_contended_during": bool(ext_cores)
            and max(ext_cores.values()) > 1.0,
            "ext_cores_max": max(ext_cores.values(), default=-1.0),
        }
    )
    # 500 B (was 400) after host_contended_during/ext_cores_max joined:
    # still ~4x under the ~2.1 KB driver tail capture that ate the
    # r4/r5 headlines
    assert len(headline) < 500, f"headline line too long: {len(headline)}B"
    sys.stderr.flush()
    print(headline, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
