"""Pipeline runner CLI — the scheduler shim (SURVEY.md §7.2.9).

The reference schedules pipelines through Celery/RedBeat cron entries
(``dash_app/dash_app.py:1260-1357``); here each pipeline is a
parameterized batch job invokable from any scheduler (cron, Airflow,
spark-submit):

    python -m magi_etl_spark.jobs trending --data-dir DIR --out OUT \
        --anchor-date 2025-02-28
    python -m magi_etl_spark.jobs monetization --data-dir DIR --out OUT \
        --anchor-date 2025-02-28 --threshold 5000
    python -m magi_etl_spark.jobs metric-query --config config.json --out OUT

Determinism: the anchor date is an explicit argument, never wall-clock.
Results land as parquet under ``--out/<output_name>`` plus a Block Kit
report JSON for the Slack-facing pipelines.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _read(spark: SparkSession, data_dir: str, name: str):
    return spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))


def run_trending(spark: SparkSession, args) -> dict[str, str]:
    from magi_etl_spark.pipelines.trending import TrendingConfig, trending_pipeline
    from magi_etl_spark.sinks import render_report, write_parquet

    cfg = TrendingConfig(
        anchor_date=args.anchor_date,
        min_users_total=args.min_users,
        min_users_percent=args.min_users_percent,
        min_page_users=args.min_page_users,
    )
    out = trending_pipeline(
        _read(spark, args.data_dir, "analytics_events"),
        _read(spark, args.data_dir, "dimension_wikis"),
        cfg,
    )
    paths = {}
    for name, df in out.items():
        p = os.path.join(args.out, name)
        write_parquet(df, p)
        paths[name] = p
    render_report(
        {"wiki_summary": out["wiki_summary"]}, os.path.join(args.out, "report.json")
    )
    # grouped-by-vertical Slack layout (reference tasks.py:2191-2193)
    from magi_etl_spark.sinks import slack_blocks_grouped

    blocks = slack_blocks_grouped(
        out["wiki_summary"].where(F.col("vertical_name").isNotNull()),
        "Trending wikis by vertical",
        "vertical_name",
        ["wiki_name", "users", "users_total_vs_benchmark"],
        top_n_per_group=5,
        order_by="users_total_vs_benchmark",
    )
    with open(os.path.join(args.out, "report_by_vertical.json"), "w") as f:
        json.dump(blocks, f, indent=2)
    # wikis whose cached metadata is stale and needs refresh (reference
    # refresh-if-stale gate before the metadata pipeline, tasks.py:2149-2163)
    meta_path = os.path.join(args.data_dir, "wiki_metadata.parquet")
    if os.path.exists(meta_path):
        from magi_etl_spark.pipelines.monetization import stale_metadata

        stale = stale_metadata(spark.read.parquet(meta_path), args.anchor_date)
        top_ids = out["wiki_summary"].select(
            F.col("wiki_id").cast("bigint").cast("string").alias("wiki_id")
        )
        needs = stale.join(top_ids, "wiki_id", "left_semi").select("wiki_id")
        p = os.path.join(args.out, "needs_refresh")
        needs.write.mode("overwrite").parquet(p)
        paths["needs_refresh"] = p
    return paths


def run_monetization(spark: SparkSession, args) -> dict[str, str]:
    from magi_etl_spark.pipelines.monetization import (
        apply_ignore_list,
        unmonetized_wikis,
    )
    from magi_etl_spark.sinks import render_report, write_parquet

    out = unmonetized_wikis(
        _read(spark, args.data_dir, "analytics_events"),
        _read(spark, args.data_dir, "dimension_wikis"),
        args.anchor_date,
        threshold=args.threshold,
    )
    ignore_path = os.path.join(args.data_dir, "ignore_list.parquet")
    if os.path.exists(ignore_path):
        out = apply_ignore_list(out, spark.read.parquet(ignore_path))
    p = os.path.join(args.out, "unmonetized_wikis")
    write_parquet(out, p)
    render_report({"unmonetized": out}, os.path.join(args.out, "report.json"))
    return {"unmonetized_wikis": p}


def run_wiki_metadata(spark: SparkSession, args) -> dict[str, str]:
    from magi_etl_spark.pipelines.wiki_metadata import wiki_metadata_pipeline
    from magi_etl_spark.sinks import write_parquet

    prior_path = os.path.join(args.data_dir, "wiki_metadata.parquet")
    prior = spark.read.parquet(prior_path) if os.path.exists(prior_path) else None
    merged = wiki_metadata_pipeline(
        _read(spark, args.data_dir, "analytics_events"),
        _read(spark, args.data_dir, "dimension_wikis"),
        _read(spark, args.data_dir, "dimension_users"),
        _read(spark, args.data_dir, "taxonomy"),
        prior_metadata=prior,
        anchor_date=args.anchor_date,
    )
    p = os.path.join(args.out, "wiki_metadata")
    write_parquet(merged, p)
    return {"wiki_metadata": p}


def run_metric_query(spark: SparkSession, args) -> dict[str, str]:
    from magi_etl_spark.cache import ResultCache
    from magi_etl_spark.config import MetricQueryConfig
    from magi_etl_spark.query import metric_query

    cfg = MetricQueryConfig.from_dict(json.load(open(args.config)))
    cache = ResultCache(os.path.join(args.out, "_cache"))
    df = cache.get_or_compute(
        spark,
        cfg.cache_key(),
        lambda: metric_query(spark, args.data_dir, cfg),
        force_refresh=args.force_refresh,
    )
    p = os.path.join(args.out, "metric_query")
    df.write.mode("overwrite").parquet(p)
    return {"metric_query": p, "cache_key": cfg.cache_key()}


def run_audit(spark: SparkSession, args) -> dict[str, str]:
    """Distributional audit pass over an events+orders catalog: PSI
    drift of event values around ``--split-ts``, Benford first-digit
    screening of order amounts, and median/MAD outlier flags on the
    daily revenue series — the monitoring composition of
    ``operators/drift.py``/``timeseries.py``, packaged as a scheduled
    job with a one-file JSON summary for alerting."""
    from magi_etl_spark.operators.drift import (
        benford_deviation,
        mad_outliers,
        psi_drift,
    )

    events = _read(spark, args.data_dir, "events")
    orders = _read(spark, args.data_dir, "orders")
    psi = psi_drift(events, split_ts=args.split_ts)
    benford = benford_deviation(orders, ["o_orderpriority"], "o_totalprice")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    outliers = mad_outliers(daily, ["day"], "revenue", threshold=3.0)

    paths = {}
    for name, df in (("psi", psi), ("benford", benford), ("outliers", outliers)):
        p = os.path.join(args.out, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    psi_rows = spark.read.parquet(paths["psi"]).collect()
    ben_rows = spark.read.parquet(paths["benford"]).collect()
    n_out = (
        spark.read.parquet(paths["outliers"]).where(F.col("is_outlier")).count()
    )
    summary = {
        "max_psi": max((r["psi"] for r in psi_rows), default=None),
        "drifted_groups": sorted(
            r["event_type"] for r in psi_rows if r["psi"] > 0.2
        ),
        "max_benford_chi2": max((r["chi2"] for r in ben_rows), default=None),
        "n_revenue_outliers": n_out,
    }
    sp = os.path.join(args.out, "audit_summary.json")
    with open(sp, "w") as f:
        json.dump(summary, f, sort_keys=True)
    paths["summary"] = sp
    return paths


def run_engagement(spark: SparkSession, args) -> dict[str, str]:
    """Engagement-health pass over an events+orders catalog: rolling
    DAU/WAU/MAU stickiness, the user-lifetime survival curve, per-
    segment revenue Gini, and CUSUM changepoint alarms on the daily
    cent series — the behavioral composition of
    ``operators/{engagement,survival,inequality,changepoint}.py``,
    packaged as a scheduled job with a one-file JSON summary for
    alerting."""
    from magi_etl_spark.operators.changepoint import cusum_profile
    from magi_etl_spark.operators.engagement import rolling_active_users
    from magi_etl_spark.operators.inequality import gini_by_group
    from magi_etl_spark.operators.survival import survival_curve

    events = _read(spark, args.data_dir, "events")
    orders = _read(spark, args.data_dir, "orders")
    active = rolling_active_users(events)
    surv = survival_curve(events, max_days=args.max_days)
    gini = gini_by_group(
        orders.select(
            F.col("o_orderpriority").alias("segment"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_m"),
        ),
        ["segment"],
        "o_custkey",
        F.col("_m"),
    )
    daily = events.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    cusum = cusum_profile(daily, "series", "day", "x")

    paths = {}
    for name, df in (
        ("active_users", active),
        ("survival", surv),
        ("gini", gini),
        ("cusum", cusum),
    ):
        p = os.path.join(args.out, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    act = spark.read.parquet(paths["active_users"]).collect()
    alarms = (
        spark.read.parquet(paths["cusum"]).where(F.col("alarm") == 1).collect()
    )
    gi = spark.read.parquet(paths["gini"]).collect()
    summary = {
        "days_observed": len(act),
        "min_stickiness": min((r["stickiness"] for r in act), default=None),
        "max_gini": max((r["gini"] for r in gi), default=None),
        "n_cusum_alarms": len(alarms),
        "alarm_series": sorted({r["series"] for r in alarms}),
    }
    sp = os.path.join(args.out, "engagement_summary.json")
    with open(sp, "w") as f:
        json.dump(summary, f, sort_keys=True)
    paths["summary"] = sp
    return paths


def run_govern(spark: SparkSession, args) -> dict[str, str]:
    """Governance pass over a documents+events catalog: the per-document
    curation manifest (domain verdicts -> kept-set soft-dedup weights ->
    seed-classifier scores), a k-anonymity suppression profile and an
    l-diversity audit of the event extract, and a derandomized-Laplace
    noisy-count release — the curation/privacy composition of
    ``operators/{domains,reweight,classifier,anonymize}.py``, packaged
    as a scheduled job with a one-file JSON summary for alerting."""
    from magi_etl_spark.operators.anonymize import (
        bucketize,
        dp_noisy_counts,
        k_anonymity_profile,
        l_diversity_profile,
    )
    from magi_etl_spark.operators.classifier import seed_classifier_scores
    from magi_etl_spark.operators.domains import (
        curate_domains,
        filter_to_kept_domains,
    )
    from magi_etl_spark.operators.reweight import soft_dedup_weights

    docs = _read(spark, args.data_dir, "documents")
    events = _read(spark, args.data_dir, "events")

    verdicts = curate_domains(docs, "source", "text", args.min_docs, 20)
    kept = filter_to_kept_domains(docs, verdicts, "source")
    weights = soft_dedup_weights(kept, "doc_id", "text")
    scores = seed_classifier_scores(
        docs, F.col("source") == "src0", F.col("source") == "src1"
    )
    manifest = (
        kept.select("doc_id", "source")
        .join(weights, "doc_id")
        .join(scores.select("doc_id", "n_scored", "mean_llr"), "doc_id")
    )

    quasi = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        bucketize(F.col("value"), 50.0).alias("vband"),
        "user_id",
    )
    kanon = k_anonymity_profile(quasi, ["event_type", "day", "vband"], args.k)
    ldiv = l_diversity_profile(
        quasi, ["event_type", "vband"], "user_id", args.l_distinct
    )
    release = dp_noisy_counts(
        events, ["event_type"], epsilon=args.epsilon, seed=args.nonce
    )

    paths = {}
    for name, df in (
        ("manifest", manifest),
        ("domain_verdicts", verdicts),
        ("k_anonymity", kanon),
        ("l_diversity", ldiv),
        ("dp_release", release),
    ):
        p = os.path.join(args.out, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    vrows = spark.read.parquet(paths["domain_verdicts"]).collect()
    man = spark.read.parquet(paths["manifest"])
    summary = {
        "n_domains": len(vrows),
        "kept_domains": sorted(r["source"] for r in vrows if r["kept"]),
        "n_docs_kept": man.count(),
        "eff_tokens_kept": round(
            man.agg(F.sum("eff_tokens")).collect()[0][0] or 0.0, 3
        ),
        "n_suppressed_groups": spark.read.parquet(paths["k_anonymity"])
        .where("suppressed")
        .count(),
        "n_nondiverse_groups": spark.read.parquet(paths["l_diversity"])
        .where("NOT diverse")
        .count(),
    }
    sp = os.path.join(args.out, "govern_summary.json")
    with open(sp, "w") as f:
        json.dump(summary, f, sort_keys=True)
    paths["summary"] = sp
    return paths


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="magi-etl-spark")
    sub = ap.add_subparsers(dest="job", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--data-dir", required=True)
    common.add_argument("--out", required=True)
    common.add_argument("--anchor-date", default="2025-02-28")

    t = sub.add_parser("trending", parents=[common])
    t.add_argument("--min-users", type=int, default=1000)
    t.add_argument("--min-users-percent", type=int, default=2000)
    t.add_argument("--min-page-users", type=int, default=100)

    m = sub.add_parser("monetization", parents=[common])
    m.add_argument("--threshold", type=int, default=5000)

    sub.add_parser("wiki-metadata", parents=[common])

    q = sub.add_parser("metric-query", parents=[common])
    q.add_argument("--config", required=True)
    q.add_argument("--force-refresh", action="store_true")

    a = sub.add_parser("audit", parents=[common])
    a.add_argument("--split-ts", default="2024-01-16")

    en = sub.add_parser("engagement", parents=[common])
    en.add_argument("--max-days", type=int, default=30)

    g = sub.add_parser("govern", parents=[common])
    g.add_argument("--min-docs", type=int, default=10)
    g.add_argument("--k", type=int, default=5)
    g.add_argument("--l-distinct", type=int, default=3)
    g.add_argument("--epsilon", type=float, default=1.0)
    g.add_argument("--nonce", default="release-0")

    args = ap.parse_args(argv)
    from magi_etl_spark.chkpt import release
    from magi_etl_spark.session import get_spark
    from magi_etl_spark.telemetry import RunTelemetry

    spark = get_spark(app_name=f"magi-etl-{args.job}")
    runner = {
        "trending": run_trending,
        "monetization": run_monetization,
        "wiki-metadata": run_wiki_metadata,
        "metric-query": run_metric_query,
        "audit": run_audit,
        "govern": run_govern,
        "engagement": run_engagement,
    }[args.job]
    # run-status telemetry (reference callbacks.py:103-136); in-memory
    # store here — hand RunTelemetry(store=redis_client) a shared store
    # for cross-process ETAs
    telemetry = RunTelemetry()
    run_id = f"{args.job}-{os.getpid()}"
    telemetry.start_run(args.job, run_id)
    paths = runner(spark, args)
    release()  # the pipeline's writes are done: drop its barrier blocks
    duration = telemetry.end_run(args.job, run_id)
    print(
        json.dumps(
            {"job": args.job, "outputs": paths, "duration_sec": round(duration, 3)}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
