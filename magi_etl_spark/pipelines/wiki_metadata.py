"""WikiMetadata pipeline, Spark-first (reference ``dash_app/tasks.py:
565-1600``): 30-day wiki & page traffic, taxonomy flattening with
confidence filtering, top-1 wiki per group, and the metadata upsert.

The AI-summary / poster-scrape enrichment stages (reference F3/F4) are
pluggable edges — see ``magi_etl_spark.operators.enrich``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from magi_etl_spark.calendar import AnchorCalendar
from magi_etl_spark.chkpt import materialize
from magi_etl_spark.functions.strings import (
    canonical_page_metadata,
    split_part,
    wiki_name_from_url,
)


def _window_filter(events: DataFrame, anchor_date, brand: str, platform: str, days: int) -> DataFrame:
    start_date, end_date = AnchorCalendar(anchor_date).rolling_window(days)
    return events.withColumn(
        "d", F.to_date(F.concat_ws("-", "year", "month", "day"))
    ).where(
        F.col("d").between(F.lit(start_date), F.lit(end_date))
        & (F.lower("brand") == brand.lower())
        & (F.lower("platform") == platform.lower())
    )


def wiki_id_traffic(
    events: DataFrame,
    anchor_date: dt.date | str,
    wiki_list: DataFrame | None = None,
    brand: str = "acme",
    platform: str = "web",
    window_days: int = 30,
) -> DataFrame:
    """30-day per-wiki traffic (reference ``wiki_id_traffic`` CTE,
    ``tasks.py:594-608``); the ``'[_Wiki List_]'`` IN-list becomes a
    broadcast semi-join on the varchar-cast key."""
    df = _window_filter(events, anchor_date, brand, platform, window_days).where(
        (F.col("wiki_id") > 0) & F.col("wiki_id").isNotNull()
    )
    if wiki_list is not None:
        wl = wiki_list.select(F.col("wiki_id").cast("string").alias("wl_id")).distinct()
        df = df.join(
            F.broadcast(wl), F.col("wiki_id").cast("string") == F.col("wl_id"), "left_semi"
        )
    return df.groupBy("wiki_id").agg(
        F.countDistinct("analytics_id").alias("users"),
        F.countDistinct("session_id").alias("sessions"),
        F.sum("pageviews").alias("pageviews"),
    )


def wiki_dim_enriched(dim_wikis: DataFrame, dim_users: DataFrame) -> DataFrame:
    """Dimension join + wiki_group derivation (reference ``wiki_metadata``
    CTE, ``tasks.py:610-624``): founding user name, site='acme' filter,
    ``split_part(domain,'/',1)`` group key."""
    u = dim_users.select(
        F.col("user_id").alias("founding_user_id"),
        F.col("user_name").alias("founding_user_name"),
    )
    return (
        dim_wikis.where(F.col("site") == "acme")
        .join(F.broadcast(u), "founding_user_id", "left")
        .select(
            "wiki_id",
            split_part(F.col("domain"), "/", 1).alias("wiki_group"),
            "domain", "created_at", "is_kid_wiki", "is_monetized",
            "vertical_name", "lang", "founding_user_id", "founding_user_name",
        )
    )


def wikis_complete(traffic: DataFrame, meta: DataFrame) -> DataFrame:
    """traffic LEFT JOIN dimension metadata (reference ``wikis_complete``,
    ``tasks.py:626-650``)."""
    m = meta.select(F.col("wiki_id").cast("double").alias("m_wiki_id"), *[c for c in meta.columns if c != "wiki_id"])
    return (
        traffic.join(F.broadcast(m), F.col("wiki_id") == F.col("m_wiki_id"), "left")
        .drop("m_wiki_id")
        .withColumnRenamed("users", "users_30_days")
        .withColumnRenamed("sessions", "sessions_30_days")
        .withColumnRenamed("pageviews", "pageviews_30_days")
    )


def page_breakdown(
    events: DataFrame,
    anchor_date: dt.date | str,
    wiki_list: DataFrame | None = None,
    brand: str = "acme",
    platform: str = "web",
    window_days: int = 30,
    per_wiki_cap: int | None = 1000,  # reference stores top-1000/wiki (tasks.py:931)
) -> DataFrame:
    """30-day per-page traffic with canonicalized URLs (reference
    ``page_breakdown``, ``tasks.py:652-668``); the per-wiki cap is a
    row_number window, not a driver-side head()."""
    df = _window_filter(events, anchor_date, brand, platform, window_days).where(
        (F.col("wiki_id") > 0)
        & F.col("wiki_id").isNotNull()
        & ~F.col("page_url").like("%turbopages.org%")
    )
    if wiki_list is not None:
        wl = wiki_list.select(F.col("wiki_id").cast("string").alias("wl_id")).distinct()
        df = df.join(
            F.broadcast(wl), F.col("wiki_id").cast("string") == F.col("wl_id"), "left_semi"
        )
    out = (
        df.withColumn("page", canonical_page_metadata(F.col("page_url")))
        .groupBy("wiki_id", "page")
        .agg(
            F.countDistinct("analytics_id").alias("users_30_days"),
            F.countDistinct("session_id").alias("sessions_30_days"),
            F.sum("pageviews").alias("pageviews_30_days"),
        )
    )
    if per_wiki_cap is not None:
        w = W.partitionBy("wiki_id").orderBy(F.desc("pageviews_30_days"), F.asc("page"))
        out = out.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= per_wiki_cap
        ).drop("rn")
    return out


def top_wiki_id_per_group(
    events: DataFrame,
    anchor_date: dt.date | str,
    groups: DataFrame | None = None,
    brand: str = "acme",
    platform: str = "web",
    window_days: int = 30,
) -> DataFrame:
    """Dominant wiki_id per wiki_group over the window (reference
    ``top_wiki_id``, ``tasks.py:670-692``)."""
    df = _window_filter(events, anchor_date, brand, platform, window_days).withColumn(
        "wiki_group", wiki_name_from_url(F.col("page_url"))
    )
    if groups is not None:
        g = groups.select(F.col("wiki_group").cast("string").alias("wg")).distinct()
        df = df.join(F.broadcast(g), F.col("wiki_group") == F.col("wg"), "left_semi")
    agg = df.groupBy("wiki_group", "wiki_id").agg(F.sum("pageviews").alias("pageviews"))
    w = W.partitionBy("wiki_group").orderBy(F.desc("pageviews"), F.asc_nulls_last("wiki_id"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("wiki_group", "wiki_id", "pageviews")
    )


def _vals(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x["value"])


def _confs(col: str) -> Column:
    # Presto array_join implicitly casts doubles to varchar; mirrored
    return F.transform(F.col(col), lambda x: x["confidence"].cast("string"))


def taxonomy_flatten(taxonomy: DataFrame) -> DataFrame:
    """The ``tax`` CTE (reference ``tasks.py:694-713``): map-key extraction
    + struct-array projections joined into CSV strings.  Presto's
    ``x[1]``/``x[2]`` row-field access maps to struct fields, NOT array
    positions (SURVEY.md §7.4.1); ``transform(...)[1]`` first-element
    access maps to try_element_at (NULL on empty, ANSI-safe)."""
    return taxonomy.select(
        F.col("content_ids").getItem("article_id").alias("article_id"),
        F.col("content_ids").getItem("wiki_id").alias("wiki_id"),
        "url",
        F.try_element_at(_vals("site_all_verticals"), F.lit(1)).alias("main_vertical"),
        F.array_join(_vals("site_all_verticals"), ",").alias("all_verticals"),
        F.col("site_all_franchises").alias("main_franchise"),
        F.array_join(_vals("page_main_entity_type"), ",").alias("main_entity_type"),
        F.array_join(_vals("page_all_installment_ids"), ",").alias("all_installment_ids"),
        F.array_join(_vals("page_all_installment_types"), ",").alias("all_installment_types"),
        F.array_join(_vals("page_all_installment_titles"), ",").alias("all_installment_titles"),
        F.array_join(_confs("site_all_genres"), ",").alias("all_genres_con"),
        F.array_join(_vals("site_all_genres"), ",").alias("all_genres"),
        F.array_join(_confs("site_all_subgenres"), ",").alias("all_subgenres_con"),
        F.array_join(_vals("site_all_subgenres"), ",").alias("all_subgenres"),
        F.array_join(_vals("page_all_platforms"), ",").alias("all_platforms"),
        F.array_join(_confs("site_all_themes"), ",").alias("all_themes_con"),
        F.array_join(_vals("site_all_themes"), ",").alias("all_themes"),
    )


def wiki_attribute_confidences(
    unity: DataFrame, attr: str, threshold: float = 0.6
) -> DataFrame:
    """Per-wiki attribute values above the confidence threshold (reference
    ``wiki_themes``-style CTEs, ``tasks.py:770-860``): parallel unnest of
    the CSV value/confidence pair via arrays_zip, P6 try-cast semantics
    (malformed confidence -> NULL comparison -> row dropped), distinct."""
    vals = F.split(F.col(f"all_{attr}s"), ",")
    cons = F.split(F.col(f"all_{attr}s_con"), ",")
    pairs = F.explode(F.arrays_zip(vals.alias("value"), cons.alias("con")))
    return (
        unity.where(F.col(f"all_{attr}s").isNotNull())
        .select(F.col("wiki_id"), pairs.alias("p"))
        .select(
            "wiki_id",
            F.col("p.value").alias("value"),
            F.expr("try_cast(p.con as double)").alias("confidence"),
        )
        .where(F.col("confidence") >= F.lit(threshold))
        .distinct()
    )


def attribute_json_strings(confidences: DataFrame) -> DataFrame:
    """Comma-joined one-key JSON cells per wiki (reference
    ``json.dumps({value: confidence})`` packing, ``tasks.py:956-966``),
    deterministically ordered by descending confidence then value."""
    ordered = F.transform(
        F.reverse(
            F.array_sort(
                F.collect_list(F.struct(F.col("confidence"), F.col("value")))
            )
        ),
        lambda s: F.to_json(F.create_map(s["value"], s["confidence"])),
    )
    return confidences.groupBy("wiki_id").agg(
        F.array_join(ordered, ",").alias("json_cells")
    )


def format_crossovers(similar: DataFrame, names: DataFrame, top_n: int = 25) -> DataFrame:
    """Reference crossover string format: ``{name} [{id}] | {score:.0%}``
    comma-joined in rank order (``tasks.py:949``, ``1058-1060``)."""
    named = similar.join(
        names.select(F.col("id").alias("id_b"), F.col("name")), "id_b", "left"
    ).where(F.col("rn") <= top_n)
    key = F.concat(
        F.coalesce(F.col("name"), F.col("id_b").cast("string")),
        F.lit(" ["), F.col("id_b").cast("string"), F.lit("] | "),
        F.bround(F.col("combined_score") * 100).cast("int").cast("string"),
        F.lit("%"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("rn"), key.alias("key")))),
        lambda s: s["key"],
    )
    return named.groupBy(F.col("id_a").alias("wiki_id")).agg(
        F.array_join(ordered, ",").alias("crossover_wikis")
    )


def wiki_metadata_pipeline(
    events: DataFrame,
    dim_wikis: DataFrame,
    dim_users: DataFrame,
    taxonomy: DataFrame,
    prior_metadata: DataFrame | None,
    anchor_date: dt.date | str,
    enricher=None,
    confidence_threshold: float = 0.6,  # reference tasks.py:585
    crossover_alpha: float = 0.7,
) -> DataFrame:
    """The WikiMetadata end-product (reference ``refresh_wiki_ids``,
    ``tasks.py:862-1000``): traffic + dimensions + taxonomy JSON cells +
    crossover recommendations + AI enrichment, upserted over prior state.

    ``last_refreshed`` is the anchor date, not wall-clock (SURVEY §7.4.5);
    the enricher defaults to the deterministic fake."""
    from magi_etl_spark.operators.enrich import (
        AI_SCHEMA_SUFFIX,
        enrich_with,
        fake_media_summary,
    )
    from magi_etl_spark.operators.recommend import (
        cosine_similarity_pairs,
        similar_content,
        taxonomy_features,
    )
    from magi_etl_spark.operators.upsert import upsert

    traffic = wiki_id_traffic(events, anchor_date)
    meta = wiki_dim_enriched(dim_wikis, dim_users)
    complete = wikis_complete(traffic, meta)

    flat = taxonomy_flatten(taxonomy)
    unity = materialize(events_taxonomy_unity(events, flat, anchor_date), eager=False)
    tax_cols = {}
    feature_parts = []
    for attr in ("theme", "genre", "subgenre"):
        conf = wiki_attribute_confidences(unity, attr, confidence_threshold)
        conf = materialize(conf, eager=False)
        tax_cols[f"taxonomy_{attr}s"] = attribute_json_strings(conf)
        # canonical string ids + max-confidence dedupe: the same value can
        # appear at several confidences, which would duplicate the feature
        # and inflate the cosine dot product past 1
        feature_parts.append(
            conf.groupBy(
                F.col("wiki_id").cast("bigint").cast("string").alias("id"),
                F.concat(F.lit(f"{attr}:"), F.col("value")).alias("feature"),
            ).agg(F.max("confidence").alias("value"))
        )
    feats = feature_parts[0]
    for p in feature_parts[1:]:
        feats = feats.unionByName(p)
    norm = F.sqrt(
        F.sum(F.col("value") * F.col("value")).over(W.partitionBy("id"))
    )
    feats = feats.withColumn("value", F.col("value") / norm).where(F.col("id").isNotNull())

    sims = cosine_similarity_pairs(feats)
    pop = complete.select(
        F.col("wiki_id").cast("bigint").cast("string").alias("id"),
        F.col("users_30_days").alias("users"),
    )
    similar = similar_content(sims, pop, pop.select("id"), n=25, alpha=crossover_alpha)
    names = complete.select(
        F.col("wiki_id").cast("bigint").cast("string").alias("id"),
        F.col("wiki_group").alias("name"),
    )
    crossovers = format_crossovers(similar, names)

    record = complete.withColumn(
        "wiki_id", F.col("wiki_id").cast("bigint").cast("string")
    )
    for col_name, df in tax_cols.items():
        side = df.select(
            F.col("wiki_id").alias("t_id"), F.col("json_cells").alias(col_name)
        )
        record = record.join(side, record.wiki_id == side.t_id, "left").drop("t_id")
    record = record.join(crossovers, "wiki_id", "left")
    record = enrich_with(record, enricher or fake_media_summary, AI_SCHEMA_SUFFIX)
    record = record.withColumn(
        "last_refreshed",
        F.lit(AnchorCalendar(anchor_date).current_date.isoformat() + "T00:00:00"),
    )
    if prior_metadata is not None:
        # align the prior to the NEW record schema (missing columns become
        # NULL) — a narrow prior must not silently drop fresh columns
        aligned = prior_metadata.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in prior_metadata.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in record.schema.fields
            ]
        )
        record = upsert(record, aligned, ["wiki_id"])
    return record


def events_taxonomy_unity(
    events: DataFrame,
    taxonomy_flat: DataFrame,
    anchor_date: dt.date | str,
    wiki_list: DataFrame | None = None,
    brand: str = "acme",
    platform: str = "web",
    window_days: int = 30,
) -> DataFrame:
    """events FULL OUTER JOIN taxonomy on varchar-cast (wiki_id, article_id)
    (reference ``unity``, ``tasks.py:726-748``; J1).  The window filter
    applies *after* the join on the events-side date — taxonomy-only rows
    are dropped by it, faithfully to the reference.

    Intent-deviation (SURVEY §7.4.2, same as helix.py): the wiki join key
    is floor-normalized — a raw ``cast(double as varchar)`` ('100.0')
    could never equal the taxonomy's integer-string ids."""
    cal = AnchorCalendar(anchor_date)
    start_date, end_date = cal.rolling_window(window_days)
    amp = events.where(
        (F.lower("brand") == brand.lower()) & (F.lower("platform") == platform.lower())
    )
    if wiki_list is not None:
        wl = wiki_list.select(F.col("wiki_id").cast("string").alias("wl_id")).distinct()
        amp = amp.join(
            F.broadcast(wl), F.col("wiki_id").cast("string") == F.col("wl_id"), "left_semi"
        )
    t1 = amp.select(
        F.col("wiki_id"), F.col("analytics_id"), F.col("pageviews"),
        F.col("content_id"), F.col("year"), F.col("month"), F.col("day"),
        F.floor("wiki_id").cast("bigint").cast("string").alias("j_wiki"),
        F.col("content_id").cast("string").alias("j_article"),
    )
    t2 = taxonomy_flat.select(
        F.col("wiki_id").alias("tax_wiki_id"),
        F.col("article_id"),
        "all_themes", "all_themes_con", "all_genres", "all_genres_con",
        "all_subgenres", "all_subgenres_con",
    )
    joined = t1.join(
        t2,
        (t1.j_wiki == t2.tax_wiki_id.cast("string"))
        & (t1.j_article == t2.article_id.cast("string")),
        "full",
    )
    # NULL-propagating concat (Presto parity): taxonomy-only rows have NULL
    # partition columns -> NULL date -> dropped by BETWEEN, like the
    # reference.  concat_ws would yield '' and ANSI-fail the cast.
    reassembled = F.to_date(
        F.concat(F.col("year"), F.lit("-"), F.col("month"), F.lit("-"), F.col("day"))
    )
    return (
        joined.where(reassembled.between(F.lit(start_date), F.lit(end_date)))
        .select(
            "wiki_id",
            "analytics_id",
            "pageviews",
            F.concat(F.col("wiki_id").cast("string"), F.lit("-"), F.col("content_id")).alias(
                "wiki_article_id"
            ),
            "all_themes", "all_themes_con", "all_genres", "all_genres_con",
            "all_subgenres", "all_subgenres_con",
        )
    )
