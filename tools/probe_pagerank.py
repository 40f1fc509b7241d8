"""Interleaved ABAB probe for the q116/q160 pagerank shapes (r16,
VERDICT item 1): current barriers (materialized edges + out-degree)
vs the pre-e39a37e lazy shape.

Usage: python tools/probe_pagerank.py [n_rounds]

Each arm runs the FULL q116/q160 query bodies (edge derivation included)
to a noop sink; arms are interleaved so host drift hits all arms alike.
Per-iteration wall breakdown is printed for one instrumented run per arm.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from magi_etl_spark.chkpt import materialize, release  # noqa: E402
from magi_etl_spark.session import get_spark  # noqa: E402
from magi_etl_spark.tables import load_table  # noqa: E402


def pagerank_v(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    reset_vertices: DataFrame | None = None,
    edge_mode: str = "ckpt",  # ckpt | lazy
    deg_mode: str = "ckpt",  # ckpt | lazy
    iter_times: list | None = None,
) -> DataFrame:
    e = edges.select(F.col("src"), F.col("dst"))
    if edge_mode == "ckpt":
        e = materialize(e)
    vertices = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .transform(materialize, eager=False)
    )
    n = vertices.count()
    if reset_vertices is None:
        reset = vertices.select("v", F.lit(1.0 / n).alias("_rp"))
    else:
        seed_col = reset_vertices.columns[0]
        seeds = reset_vertices.select(F.col(seed_col).alias("v")).distinct()
        n_seeds = seeds.count()
        reset = vertices.join(
            seeds.withColumn("_s", F.lit(1)), "v", "left"
        ).select(
            "v",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("_rp"),
        )
    reset = materialize(reset, eager=False)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if deg_mode == "ckpt":
        out_deg = materialize(out_deg)
    links = materialize(e.join(out_deg, "src"), eager=False)
    ranks = reset.select("v", F.col("_rp").alias("rank"))
    for _ in range(iterations):
        t0 = time.perf_counter()
        contribs = (
            links.join(ranks.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        dangling = (
            ranks.join(out_deg.withColumnRenamed("src", "v"), "v", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass"))
        )
        ranks = (
            reset.join(contribs, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                (
                    F.lit(1.0 - damping) * F.col("_rp")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("_dmass") * F.col("_rp")
                    )
                ).alias("rank"),
            )
            .transform(materialize)
        )
        if iter_times is not None:
            iter_times.append(round(time.perf_counter() - t0, 3))
    return ranks.select(F.col("v").alias("vertex"), "rank")


def _edges(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )


def _q116(spark, sf_dir, **kw):
    out = pagerank_v(_edges(spark, sf_dir), iterations=10, **kw)
    return out.select("vertex", F.round("rank", 6).alias("rank"))


def _q160(spark, sf_dir, **kw):
    edges = _edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .where((F.col("v") < 1000000) & (F.col("v") % 50 == 0))
    )
    out = pagerank_v(edges, iterations=8, reset_vertices=seeds, **kw)
    return out.select("vertex", F.round("rank", 6).alias("rank")).where(
        F.col("rank") > 0
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


ARMS = {
    "A_cur(ckpt,ckpt)": dict(edge_mode="ckpt", deg_mode="ckpt"),
    "B_old(lazy,lazy)": dict(edge_mode="lazy", deg_mode="lazy"),
}


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pagerank-probe")
    # warm-up
    _noop(_q116(spark, sf_dir, **ARMS["A_cur(ckpt,ckpt)"]))
    release()
    walls: dict[str, dict[str, list[float]]] = {
        q: {a: [] for a in ARMS} for q in ("q116", "q160")
    }
    for r in range(rounds):
        for arm, kw in ARMS.items():
            for qname, fn in (("q116", _q116), ("q160", _q160)):
                spark.sparkContext.setJobDescription(f"{qname} {arm} r{r}")
                t0 = time.perf_counter()
                _noop(fn(spark, sf_dir, **kw))
                w = round(time.perf_counter() - t0, 3)
                walls[qname][arm].append(w)
                release()
                print(f"round {r} {qname} {arm}: {w}s", flush=True)
    print("\n=== summary (min / median) ===")
    for qname in walls:
        for arm, ws in walls[qname].items():
            ws2 = sorted(ws)
            print(
                f"{qname} {arm}: min={ws2[0]} med={ws2[len(ws2) // 2]} all={ws}"
            )
    # per-iteration breakdown, one instrumented run per arm on q116
    print("\n=== per-iteration walls (q116) ===")
    for arm, kw in ARMS.items():
        it: list = []
        t0 = time.perf_counter()
        _noop(_q116(spark, sf_dir, iter_times=it, **kw))
        print(
            f"{arm}: total={round(time.perf_counter() - t0, 3)} iters={it}",
            flush=True,
        )
        release()
    spark.stop()


if __name__ == "__main__":
    main()
