"""Round-10 regression tests: the four r9 ADVICE items plus the two
deferred scale-default derivations (the q211 fixed-parameter class,
generalized to packing buckets and IVF list counts)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F


# --- ADVICE 1: conformal alpha must be a whole percent ----------------------


def test_conformal_rejects_non_round_percent_alpha(spark):
    """r9 ADVICE (low): alpha=0.025 banker-rounds to 2% and silently
    computes a miscalibrated quantile; unsupported alphas now fail
    loudly instead."""
    from magi_etl_spark.operators.conformal import split_conformal

    df = spark.createDataFrame(
        [("g", i, 100 + i) for i in range(9)], "grp string, k int, y int"
    )
    for bad in (0.025, 0.001, 0.0, 1.0, -0.1, 0.999):
        with pytest.raises(ValueError, match="whole percent"):
            split_conformal(df, ["grp"], "k", F.col("y"), alpha=bad)
    # round percents build the plan without raising
    for ok in (0.1, 0.05, 0.5, 0.01, 0.99):
        out = split_conformal(df, ["grp"], "k", F.col("y"), alpha=ok)
        assert "qhat_cents" in out.columns


# --- ADVICE 2: maxcover oracle mirrors the operator's early stop ------------


def test_maxcover_oracle_matches_operator_on_exhausted_vocabulary(spark):
    """r9 ADVICE (low): the unrolled q230 oracle emitted NULL-filled
    rows for rounds past vocabulary exhaustion while the operator
    stopped early — a latent parity break on short corpora.  The oracle
    now EXISTS-guards each round; both sides emit exactly the
    productive rounds."""
    from magi_etl_spark.operators.maxcover import vocab_cover_trace
    from magi_etl_spark.queries.extensions_r9 import _maxcover_oracle

    rows = [(1, "alpha beta gamma"), (2, "delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.sel_rank, r.doc_id, r.new_tokens, r.cum_tokens)
        for r in vocab_cover_trace(docs, k=4).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.execute(_maxcover_oracle(4)).fetchall())
    con.close()
    # two productive rounds only — no NULL-filled rows 3 and 4
    assert len(got) == 2
    assert got == want


# --- ADVICE 3: pruned_read honors the ACTUAL session timezone ---------------


def test_pruned_read_aware_bounds_in_non_utc_session(spark, tmp_path):
    """r9 ADVICE (low): aware bounds were converted with
    astimezone(UTC), hardcoding the session-frame assumption; in a
    non-UTC session the file cut and row predicate shifted by the zone
    offset.  Aware datetimes now convert through the zone
    spark.sql.session.timeZone actually names."""
    from magi_etl_spark.operators.skipping import pruned_read, write_with_stats

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.range(0, 48).select(
            (
                F.to_timestamp(F.lit("2023-01-06 00:00:00"))
                + F.make_interval(hours=F.col("id"))
            ).alias("ts")
        )
        path = str(tmp_path / "ts_skip_ny")
        m = write_with_stats(df, path, "ts", n_files=6)
        assert min(e["lo"] for e in m["files"]).startswith("2023-01-06 00:00")
        # NY walls 10:00..22:00 on 2023-01-06 (EST, UTC-5) are the UTC
        # instants 15:00..2023-01-07T03:00 — the aware bounds below must
        # select exactly those 13 walls, not the UTC walls
        lo = dt.datetime(2023, 1, 6, 15, tzinfo=dt.timezone.utc)
        hi = dt.datetime(2023, 1, 7, 3, tzinfo=dt.timezone.utc)
        got, n_read, n_total = pruned_read(spark, path, lo, hi)
        rows = sorted(
            r.s
            for r in got.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
            ).collect()
        )
        assert rows == [f"2023-01-06 {h:02d}:00:00" for h in range(10, 23)]
        assert 0 < n_read < n_total
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# --- ADVICE 4: dispersion ssq accumulates wrap-free -------------------------


def test_token_dispersion_hand_values_and_decimal_ssq(spark):
    """r9 ADVICE (low): ssq summed as BIGINT can wrap silently under
    non-ANSI Spark at corpus scale while DuckDB promotes to HUGEINT.
    The sum now accumulates in decimal(38,0); hand-computed dispersion
    values pin the arithmetic."""
    from magi_etl_spark.operators.dispersion import token_dispersion

    docs = spark.createDataFrame(
        [(1, "x x x x"), (2, "x"), (3, "y")], "doc_id long, text string"
    )
    out = {
        r.tok: r
        for r in token_dispersion(docs, min_df=1, top_n=10).collect()
    }
    # x: D=3, total=5, ssq=17 -> (3*17 - 25) / (3*5) = 26/15
    assert out["x"].doc_freq == 2 and out["x"].total == 5
    assert out["x"].dispersion == pytest.approx(26.0 / 15.0, abs=1e-9)
    # y: (3*1 - 1) / (3*1) = 2/3
    assert out["y"].dispersion == pytest.approx(2.0 / 3.0, abs=1e-9)


# --- plan fingerprints are compile-order stable ------------------------------


def test_plan_fingerprint_stable_across_distinct_rewrite_compiles(spark, sf_dir):
    """r10 finding: Catalyst's distinct-aggregate rewrite permutes
    Expand projections, grouping keys, output attributes and gid labels
    between two compiles of one query, so the v1 fingerprint of a
    multi-count-distinct plan was a coin flip (q184: 4 compiles = 4
    hashes).  v2 strips numeric literals and sorts the unordered list
    constructs — compile-order stable by construction."""
    from magi_etl_spark.plans import plan_fingerprint
    from magi_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")

    def build():
        # triple count-distinct with heterogeneous arguments — the
        # Expand/gid rewrite shape that exposed the flake
        return ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.countDistinct("user_id").alias("u"),
            F.countDistinct("event_type").alias("t"),
            F.countDistinct(F.round(F.col("value") * 100)).alias("v"),
        )

    fps = {plan_fingerprint(build()) for _ in range(4)}
    assert len(fps) == 1, f"fingerprint not compile-order stable: {fps}"
    # still a SHAPE identity: a different plan hashes differently
    other = plan_fingerprint(ev.groupBy("event_type").count())
    assert other not in fps


# --- scale default 1: packing bucket count derives from the chunk count -----


def test_packing_auto_bucket_count():
    from magi_etl_spark.operators.packing import auto_bucket_count

    assert auto_bucket_count(0) == 16
    assert auto_bucket_count(1) == 16
    assert auto_bucket_count(4096 * 16) == 16       # exactly 16 full buckets
    assert auto_bucket_count(4096 * 16 + 1) == 32   # next power of two
    assert auto_bucket_count(1_000_000) == 256
    assert auto_bucket_count(10_000_000_000) == 4_194_304  # ~2.4k/bucket
    for n in (10, 1_000, 123_456, 10**8, 10**10):
        assert n / auto_bucket_count(n) <= 4096


def test_pack_chunks_default_derives_bucket_count(spark):
    from magi_etl_spark.operators.packing import auto_bucket_count, pack_chunks

    n = 200_000  # auto_bucket_count -> 64
    chunks = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("chunk_idx"),
        F.lit(7).alias("n_chunk_tokens"),
    )
    derived = auto_bucket_count(n)
    assert derived == 64
    packed = pack_chunks(chunks, budget=256)
    lo, hi, nb = packed.agg(
        F.min("bucket"), F.max("bucket"), F.countDistinct("bucket")
    ).first()
    assert 0 <= lo and hi < derived and nb > 16
    # explicit n_buckets stays honored verbatim (oracles pin it)
    pinned = pack_chunks(chunks.limit(1000), budget=256, n_buckets=16)
    assert pinned.agg(F.max("bucket")).first()[0] < 16


# --- scale default 2: IVF n_lists ~ sqrt(n) ---------------------------------


def test_auto_n_lists():
    from magi_etl_spark.operators.similarity import auto_n_lists

    assert auto_n_lists(1) == 1
    assert auto_n_lists(5) == 5            # capped at n (KMeans k <= n)
    assert auto_n_lists(64) == 8           # sqrt floor
    assert auto_n_lists(100) == 16         # sqrt(100)=10 -> next pow2
    assert auto_n_lists(2**20) == 1024     # exact sqrt
    assert auto_n_lists(1_000_000) == 1024
    assert auto_n_lists(10**10) == 131_072  # ~76k vectors/list at 1e10
    assert auto_n_lists(100, floor=16) == 16
    for n in (10**4, 10**6, 10**8, 10**10):
        # probe fraction n/n_lists grows only as sqrt(n), never linearly
        assert n / auto_n_lists(n) <= 2 * (n ** 0.5)


def test_auto_n_planes_and_srp_default_generates_planes(spark, sf_dir):
    """The old default (seed_planes=None, no generation) hashed every
    vector into ONE corpus-wide bucket; a fixed 8-plane choice caps the
    bucket count at 256 so occupancy grows linearly.  The default now
    derives ceil(log2(n/64)) planes and generates them deterministically."""
    from magi_etl_spark.operators.similarity import (
        auto_n_planes,
        srp_lsh_buckets,
    )
    from magi_etl_spark.tables import load_table

    assert auto_n_planes(1) == 4
    assert auto_n_planes(64 * 256) == 8          # the old fixed default
    assert auto_n_planes(64 * 256 + 1) == 9
    assert auto_n_planes(10**10) == 28           # ~60/bucket at 1e10
    assert auto_n_planes(10**12) == 32           # clamp
    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    b1 = srp_lsh_buckets(em)
    b2 = srp_lsh_buckets(em)
    rows1 = {(r.vec_id, r.bucket) for r in b1.collect()}
    rows2 = {(r.vec_id, r.bucket) for r in b2.collect()}
    assert rows1 == rows2  # seeded planes: deterministic across builds
    width = len(next(iter(rows1))[1])
    assert width == auto_n_planes(n)
    assert len({b for _, b in rows1}) > 1  # not one corpus-wide bucket


def test_srp_derived_planes_keep_neardup_recall(spark):
    """Quality pin for the derived plane count: near-identical vectors
    (cosine ≈ 1) must still co-bucket under the derived number of
    planes — deriving MORE planes for bigger corpora must not break
    the LSH property the buckets exist for."""
    from magi_etl_spark.operators.similarity import srp_lsh_buckets

    rows = []
    for i in range(200):
        base = [((i * 37 + d * 11) % 19) - 9.0 for d in range(8)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [x + 0.001 * ((d + i) % 3) for d, x in
                                 enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    buckets = {r.vec_id: r.bucket for r in srp_lsh_buckets(df).collect()}
    hits = sum(1 for i in range(200) if buckets[2 * i] == buckets[2 * i + 1])
    assert hits >= 180, f"near-dup co-bucket rate too low: {hits}/200"


def test_ivf_kmeans_default_derives_n_lists(spark, sf_dir):
    from magi_etl_spark.operators.similarity import auto_n_lists, ivf_index
    from magi_etl_spark.tables import load_table

    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    assigned, centroids = ivf_index(em, seed=42)
    assert len(centroids) == auto_n_lists(n, floor=16)


def test_ivf_sampled_default_derives_n_lists(spark, sf_dir):
    from magi_etl_spark.operators.similarity import (
        auto_n_lists,
        ivf_index_sampled,
    )
    from magi_etl_spark.tables import load_table

    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    assigned, centroids = ivf_index_sampled(em, init="hash", seed=7)
    assert len(centroids) == auto_n_lists(n, floor=8)
    assert assigned.select(F.countDistinct("list_id")).first()[0] <= len(
        centroids
    )
