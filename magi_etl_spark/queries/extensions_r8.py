"""Registered queries over the round-8 operator additions.

Round-8 wave — deliberately SMALL (the r7 verdict: the verification
backlog must drain faster than it grows), six queries across six NEW
operator modules (no gate-verified file is touched, so no dependency
re-entries):

- ``operators/coreset.py`` — greedy k-center diverse subset selection
  over embeddings (farthest-point traversal, k one-aggregate rounds).
- ``operators/labelprop.py`` — synchronous label-propagation
  communities with smallest-label tie-breaks (one join + two aggs per
  round).
- ``operators/spectrum.py`` — token frequency spectrum + Good-Turing
  adjusted counts (two aggs + one keyed self-join).
- ``operators/epochs.py`` — token-budget epoch planning across sources
  (Hamilton apportionment of the budget, ceiling-division epochs).
- ``operators/hashing_trick.py`` — signed feature hashing and its
  bucket-collision profile (vocabulary-free fixed-dim features).
- ``operators/fluency.py`` — rare-bigram fluency banding (the integer
  perplexity-filter stand-in; verdicts can never float-flip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# --- k-center coreset selection ----------------------------------------------


_SQD = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy farthest-point traversal: round r keeps each
    point's min distance to the chosen set (a running ``least``), then
    selects the argmax with ascending-id tie-break — exactly the
    operator's ``max_by(struct(d, -id))``."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "m1 AS (SELECT e.vec_id, "
        + _SQD.format(a="e.v", b="c.v")
        + " AS d FROM e, c1 c)",
    ]
    selects = [
        "SELECT CAST(1 AS INTEGER) AS sel_rank,"
        " (SELECT vec_id FROM c1) AS vec_id, CAST(0.0 AS DOUBLE) AS sq_dist"
    ]
    for r in range(2, k + 1):
        p = r - 1
        ctes.append(
            f"s{r} AS (SELECT vec_id, d FROM m{p}"
            f" ORDER BY d DESC, vec_id ASC LIMIT 1)"
        )
        ctes.append(
            f"c{r} AS (SELECT e.vec_id, e.v FROM e"
            f" JOIN s{r} ON e.vec_id = s{r}.vec_id)"
        )
        if r < k:
            ctes.append(
                f"m{r} AS (SELECT m.vec_id, least(m.d, "
                + _SQD.format(a="e.v", b="c.v")
                + f") AS d FROM m{p} m JOIN e ON e.vec_id = m.vec_id, c{r} c)"
            )
        selects.append(
            f"SELECT CAST({r} AS INTEGER), vec_id, d FROM s{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@query("q220_kcenter_coreset", oracle=_kcenter_oracle(8))
def q220_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) diverse-subset selection over
    the embedding corpus — the diversity-maximizing data-selection pass
    of a curation pipeline (Gonzalez'85 2-approximation).  Exactly k
    rounds; each round broadcasts the chosen centers as literals and
    issues ONE max_by aggregate over the corpus, so at cluster scale
    this is k map-reduce passes with no pairwise materialization.  The
    oracle unrolls the identical traversal (running ``least`` of
    per-center squared distances, argmax with ascending-id tie-break);
    distances are double-cast before any multiplication on both sides
    (the q27/q44 discipline), so the trace is bit-reproducible."""
    from magi_etl_spark.operators.coreset import kcenter_trace

    e = load_table(spark, sf_dir, "embeddings")
    return kcenter_trace(e, k=8)


# --- label-propagation communities -------------------------------------------


def _lpa_oracle(n_rounds: int) -> str:
    ctes = [
        "ed AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,"
        " -l.l_suppkey AS dst"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)",
        "und AS MATERIALIZED (SELECT src, dst FROM"
        " (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed)"
        " WHERE src <> dst)",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM und)",
    ]
    for t in range(1, n_rounds + 1):
        p = t - 1
        ctes.append(
            f"v{t} AS (SELECT u.src AS id, l.label, COUNT(*) AS n"
            f" FROM und u JOIN l{p} l ON u.dst = l.id GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{t} AS (SELECT id, label FROM ("
            f"SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id"
            f" ORDER BY n DESC, label ASC) AS rn FROM v{t}) WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, label FROM l{n_rounds}"
    )


@query("q221_label_propagation", oracle=_lpa_oracle(3))
def q221_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of synchronous label propagation over the
    customer-supplier transaction graph.  Supplier vertices live in the
    NEGATED id range (``dst = -l_suppkey``) — disjoint from customer
    keys at EVERY scale factor (the r8 ADVICE defect: a fixed +1,000,000
    offset collides with o_custkey at sf >= ~7, merging unrelated
    vertices); the oracle also mirrors the operator's self-loop filter
    (moot under disjoint ranges, but kept aligned by construction).
    Deterministic LPA: synchronous updates, identity initialization,
    neighbor-majority vote with smallest-label tie-break — the oracle
    unrolls all three rounds.  One keyed shuffle join + one aggregate
    keyed on the vertex per round (the first round needs no join),
    labels behind a chkpt barrier so lineage stays flat (the graph.py
    discipline)."""
    from magi_etl_spark.operators.labelprop import label_propagation

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, n_rounds=3)


# --- Good-Turing frequency spectrum ------------------------------------------


@query(
    "q222_good_turing",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT t.tok
        FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents),
             LATERAL unnest(tk) AS t(tok)
    ),
    freq AS MATERIALIZED (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY tok
    ),
    spec AS MATERIALIZED (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY r
    )
    SELECT s.r,
           s.n_r,
           CAST((s.r + 1) * s2.n_r AS DOUBLE) / CAST(s.n_r AS DOUBLE)
               AS r_star
    FROM spec s LEFT JOIN spec s2 ON s2.r = s.r + 1
    """,
)
def q222_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency spectrum with Good-Turing adjusted counts — the
    count-of-counts corpus diagnostic (N_1/N estimates unseen-token
    mass; r* = (r+1)·N_{r+1}/N_r is the smoothed frequency).  Two keyed
    aggregations plus one keyed self-join on r+1 (the spectrum is
    O(sqrt(tokens)) rows, but a lead-window over it would
    single-partition — the join keeps the plan lint-clean).  Integer
    until the single final division: bit-identical across engines."""
    from magi_etl_spark.operators.spectrum import good_turing

    d = load_table(spark, sf_dir, "documents")
    return good_turing(d)


# --- token-budget epoch planning ---------------------------------------------


_EPOCH_BUDGET = 1_000_000


@query(
    "q223_epoch_plan",
    oracle=f"""
    WITH counts AS MATERIALIZED (
        SELECT source,
               CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+')))
                    AS BIGINT) AS available_tokens
        FROM documents GROUP BY source
        HAVING SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) > 0
    ),
    wts AS (
        SELECT source,
               (CAST(concat('0x', substr(md5(concat('w|', source)), 1, 8))
                     AS BIGINT) % 3) + 1 AS weight
        FROM (SELECT DISTINCT source FROM documents)
    ),
    j AS (
        SELECT c.source, w.weight, c.available_tokens
        FROM counts c JOIN wts w ON c.source = w.source
    ),
    t AS (SELECT CAST(SUM(weight) AS BIGINT) AS W FROM j),
    a AS (
        SELECT j.source, j.weight, j.available_tokens,
               (j.weight * {_EPOCH_BUDGET}) // t.W AS fl,
               (j.weight * {_EPOCH_BUDGET}) % t.W AS rem
        FROM j, t
    ),
    s AS (SELECT {_EPOCH_BUDGET} - CAST(SUM(fl) AS BIGINT) AS short FROM a),
    r AS (
        SELECT a.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
        FROM a
    ),
    p AS (
        SELECT source, weight, available_tokens,
               fl + CASE WHEN rk <= (SELECT short FROM s) THEN 1 ELSE 0 END
                   AS target_tokens
        FROM r
    )
    SELECT source,
           CAST(weight AS BIGINT) AS weight,
           available_tokens,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST((target_tokens + available_tokens - 1) // available_tokens
                AS INTEGER) AS epochs,
           CAST((1000 * target_tokens) // available_tokens AS BIGINT)
               AS oversample_permille
    FROM p
    """,
)
def q223_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch plan across corpus sources: a 1M-token run
    apportioned over md5-derived mixture weights (Hamilton largest
    remainder — targets sum EXACTLY to the budget), with per-source
    repetition epochs (ceiling division) and per-mille oversampling
    rates.  One corpus aggregation; everything after rides the tiny
    sources ledger.  All integer arithmetic."""
    from magi_etl_spark.operators.epochs import epoch_mixture_plan
    from magi_etl_spark.functions.text import md5_u32

    d = load_table(spark, sf_dir, "documents")
    weights = d.select("source").distinct().select(
        "source",
        (
            (md5_u32(F.concat_ws("|", F.lit("w"), F.col("source"))) % 3) + 1
        ).alias("weight"),
    )
    return epoch_mixture_plan(d, weights, token_budget=_EPOCH_BUDGET)


# --- feature hashing ----------------------------------------------------------


@query(
    "q224_feature_hashing",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT t.tok
        FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents),
             LATERAL unnest(tk) AS t(tok)
    ),
    h AS MATERIALIZED (
        SELECT tok,
               CAST(concat('0x', substr(md5(concat('hash|b|', tok)), 1, 8))
                    AS BIGINT) % 256 AS bucket,
               CASE WHEN CAST(concat('0x', substr(md5(concat('hash|s|',
                    tok)), 1, 8)) AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(sign) AS BIGINT) AS signed_sum
    FROM h GROUP BY bucket
    """,
)
def q224_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing trick) bucket profile over
    the corpus: occurrence load, distinct-token collisions, and signed
    cancellation per bucket — the diagnostic that sizes ``n_buckets``
    for a vocabulary-free linear classifier.  Tokenize → md5 bucket/sign
    → one keyed aggregation; no vocabulary table exists anywhere, which
    is the operator's 100 TB point."""
    from magi_etl_spark.operators.hashing_trick import bucket_profile

    d = load_table(spark, sf_dir, "documents")
    return bucket_profile(d, n_buckets=256)


# --- rare-bigram fluency banding ----------------------------------------------


@query(
    "q225_rare_bigram_band",
    oracle="""
    WITH grams AS MATERIALIZED (
        SELECT doc_id, tk[j] || ' ' || tk[j + 1] AS bigram
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents),
             LATERAL unnest(range(1, len(tk))) AS t(j)
    ),
    cnt AS MATERIALIZED (
        SELECT bigram, COUNT(*) AS bf FROM grams GROUP BY bigram
    ),
    fl AS (
        SELECT g.doc_id, CASE WHEN c.bf <= 2 THEN 1 ELSE 0 END AS rare
        FROM grams g JOIN cnt c ON g.bigram = c.bigram
    ),
    pd AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(rare) AS BIGINT) AS n_rare
        FROM fl GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_rare,
           CAST((1000 * n_rare) // n_bigrams AS BIGINT) AS rate_permille,
           CAST(CASE WHEN (1000 * n_rare) // n_bigrams BETWEEN 50 AND 800
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM pd
    """,
)
def q225_rare_bigram_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-bigram fluency banding — the integer-arithmetic stand-in
    for CCNet-style perplexity filtering: documents whose rare-bigram
    per-mille rate falls in [50, 800] are kept (near-zero = template
    boilerplate, near-1000 = gibberish).  Per-doc windows build the
    bigrams, one keyed aggregation counts corpus frequencies, the rare
    flag joins back on the bigram key; verdicts are integer end-to-end,
    so no float ordering can flip a keep/drop between engines (the
    reason q119's float mean_logprob stays emit-only)."""
    from magi_etl_spark.operators.fluency import rare_bigram_band

    d = load_table(spark, sf_dir, "documents")
    return rare_bigram_band(d, rare_max=2, keep_lo=50, keep_hi=800)
