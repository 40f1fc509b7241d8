"""Registered queries over the round-9 operator additions.

Round-9 wave — deliberately SMALL (the r8 verdict: keep the wave at or
under six so the backlog stays drained), six queries across six NEW
operator modules (no gate-verified file is touched, so no dependency
re-entries):

- ``operators/novelty.py`` — per-source smoothed-KL distributional
  novelty vs the pooled corpus (closed-form absent-token fold, no
  source x vocabulary expansion).
- ``operators/dispersion.py`` — token burstiness (variance-to-mean
  dispersion index, zeros folded analytically).
- ``operators/wquantile.py`` — weighted per-group quantiles (mass-based
  min-value rule, exact integer threshold compare).
- ``operators/conformal.py`` — split-conformal intervals + empirical
  coverage (integer cents end-to-end).
- ``operators/maxcover.py`` — greedy max-vocabulary-coverage document
  selection (k bounded-collect rounds, oracle unrolls them).
- ``operators/tailindex.py`` — Hill power-law tail index over token
  frequencies (TakeOrdered top-k, value-only arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


_TOKS = """
    toks AS MATERIALIZED (
        SELECT d.doc_id, d.source, t.tok
        FROM (SELECT doc_id, source,
                     regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents) d,
             LATERAL unnest(d.tk) AS t(tok)
    )
"""


# --- source KL novelty -------------------------------------------------------


@query(
    "q226_source_kl_novelty",
    oracle=f"""
    WITH {_TOKS},
    st AS MATERIALIZED (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM toks GROUP BY 1, 2
    ),
    corpus AS MATERIALIZED (
        SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1
    ),
    nv AS (
        SELECT CAST(SUM(c_t) AS BIGINT) AS n_corpus,
               CAST(COUNT(*) AS BIGINT) AS v_corpus
        FROM corpus
    ),
    cq AS MATERIALIZED (
        SELECT tok,
               CAST(c_t + 1 AS DOUBLE) / CAST(n_corpus + v_corpus AS DOUBLE)
                   AS q_t
        FROM corpus, nv
    ),
    lq AS (SELECT SUM(ln(q_t)) AS lq_all FROM cq),
    agg AS (
        SELECT st.source,
               CAST(SUM(st.c_st) AS BIGINT) AS n_s,
               CAST(COUNT(*) AS BIGINT) AS v_s,
               SUM(ln(cq.q_t)) AS lq_present,
               SUM(CAST(st.c_st + 1 AS DOUBLE)
                   * ln(CAST(st.c_st + 1 AS DOUBLE))) AS s_clnc,
               SUM(CAST(st.c_st + 1 AS DOUBLE) * ln(cq.q_t)) AS s_clnq
        FROM st JOIN cq USING (tok) GROUP BY 1
    )
    SELECT source,
           n_s AS n_tokens,
           v_s AS vocab_size,
           ROUND(
               (s_clnc - s_clnq
                - CAST(n_s + v_s AS DOUBLE)
                  * ln(CAST(n_s + v_corpus AS DOUBLE)))
               / CAST(n_s + v_corpus AS DOUBLE)
               + (CAST(v_corpus - v_s AS DOUBLE)
                  * (-ln(CAST(n_s + v_corpus AS DOUBLE)))
                  - (lq_all - lq_present))
                 / CAST(n_s + v_corpus AS DOUBLE),
               6) AS kl_nats
    FROM agg, nv, lq
    """,
)
def q226_source_kl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source add-one-smoothed KL divergence against the pooled
    corpus token distribution — the distributional-novelty signal a
    mixture planner reads when weighting corpus slices.  The absent-
    token mass is folded into a closed form (one corpus aggregate +
    one per-(source, token) aggregation), so the plan never expands
    source x vocabulary; the oracle replays the identical operand
    grouping and both sides round to the 6-dp grid."""
    from magi_etl_spark.operators.novelty import source_kl_novelty

    docs = load_table(spark, sf_dir, "documents")
    return source_kl_novelty(docs)


# --- token burstiness --------------------------------------------------------


@query(
    "q227_token_burstiness",
    oracle=f"""
    WITH {_TOKS},
    td AS MATERIALIZED (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    pt AS (
        -- ssq in HUGEINT mirrors the Spark side's decimal(38,0) sum:
        -- exact to 1e38, no silent bigint wrap at corpus scale
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS doc_freq,
               CAST(SUM(c) AS BIGINT) AS total,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ssq
        FROM td GROUP BY 1
    ),
    dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tok, doc_freq, total,
           (CAST(n_docs AS DOUBLE) * CAST(ssq AS DOUBLE)
            - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
           / (CAST(n_docs AS DOUBLE) * CAST(total AS DOUBLE)) AS dispersion
    FROM pt, dd
    WHERE doc_freq >= 5
    ORDER BY total DESC, tok
    LIMIT 200
    """,
)
def q227_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion index of per-document token counts
    (zeros folded analytically — never materialized) for the top-200
    tokens by total count: the bursty-content-word vs even-function-word
    separator.  The emitted double is computed in double arithmetic on
    exactly-ingested integers (identical expression both sides), so
    parity holds without rounding."""
    from magi_etl_spark.operators.dispersion import token_dispersion

    docs = load_table(spark, sf_dir, "documents")
    return token_dispersion(docs, min_df=5, top_n=200)


# --- weighted quantiles ------------------------------------------------------


@query(
    "q228_weighted_median",
    oracle="""
    WITH pv AS (
        SELECT l_returnflag AS rf,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
        GROUP BY 1, 2
    ),
    cum AS (
        -- SUM(BIGINT) is HUGEINT natively: the running weight is what
        -- passes 2**63 first, so it stays un-cast (internal only)
        SELECT rf, v,
               SUM(w) OVER (
                   PARTITION BY rf ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cumw,
               SUM(w) OVER (PARTITION BY rf) AS tot
        FROM pv
    ),
    qs AS (
        SELECT CAST(q AS DOUBLE) AS q, num, den
        FROM (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10))
             AS t(q, num, den)
    )
    SELECT rf, q, CAST(MIN(v) AS BIGINT) AS wq
    FROM cum, qs
    WHERE CAST(cumw AS HUGEINT) * den >= CAST(num AS HUGEINT) * tot
    GROUP BY 1, 2
    """,
)
def q228_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles (p25/p50/p90) per return flag:
    the smallest price (integer cents) whose cumulative shipped
    quantity reaches the quantile's share of the group total.  Equal
    prices collapse before the cumulative sum and the threshold compare
    is exact integer arithmetic (q as num/den), so no float boundary
    can flip a row; the window is partitioned by group, never global."""
    from magi_etl_spark.operators.wquantile import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    return weighted_quantiles(li, ["rf"], "v", "w", [0.25, 0.5, 0.9]).select(
        "rf", "q", F.col("wq").cast("long").alias("wq")
    )


# --- split-conformal calibration ---------------------------------------------


@query(
    "q229_conformal_coverage",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS prio, o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y,
               CAST(CAST(concat('0x', substr(md5(concat('conformal|',
                        CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 3 AS INT) AS fold
        FROM orders
    ),
    model AS (
        SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(CAST(SUM(y) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                    AS BIGINT) AS yhat
        FROM base WHERE fold = 0 GROUP BY 1
    ),
    cal AS (
        SELECT b.prio, b.k, m.n_train, m.yhat,
               abs(b.y - m.yhat) AS r
        FROM base b JOIN model m USING (prio) WHERE b.fold = 1
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY r, k) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY prio) AS BIGINT) AS n_cal
        FROM cal
    ),
    qh AS (
        SELECT prio, n_train, yhat, n_cal, r AS qhat_cents
        FROM ranked
        WHERE rn = LEAST(
            CAST(ceil(CAST((n_cal + 1) * 90 AS DOUBLE) / 100.0) AS BIGINT),
            n_cal)
    )
    SELECT b.prio, q.n_train, q.n_cal, q.qhat_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN abs(b.y - q.yhat) <= q.qhat_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
    FROM base b JOIN qh q USING (prio)
    WHERE b.fold = 2
    GROUP BY 1, 2, 3, 4
    """,
)
def q229_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the per-priority train-mean price
    predictor at 90% target coverage: md5 three-way split, integer-cents
    residuals, finite-sample-corrected k-th-smallest calibration
    quantile, and empirical held-out coverage counts.  Every emitted
    column is BIGINT — no float can flip a hash cell."""
    from magi_etl_spark.operators.conformal import split_conformal

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), "o_orderkey", "o_totalprice"
    )
    return split_conformal(
        orders,
        ["prio"],
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100),
        alpha=0.1,
        seed="conformal",
    )


# --- greedy max-coverage selection -------------------------------------------


def _maxcover_oracle(k: int) -> str:
    ctes = [
        """dt AS MATERIALIZED (
        SELECT DISTINCT d.doc_id, d.tk[r.i] || ' ' || d.tk[r.i + 1] AS tok
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents) d,
             LATERAL unnest(range(1, len(d.tk))) AS r(i))"""
    ]
    for r in range(1, k + 1):
        src = "dt" if r == 1 else f"u{r}"
        if r > 1:
            ctes.append(
                f"u{r} AS (SELECT * FROM dt WHERE tok NOT IN"
                f" (SELECT tok FROM c{r - 1}))"
            )
        ctes.append(
            f"g{r} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g"
            f" FROM {src} GROUP BY 1)"
        )
        ctes.append(
            f"p{r} AS (SELECT doc_id, g FROM g{r}"
            f" ORDER BY g DESC, doc_id LIMIT 1)"
        )
        won = (
            f"SELECT tok FROM {src}"
            f" WHERE doc_id = (SELECT doc_id FROM p{r})"
        )
        if r == 1:
            ctes.append(f"c1 AS ({won})")
        else:
            ctes.append(f"c{r} AS (SELECT tok FROM c{r - 1} UNION {won})")
    selects = []
    for r in range(1, k + 1):
        cum = " + ".join(f"(SELECT g FROM p{i})" for i in range(1, r + 1))
        # EXISTS-guard mirrors the operator's early stop: a round whose
        # uncovered set is empty emits NO row (p{r} empty ⇔ vocabulary
        # exhausted ⇔ vocab_cover_select broke out of the loop), instead
        # of the NULL-filled row an unconditional unroll would produce —
        # the r9 ADVICE latent parity break on short corpora.
        selects.append(
            f"SELECT CAST({r} AS INTEGER) AS sel_rank,"
            f" (SELECT doc_id FROM p{r}) AS doc_id,"
            f" (SELECT g FROM p{r}) AS new_tokens,"
            f" CAST({cum} AS BIGINT) AS cum_tokens"
            f" WHERE EXISTS (SELECT 1 FROM p{r})"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@query("q230_vocab_cover", oracle=_maxcover_oracle(4))
def q230_vocab_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-vocabulary-coverage document selection (4 rounds)
    over token-BIGRAM units: each round anti-joins the (doc, bigram)
    pairs against the covered set, aggregates per-doc uncovered counts,
    and takes the argmax with smallest-doc-id tie-break — the
    submodular (1 - 1/e) selector for lexicon-complete subsamples
    (unigram vocabulary saturates in one pick on this corpus; bigram
    contexts are the coverage unit tokenizer training wants).  Exactly
    k rows cross the driver (the coreset bounded-collect idiom); the
    oracle unrolls the identical four rounds."""
    from magi_etl_spark.operators.maxcover import vocab_cover_trace

    docs = load_table(spark, sf_dir, "documents")
    return vocab_cover_trace(docs, k=4)


# --- Hill tail index ---------------------------------------------------------


def _hill_oracle(ks: list[int]) -> str:
    ctes = [
        """freq AS MATERIALIZED (
        SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents) d,
             LATERAL unnest(d.tk) AS t(tok)
        GROUP BY 1)"""
    ]
    selects = []
    for k in ks:
        ctes.append(
            f"t{k} AS (SELECT f FROM freq ORDER BY f DESC, tok LIMIT {k + 1})"
        )
        ctes.append(
            f"k{k} AS (SELECT CAST(MIN(f) AS BIGINT) AS f_k1 FROM t{k})"
        )
        ctes.append(
            f"h{k} AS (SELECT CAST(MIN(f_k1) AS BIGINT) AS f_k1,"
            f" SUM(ln(CAST(f AS DOUBLE)) - ln(CAST(f_k1 AS DOUBLE)))"
            f" / {float(k)} AS h FROM t{k}, k{k})"
        )
        selects.append(
            f"SELECT CAST({k} AS INTEGER) AS k, f_k1,"
            f" ROUND(h, 6) AS hill_h, ROUND(1.0 / h, 6) AS alpha FROM h{k}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@query("q231_hill_tail", oracle=_hill_oracle([50, 100]))
def q231_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill power-law tail-index estimates at k = 50 and k = 100 over
    the corpus token-frequency distribution — the heavy-end complement
    of the Good-Turing rare-end spectrum (q222).  Top-(k+1) selection
    compiles to TakeOrderedAndProject (no global-sort shuffle); the
    ln-sum depends only on frequency VALUES, so boundary-tie token
    choice cannot move it, and both sides round at the 6-dp grid."""
    from magi_etl_spark.operators.tailindex import hill_tail_index

    docs = load_table(spark, sf_dir, "documents")
    return hill_tail_index(docs, ks=[50, 100])
