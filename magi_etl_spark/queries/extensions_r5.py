"""Registered queries over the round-5 operator additions.

The BPE oracles use the same two devices the q116 PageRank oracle
established: iteration unrolled as chained CTEs (one pair-count /
argmax / rewrite triple per merge) and ``AS MATERIALIZED`` on every
CTE — DuckDB inlines CTEs by default, and the per-iteration
self-reference would otherwise expand exponentially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magi_etl_spark.queries import query
from magi_etl_spark.tables import load_table


# Shared oracle CTE: the corpus word vocabulary in the padded
# double-space character segmentation (operators/bpe.py encoding).
_BPE_W0 = """
    w0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               ' ' || array_to_string(
                   list_transform(range(1, length(word) + 1),
                                  i -> word[i]), '  ') || ' ' AS sym
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
              FROM documents)
        GROUP BY word
    )"""


def _bpe_iter_ctes(n_merges: int) -> str:
    """One (pair-count, argmax, rewrite) CTE triple per merge."""
    blocks = []
    prev = "w0"
    for i in range(1, n_merges + 1):
        blocks.append(
            f"""
    pc{i} AS MATERIALIZED (
        SELECT syms[j] AS l, syms[j + 1] AS r, SUM(freq) AS cnt
        FROM (SELECT freq, string_split(trim(sym), '  ') AS syms FROM {prev}),
             LATERAL unnest(range(1, len(syms))) AS t(j)
        GROUP BY 1, 2
    ),
    best{i} AS MATERIALIZED (
        SELECT l, r, cnt FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    w{i} AS MATERIALIZED (
        SELECT w.word, w.freq,
               replace(w.sym, ' ' || b.l || '  ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') AS sym
        FROM {prev} w CROSS JOIN best{i} b
    )"""
        )
        prev = f"w{i}"
    return ",".join(blocks)


def _bpe_merges_oracle(n_merges: int) -> str:
    finals = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS merge_rank, l, r, l || r AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_freq FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
    WITH {_BPE_W0},{_bpe_iter_ctes(n_merges)}
{finals}
    """


@query("q117_bpe_merges", oracle=_bpe_merges_oracle(10))
def q117_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first 10 merges: the corpus
    is scanned ONCE into a frequency-weighted word vocabulary; each
    merge is a pair-count aggregate over the |V|-row vocabulary, a
    deterministic argmax (count desc, pair asc), and a symbol-string
    rewrite via the double-space ``replace`` encoding that makes greedy
    non-overlapping merge semantics engine-portable.  The oracle
    unrolls the identical 10 iterations as MATERIALIZED SQL CTEs."""
    from magi_etl_spark.operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d, n_merges=10)


def _bpe_segment_oracle(n_merges: int) -> str:
    return f"""
    WITH {_BPE_W0},{_bpe_iter_ctes(n_merges)}
    SELECT word, freq,
           array_to_string(string_split(trim(sym), '  '), ' ') AS segmented
    FROM w{n_merges}
    """


@query("q118_bpe_segment", oracle=_bpe_segment_oracle(10))
def q118_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side of BPE: train 10 merges (driver-side merge loop —
    the production shape, 2 Spark jobs, merge table pinned identical to
    the distributed loop q117 gates), then segment the whole word
    vocabulary with them (chained column rewrites, one narrow
    projection).  Output is every word's final segmentation — a green
    row certifies train AND apply end to end against the unrolled
    oracle."""
    from magi_etl_spark.operators.bpe import bpe_train_and_segment

    d = load_table(spark, sf_dir, "documents")
    return bpe_train_and_segment(d, n_merges=10)


@query(
    "q119_bigram_logprob",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, tk[j] AS l, tk[j + 1] AS r
        FROM toks, LATERAL unnest(range(1, len(tk))) AS t(j)
    ),
    model AS MATERIALIZED (
        SELECT l, r, COUNT(*) AS c_lr FROM bg GROUP BY 1, 2
    ),
    left_tot AS MATERIALIZED (
        SELECT l, SUM(c_lr) AS c_l FROM model GROUP BY 1
    ),
    v AS MATERIALIZED (
        SELECT COUNT(DISTINCT tok) AS v_size
        FROM (SELECT unnest(tk) AS tok FROM toks)
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((m.c_lr + 0.5) / (lt.c_l + 0.5 * v.v_size))), 6)
               AS mean_logprob
    FROM bg b
    JOIN model m ON b.l = m.l AND b.r = m.r
    JOIN left_tot lt ON b.l = lt.l
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q119_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring: mean conditional log probability of
    each document's adjacent word pairs under the corpus's own
    add-0.5-smoothed bigram model — the order-sensitive upgrade of the
    q109 unigram proxy (word salad scores at the floor here even when
    its unigrams are common).  Model tables are keyed aggregates joined
    back on the bigram key; V rides as a broadcast scalar."""
    from magi_etl_spark.operators.ngram_lm import bigram_logprob_scores

    d = load_table(spark, sf_dir, "documents")
    out = bigram_logprob_scores(d, "doc_id", "text", smoothing=0.5)
    return out.select(
        "doc_id", "n_bigrams", F.round("mean_logprob", 6).alias("mean_logprob")
    )


@query(
    "q120_top_ngrams",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, tk[j] || ' ' || tk[j + 1] || ' ' || tk[j + 2] AS ngram
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    )
    SELECT ngram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM grams
    GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram
    LIMIT 25
    """,
)
def q120_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word trigrams with document frequency — the
    boilerplate/contamination recon pass (chart-topping n-grams are
    headers, license tails, template fragments).  A (ngram, doc)
    pre-aggregate combines within-document repetition map-side before
    the per-ngram rollup; the cut
    is a distributed TakeOrdered on (count desc, ngram asc)."""
    from magi_etl_spark.operators.ngram_lm import top_ngrams

    d = load_table(spark, sf_dir, "documents")
    return top_ngrams(d, n=3, k=25)


@query(
    "q121_oot_split",
    oracle="""
    WITH ranked AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id,
           CASE WHEN rn * 100 <= n * 80 THEN 'train' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM ranked
    GROUP BY 1, 2
    """,
)
def q121_oot_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-time 80/20 split per user: each user's earliest 80% of
    events (by ts, tie-broken by event_id) train, the rest test —
    leakage-impossible evaluation for temporal models, where the
    hash-split (q84) would leak the future.  The boundary test is
    integer-exact (rn*100 <= n*80), so no float boundary can disagree
    between engines.  Output: per (user, split) event counts and
    cent-exact value sums."""
    from magi_etl_spark.operators.splits import out_of_time_split

    e = load_table(spark, sf_dir, "events")
    s = out_of_time_split(e, ["user_id"], "ts", "event_id", train_pct=80)
    return s.groupBy("user_id", "split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    return f"""
    WITH {_BPE_W0},{_bpe_iter_ctes(n_merges)},
    seg AS MATERIALIZED (
        SELECT word, string_split(trim(sym), '  ') AS ws FROM w{n_merges}
    ),
    symtab AS MATERIALIZED (
        SELECT symbol,
               CAST(row_number() OVER (ORDER BY symbol) - 1 AS INTEGER)
                   AS symbol_id
        FROM (SELECT DISTINCT unnest(ws) AS symbol FROM seg)
    ),
    doc_toks AS MATERIALIZED (
        SELECT doc_id, j AS pos, tk[j] AS word
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
              FROM documents),
             LATERAL unnest(range(1, len(tk) + 1)) AS t(j)
    ),
    flat AS MATERIALIZED (
        SELECT d.doc_id, d.pos, t2.k, st.symbol_id
        FROM doc_toks d
        JOIN seg s ON d.word = s.word,
        LATERAL unnest(range(1, len(s.ws) + 1)) AS t2(k),
        symtab st
        WHERE s.ws[t2.k] = st.symbol
    )
    ,
    numbered AS (
        SELECT doc_id, pos, symbol_id,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos, k)
                   AS rn
        FROM flat
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(symbol_id AS BIGINT) * rn) AS BIGINT)
               AS token_checksum
    FROM numbered GROUP BY doc_id
    """


@query("q122_bpe_encode_docs", oracle=_bpe_encode_oracle(10))
def q122_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end distributed tokenization: train 10 BPE merges
    (driver-side merge loop — 2 Spark jobs, merge table pinned identical
    to the distributed path), number
    the surviving symbols lexicographically, and encode EVERY document
    as its symbol-id sequence in reading order — the input shape
    sequence packing (q57) consumes.  Encoding uses the tokenizer-cache
    trick: each distinct WORD is segmented once in the vocabulary frame
    and joined back to the exploded token stream on the word key, so
    per-occurrence work is a join probe, not a re-segmentation; the
    symbol table rides as a broadcast.  The oracle replays train +
    number + encode from scratch in SQL.

    The gate-facing output folds the id sequence into ONE scalar
    ``token_checksum`` (the ORDER-SENSITIVE integer sum of
    ``symbol_id · position``) rather than the operator's ``array<int>``:
    the r7 driver row proved the external harness's pandas
    canonicalization cannot hash complex-typed cells (``unhashable
    type: 'list'`` inside ``sort_values``), and a repo-wide lint
    (tests/test_output_schemas.py) now bans complex-typed output columns
    from every registered query.  The checksum is pure
    integer HOF arithmetic (a space-joined string column was ~2 s
    slower at sf0.1) and no wider than 40 · 20k² — far inside BIGINT;
    any reordering, substitution, insertion or deletion of the sequence
    changes it.  The array return stays on the operator for the packing
    consumer (q132)."""
    from magi_etl_spark.operators.bpe import bpe_encode_docs

    d = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_docs(d, n_merges=10)
    checksum = F.aggregate(
        F.transform(
            F.col("token_ids"),
            lambda x, i: x.cast("long") * (i + F.lit(1)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        checksum.alias("token_checksum"),
    )


@query(
    "q123_multimodal_features",
    oracle="""
    WITH dims AS MATERIALIZED (
        SELECT doc_id,
               4 + doc_id % 5 AS width,
               3 + doc_id % 4 AS height
        FROM documents
    ),
    px AS MATERIALIZED (
        SELECT doc_id, width, height,
               SUM((doc_id * 31 + k * 7) % 256) AS pxsum,
               COUNT(*) AS n
        FROM dims, LATERAL unnest(range(0, width * height)) AS t(k)
        GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           1 AS channels,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(CAST(pxsum AS DOUBLE) / n / 255.0, 6) AS mean_c0
    FROM px
    """,
)
def q123_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal path's first hash-level gate: one REAL grayscale
    PNG per document is synthesized DISTRIBUTED from a closed-form
    pixel law (Arrow-batched mapInPandas + the stdlib zlib/CRC PNG
    encoder), pushed through the real PNG decoder and feature
    extractor, and the decoded (width, height, channels, sample count,
    channel mean) must equal what the oracle predicts from the pixel
    law ARITHMETICALLY — SQL never touches a codec, so a green row
    certifies the whole binary-column round trip: encode, Arrow binary
    transfer, decode, per-channel reduction.  The WAV/audio and
    frame-sampling legs stay pytest-covered
    (tests/test_enrich_multimodal_streaming.py)."""
    from magi_etl_spark.operators.multimodal import (
        extract_features,
        synthesize_test_images,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_test_images(d, "doc_id")
    feats = extract_features(media, on_error="raise")
    f = F.col("features")
    return feats.select(
        F.col("media_id").alias("doc_id"),
        F.element_at(f, 1).cast("int").alias("width"),
        F.element_at(f, 2).cast("int").alias("height"),
        F.element_at(f, 3).cast("int").alias("channels"),
        F.element_at(f, 4).cast("long").alias("n_samples"),
        F.round(F.element_at(f, 5), 6).alias("mean_c0"),
    )


@query(
    "q124_audio_features",
    oracle="""
    WITH params AS MATERIALIZED (
        SELECT doc_id,
               8000 + (doc_id % 4) * 4000 AS rate,
               50 + doc_id % 20 AS n_frames
        FROM documents
    ),
    samp AS MATERIALIZED (
        SELECT doc_id, rate, n_frames, k,
               (doc_id * 37 + k * 11) % 4096 - 2048 AS s
        FROM params, LATERAL unnest(range(0, n_frames)) AS t(k)
    ),
    stats AS MATERIALIZED (
        SELECT doc_id, rate, n_frames,
               SUM(CAST(s AS DOUBLE) * s / 1073741824.0) AS sumsq,
               MAX(ABS(s)) AS maxabs,
               SUM(CASE WHEN k < n_frames - 1
                        AND ((s >= 0) <> (((doc_id * 37 + (k + 1) * 11) % 4096
                                           - 2048) >= 0))
                        THEN 1 ELSE 0 END) AS crossings
        FROM samp GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           1 AS channels,
           CAST(n_frames AS BIGINT) AS n_frames,
           ROUND(CAST(n_frames AS DOUBLE) / rate, 6) AS duration_sec,
           ROUND(sqrt(sumsq / n_frames), 6) AS rms_c0,
           ROUND(CAST(maxabs AS DOUBLE) / 32768.0, 6) AS peak,
           ROUND(CAST(crossings AS DOUBLE) / (n_frames - 1), 6) AS zcr
    FROM stats
    """,
)
def q124_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio twin of q123: real mono 16-bit PCM WAVs synthesized
    distributed from a closed-form integer sample law (amplitudes are
    dyadic rationals, so encode→decode is bit-exact), decoded by the
    real RIFF/WAVE chunk-walk decoder, reduced to clip-level corpus-
    filter stats (rate, frames, duration, RMS, peak, zero-crossing
    rate) — all predicted arithmetically by the oracle.  A green row
    certifies the audio binary round trip the same way q123 certifies
    the image one."""
    from magi_etl_spark.operators.multimodal import (
        extract_features,
        real_audio_decode,
        synthesize_test_audio,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_test_audio(d, "doc_id")
    feats = extract_features(
        media, decoder=real_audio_decode, media_type="audio", on_error="raise"
    )
    f = F.col("features")
    return feats.select(
        F.col("media_id").alias("doc_id"),
        F.element_at(f, 1).cast("int").alias("sample_rate"),
        F.element_at(f, 2).cast("int").alias("channels"),
        F.element_at(f, 3).cast("long").alias("n_frames"),
        F.round(F.element_at(f, 4), 6).alias("duration_sec"),
        F.round(F.element_at(f, 5), 6).alias("rms_c0"),
        F.round(F.element_at(f, 7), 6).alias("peak"),
        F.round(F.element_at(f, 8), 6).alias("zcr"),
    )


@query(
    "q125_enrich_summary",
    oracle="""
    WITH h AS MATERIALIZED (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex
        FROM documents
    ),
    oddmap AS MATERIALIZED (
        SELECT doc_id, hex,
               substr(hex, 1, 1) IN ('1','3','5','7','9','b','d','f') AS f1,
               substr(hex, 2, 1) IN ('1','3','5','7','9','b','d','f') AS f2,
               substr(hex, 3, 1) IN ('1','3','5','7','9','b','d','f') AS f3,
               substr(hex, 4, 1) IN ('1','3','5','7','9','b','d','f') AS f4,
               substr(hex, 5, 1) IN ('1','3','5','7','9','b','d','f') AS f5
        FROM h
    )
    SELECT doc_id,
           'Summary of ' || CAST(doc_id AS VARCHAR) AS ai_summary,
           'No notable news for ' || CAST(doc_id AS VARCHAR) AS ai_news,
           'franchise_' || substr(hex, 1, 2) AS ai_franchise,
           '{' || '''roblox'': '       || CASE WHEN f1 THEN 'True' ELSE 'False' END
               || ', ''illegal'': '    || CASE WHEN f2 THEN 'True' ELSE 'False' END
               || ', ''kids'': '       || CASE WHEN f3 THEN 'True' ELSE 'False' END
               || ', ''nsfw'': '       || CASE WHEN f4 THEN 'True' ELSE 'False' END
               || ', ''ai_generated'': ' || CASE WHEN f5 THEN 'True' ELSE 'False' END
               || '}' AS ai_flags
    FROM oddmap
    """,
)
def q125_enrich_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-enrichment stage (reference F3) through its REAL
    execution path — Arrow-batched mapInPandas with batch-level rate
    limiting — driven by the deterministic md5-derived fake transport,
    so the DuckDB oracle can reproduce every output string (md5 is
    md5 in both engines; flag booleans are hex-digit parity).  A green
    row certifies the enrichment plumbing: batching, schema append,
    one-row-per-input discipline, the reference's python-dict flag
    format."""
    from magi_etl_spark.operators.enrich import (
        AI_SCHEMA_SUFFIX,
        enrich_with,
        fake_media_summary,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return enrich_with(d, fake_media_summary, AI_SCHEMA_SUFFIX)


@query(
    "q126_enrich_poster",
    oracle="""
    SELECT doc_id,
           'https://img.example.org/doc/' || CAST(doc_id AS VARCHAR)
               || '/poster.png' AS poster_url
    FROM documents
    WHERE doc_id % 7 <> 0
    """,
)
def q126_enrich_poster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrape-enrichment stage (reference F4: og:image poster
    lookup) with the HTTP transport injected as a deterministic fake:
    docs whose id is divisible by 7 serve HTML WITHOUT the og:image
    meta tag (extraction must yield NULL), the rest serve a page whose
    og:image URL is a pure function of the id.  The output filters to
    the found posters; the oracle predicts them directly.  Certifies
    the injected-transport plumbing and the real regex meta-tag
    extraction — including the miss path."""
    from magi_etl_spark.operators.enrich import enrich_with, make_poster_enricher

    def fetch_html(url: str) -> str:
        doc_id = int(url.rsplit("/", 1)[-1])
        if doc_id % 7 == 0:
            return "<html><head><title>no poster here</title></head></html>"
        return (
            "<html><head><meta property=\"og:image\" "
            f"content=\"https://img.example.org/doc/{doc_id}/poster.png\"/>"
            "</head></html>"
        )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://docs.example.org/"), F.col("doc_id")).alias("url"),
    )
    enriched = enrich_with(
        d, make_poster_enricher(fetch_html), "poster_url string"
    )
    return enriched.where(F.col("poster_url").isNotNull()).select(
        "doc_id", "poster_url"
    )


@query(
    "q127_dsir_importance",
    oracle="""
    WITH tok_raw AS MATERIALIZED (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        FROM documents
    ),
    bucketed AS MATERIALIZED (
        SELECT doc_id, tok,
               ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)
                   % 256 AS bucket
        FROM tok_raw
    ),
    hist_t AS MATERIALIZED (
        SELECT b.bucket, COUNT(*) AS c_t
        FROM bucketed b JOIN documents d ON b.doc_id = d.doc_id
        WHERE d.lang = 'en' GROUP BY 1
    ),
    hist_r AS MATERIALIZED (
        SELECT bucket, COUNT(*) AS c_r FROM bucketed GROUP BY 1
    ),
    domain AS MATERIALIZED (SELECT unnest(range(0, 256)) AS bucket),
    ratio AS MATERIALIZED (
        SELECT dm.bucket,
               COALESCE(t.c_t, 0) AS c_t, COALESCE(r.c_r, 0) AS c_r
        FROM domain dm
        LEFT JOIN hist_t t ON dm.bucket = t.bucket
        LEFT JOIN hist_r r ON dm.bucket = r.bucket
    ),
    tot AS MATERIALIZED (
        SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r FROM ratio
    ),
    w AS MATERIALIZED (
        SELECT bucket,
               ln((c_t + 0.5) / (n_t + 0.5 * 256.0))
               - ln((c_r + 0.5) / (n_r + 0.5 * 256.0)) AS w
        FROM ratio CROSS JOIN tot
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(w.w), 6) AS dsir_score
    FROM bucketed b JOIN w ON b.bucket = w.bucket
    GROUP BY b.doc_id
    """,
)
def q127_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023): hashed-unigram bucket distributions for the TARGET domain
    (here: the English slice) vs the raw corpus, each document scored
    by its tokens' mean log-likelihood ratio — the "looks like the
    target" signal importance resampling thresholds on.  The md5-prefix
    bucket hash is positional arithmetic, so the oracle reproduces it
    digit by digit; the 256-row ratio table rides as a broadcast."""
    from magi_etl_spark.operators.importance import dsir_scores

    d = load_table(spark, sf_dir, "documents")
    out = dsir_scores(d, d.where(F.col("lang") == "en"), n_buckets=256)
    return out.select(
        "doc_id", "n_tokens", F.round("dsir_score", 6).alias("dsir_score")
    )


@query(
    "q128_ngram_novelty",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    dg AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               tk[j] || ' ' || tk[j + 1] || ' ' || tk[j + 2] AS gram
        FROM toks, LATERAL unnest(range(1, len(tk) - 1)) AS t(j)
    ),
    dfreq AS MATERIALIZED (
        SELECT gram, COUNT(*) AS df FROM dg GROUP BY 1
    )
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           ROUND(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
    FROM dg JOIN dfreq f ON dg.gram = f.gram
    GROUP BY dg.doc_id
    """,
)
def q128_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty: the fraction of a document's
    distinct trigrams that no other document contains — the diversity
    complement of the q120 boilerplate recon, a selection objective
    that penalizes template text without an LM.  One distinct
    (doc, gram) frame feeds both the document-frequency aggregate and
    the per-doc rollup; no pair joins anywhere."""
    from magi_etl_spark.operators.importance import ngram_novelty

    d = load_table(spark, sf_dir, "documents")
    out = ngram_novelty(d, n=3)
    return out.select(
        "doc_id",
        "n_distinct_grams",
        F.round("novel_frac", 6).alias("novel_frac"),
    )


@query(
    "q129_duplicated_spans",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
        FROM documents
    ),
    pos AS MATERIALIZED (
        SELECT doc_id, j - 1 AS k,
               tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2] || ' '
                     || tk[j+3] || ' ' || tk[j+4] AS shingle
        FROM toks, LATERAL unnest(range(1, len(tk) - 3)) AS t(j)
    ),
    dfreq AS MATERIALIZED (
        SELECT shingle, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, shingle FROM pos) GROUP BY 1
    ),
    flagged AS MATERIALIZED (
        SELECT p.doc_id, p.k, f.df > 1 AS dup
        FROM pos p JOIN dfreq f ON p.shingle = f.shingle
    ),
    runs AS MATERIALIZED (
        SELECT doc_id, MAX(run) AS max_dup_run FROM (
            SELECT doc_id, island, COUNT(*) AS run FROM (
                SELECT doc_id, k,
                       k - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k)
                           AS island
                FROM flagged WHERE dup
            ) GROUP BY doc_id, island
        ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(COALESCE(MAX(r.max_dup_run), 0) AS BIGINT) AS max_dup_run
    FROM flagged b LEFT JOIN runs r ON b.doc_id = r.doc_id
    GROUP BY b.doc_id
    """,
)
def q129_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span profile per document (the bounded shingle
    variant of Lee et al. exact substring dedup): 5-token shingle
    document frequencies flag copied positions, and a gaps-and-islands
    window finds each document's longest copied run — the quantity
    span-removal filters threshold on.  All-integer output; documents
    shorter than five tokens drop out on both sides."""
    from magi_etl_spark.operators.importance import duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicated_spans(d, n=5)


@query(
    "q130_merge_into",
    oracle="""
    WITH t0 AS MATERIALIZED (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    ),
    upd AS MATERIALIZED (
        SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
               price_c + 111 AS price_c, (o_orderkey % 5 = 0) AS del
        FROM t0 WHERE o_orderkey % 3 = 0
    ),
    ins AS MATERIALIZED (
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, CAST(4242 AS BIGINT) AS price_c,
               FALSE AS del
        FROM t0 WHERE o_orderkey % 7 = 0
    ),
    src AS MATERIALIZED (
        SELECT * FROM upd UNION ALL SELECT * FROM ins
    )
    SELECT t.o_orderkey,
           COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(s.price_c, t.price_c) AS price_c
    FROM t0 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
    WHERE s.o_orderkey IS NULL OR NOT s.del
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, price_c FROM ins
    """,
)
def q130_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general three-clause MERGE in one statement over orders:
    corrections (every 3rd key gets a bumped cent price and status
    'M'), GDPR-style conditional deletes (the matched subset whose key
    is also divisible by 5), and late-arrival inserts (every 7th key
    re-landed in an offset key space) — the warehouse maintenance
    shape Delta MERGE runs, expressed as ONE full-outer hash join with
    every clause a projection of it.  The oracle decomposes the same
    semantics into left-join + anti + union legs."""
    from magi_etl_spark.operators.merge import merge_into

    o = load_table(spark, sf_dir, "orders")
    t0 = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    upd = t0.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        (F.col("price_c") + 111).alias("price_c"),
        (F.col("o_orderkey") % 5 == 0).alias("_del"),
    )
    ins = t0.where(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(4242).cast("long").alias("price_c"),
        F.lit(False).alias("_del"),
    )
    src = upd.unionByName(ins)
    return merge_into(t0, src, ["o_orderkey"], delete_col="_del")


@query(
    "q131_weighted_sample",
    oracle="""
    WITH keyed AS MATERIALIZED (
        SELECT doc_id, lang, n_chars,
               ln((CAST(concat('0x', substr(
                       md5(concat('wsample|', CAST(doc_id AS VARCHAR))),
                       1, 8)) AS BIGINT) + 1) / 4294967296.0)
               / n_chars AS es_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY es_key DESC, doc_id) AS rn
        FROM keyed
    ) WHERE rn <= 5
    """,
)
def q131_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sampling, 5 documents per language
    weighted by length — derandomized Efraimidis–Spirakis: the ES key
    ``ln(u)/w`` ranks each row with an md5-derived uniform, so longer
    documents are proportionally likelier, the draw is deterministic
    and repartition-stable, and the identical arithmetic runs in the
    oracle.  The rank column is re-derived on the output side so both
    engines expose the same (doc, rank) rows."""
    from pyspark.sql import Window as W

    from magi_etl_spark.functions.text import md5_u32
    from magi_etl_spark.operators.sampling import weighted_sample_n_per_group

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = weighted_sample_n_per_group(
        d, ["lang"], "n_chars", n=5, id_col="doc_id", seed="wsample"
    )
    # re-rank for a deterministic output rank column (the operator
    # drops its internal key)
    h = md5_u32(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string")))
    u = (h + 1) / F.lit(float(2 ** 32))
    return out.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(
            W.partitionBy("lang").orderBy(
                (F.log(u) / F.col("n_chars")).desc(), F.asc("doc_id")
            )
        ).alias("rn"),
    )


def _bpe_pack_oracle(n_merges: int, budget: int) -> str:
    return f"""
    WITH RECURSIVE {_BPE_W0.strip().rstrip()},{_bpe_iter_ctes(n_merges)},
    seg AS MATERIALIZED (
        SELECT word, len(string_split(trim(sym), '  ')) AS n_syms
        FROM w{n_merges}
    ),
    doc_toks AS MATERIALIZED (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    ),
    counts AS MATERIALIZED (
        SELECT d.doc_id, CAST(SUM(s.n_syms) AS BIGINT) AS n_tokens,
               CAST(d.doc_id % 16 AS INTEGER) AS bucket
        FROM doc_toks d JOIN seg s ON d.word = s.word
        GROUP BY d.doc_id
    ),
    ordered AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY bucket ORDER BY doc_id) AS rn
        FROM counts
    ),
    pack AS (
        SELECT bucket, rn, doc_id, n_tokens,
               0 AS seq_id, 0 AS seq_pos, n_tokens AS fill
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN p.fill + o.n_tokens <= {budget}
                    THEN p.seq_id ELSE p.seq_id + 1 END,
               CASE WHEN p.fill + o.n_tokens <= {budget}
                    THEN p.seq_pos + 1 ELSE 0 END,
               CASE WHEN p.fill + o.n_tokens <= {budget}
                    THEN p.fill + o.n_tokens ELSE o.n_tokens END
        FROM pack p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
    )
    SELECT bucket, doc_id, n_tokens,
           CAST(seq_id AS INTEGER) AS seq_id, CAST(seq_pos AS INTEGER) AS seq_pos
    FROM pack
    """


@query("q132_tokenize_and_pack", oracle=_bpe_pack_oracle(10, 2048))
def q132_tokenize_and_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone tokenizer→packing composition: train 10 BPE merges,
    tokenize the corpus (per-document token counts from the segmented
    vocabulary join — q122's path), and next-fit-pack whole documents
    into 2048-token training sequences bucketed by doc_id % 16 (q57's
    applyInPandas packer).  The oracle replays BPE training as unrolled
    MATERIALIZED CTEs and packing as the identical greedy recursion —
    every (seq_id, seq_pos) assignment is hash-checked end to end,
    tokenizer included."""
    from magi_etl_spark.operators.bpe import bpe_encode_docs
    from magi_etl_spark.operators.packing import pack_chunks

    d = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_docs(d, n_merges=10).select(
        "doc_id", F.lit(0).alias("chunk_idx"),
        F.col("n_tokens").cast("int").alias("n_chunk_tokens"),
    )
    packed = pack_chunks(
        enc, budget=2048, n_buckets=16, bucket_expr=F.col("doc_id") % 16
    )
    return packed.select(
        "bucket",
        "doc_id",
        F.col("n_chunk_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_pos",
    )
