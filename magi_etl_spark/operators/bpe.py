"""Distributed BPE tokenizer training: learn byte-pair-encoding merges
over a corpus, Spark-first.

Pretraining pipelines train their tokenizer on (a sample of) the corpus
itself; at 100 TB the classic single-node BPE trainers (sentencepiece,
HF tokenizers) cap out on the word-counting pass long before the merge
loop.  The Spark shape exploits the classic factorization (Sennrich et
al. 2016): merges operate on the WORD VOCABULARY weighted by frequency,
not on the corpus —

- one corpus scan builds ``(word, freq)`` (explode + map-side-combined
  count): the only pass whose cost scales with corpus bytes;
- every merge iteration runs on the vocabulary frame (|V| rows — Heaps'
  law puts |V| at ~1e6-1e7 for 100 TB of text, a trivial DataFrame):
  one pair-count aggregate, one 1-row argmax, one column rewrite;
- the argmax pair is collected per iteration — bounded driver work by
  construction, because the merge TABLE (n_merges tiny rows) is the
  training output itself.

Symbol encoding: a word's current segmentation is a string of symbols
joined by DOUBLE spaces, padded with one space on each end (``"ab cd"``
segmented as ``[ab, cd]`` is ``" ab  cd "``).  Merging pair ``(l, r)``
is then plain non-overlapping left-to-right ``replace(sym, " l  r ",
" lr ")`` — the double-space join means adjacent matches do not share a
boundary character, so greedy BPE merge semantics fall out of the
engine-portable ``replace`` exactly (single-space joining would make
``[a,a,a,a]`` merge only once: the shared middle space is consumed by
the first match).  No regex, no lookarounds — the same expression runs
verbatim in DuckDB for the oracle.

Simplifications vs production BPE, documented: lowercase ``[a-z]+``
words only (no byte fallback), no end-of-word marker.  Both are
orthogonal to the distributed shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magi_etl_spark.chkpt import materialize

_WORD_RE = "[a-z]+"


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs (empty for 1-symbol
    words).  ``slice`` with length 0 yields [] — unlike ``sequence``,
    which counts DOWN when stop < start and would fabricate pairs."""
    n = F.size(syms)
    return F.arrays_zip(
        F.slice(syms, 1, n - 1).alias("l"), F.slice(syms, 2, n - 1).alias("r")
    )


def _syms(sym_str: Column) -> Column:
    """Symbols of the padded double-space representation."""
    return F.split(F.trim(sym_str), "  ")


def bpe_word_freqs(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq, sym)``: the corpus word vocabulary with each word
    pre-segmented into characters in the padded double-space encoding.
    The ONLY corpus-scan pass of BPE training."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.filter(F.split(F.col("word"), ""), lambda x: x != "")
    return vocab.select(
        "word",
        "freq",
        F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" ")).alias("sym"),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over the vocabulary."""
    pairs = vocab.select(
        "freq", F.explode(_adjacent_pairs(_syms(F.col("sym")))).alias("p")
    )
    return pairs.groupBy(
        F.col("p.l").alias("l"), F.col("p.r").alias("r")
    ).agg(F.sum("freq").alias("cnt"))


def _merge_once(vocab: DataFrame, l: str, r: str) -> DataFrame:
    """Rewrite every word's segmentation with ``(l, r) -> lr`` merged."""
    return vocab.withColumn(
        "sym",
        F.replace(
            F.col("sym"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
        ),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    ``(merge_rank, l, r, merged, pair_freq)`` — ``merge_rank`` is the
    1-based merge order, ``pair_freq`` the frequency-weighted count the
    pair had when chosen.  Argmax ties break (count desc, l asc, r asc)
    so the table is fully deterministic.  Stops early if no pair is
    left (tiny corpora)."""
    spark = df.sparkSession
    if word_freqs is not None:
        # prebuilt (already materialized by the caller) — see
        # bpe_train_local's word_freqs note
        base = word_freqs
    else:
        base = materialize(bpe_word_freqs(df, text_col), eager=False)
        base.count()  # fills the barrier: the corpus pass runs once
    # r15 optimization (guide §1.4/§5): the merge loop used to persist
    # + count + unpersist the rewritten vocabulary EVERY round — three
    # sequential jobs per merge, with the persisted frame re-serialized
    # each time.  The rewrite chain is kept LAZY over the one materialized
    # base instead: round i's pair-count plan is base -> i chained
    # ``replace`` columns -> explode -> aggregate, so each round is ONE
    # job (the 1-row argmax collect).  Re-running i cheap string
    # rewrites per round costs O(n_merges * |V|) column work on the
    # VOCABULARY frame (never the corpus), which is far below the two
    # saved job launches + cache writes per round at any scale; the
    # production path for large n_merges stays ``bpe_train_local``.
    # Same argmax, same tie-break, identical merge table.
    vocab = base
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, n_merges + 1):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((i, l, r, l + r, cnt))
        vocab = _merge_once(vocab, l, r)
    return spark.createDataFrame(
        merges, "merge_rank int, l string, r string, merged string, pair_freq bigint"
    )


def _merge_syms_local(syms: tuple[str, ...], l: str, r: str) -> tuple[str, ...]:
    """Greedy left-to-right non-overlapping merge of ``(l, r)`` — the
    in-memory equivalent of ``_merge_once``'s double-space ``replace``
    (after a match the scan resumes AFTER the replacement)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_train_local(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    max_vocab_rows: int = 50_000_000,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """``bpe_train`` with a DRIVER-SIDE merge loop — the production
    shape for real vocab sizes (r5 VERDICT item 5).

    The distributed loop in ``bpe_train`` is the oracle-parity path: it
    launches ~3 sequential Spark jobs per merge (pair-count aggregate,
    materializing count, 1-row collect), which is fine at the gate's
    n_merges≈10 but means ~100k sequential job launches for a 32k-merge
    production vocabulary — hours of scheduler overhead on a |V|-row
    frame.  This variant keeps the ONE corpus-scan word count
    distributed (the only pass that scales with corpus bytes), then
    collects the ``(word, freq)`` vocabulary — bounded by Heaps' law at
    ~1e6-1e7 rows for 100 TB of text, guarded by ``max_vocab_rows`` —
    and runs the merge loop in memory with incremental pair-count
    updates (only words containing the chosen pair are rewritten, the
    standard Sennrich trainer bookkeeping).  Total Spark jobs: 2 (count
    guard + vocabulary collect), independent of ``n_merges`` — at
    n_merges=1000 that is 2 jobs vs ~3000 for the distributed loop.

    Selection order, merge semantics, and the output merge table are
    IDENTICAL to ``bpe_train`` (symbols are ASCII ``[a-z]+`` so Python
    tuple ordering matches Spark's binary string sort on the (cnt desc,
    l asc, r asc) tie-break); tests/test_bpe.py pins table equality on
    the fixture corpus.  Callers broadcast the returned table (tiny) to
    apply it — ``bpe_apply`` / ``bpe_encode_docs`` accept either
    trainer's output."""
    from collections import Counter, defaultdict

    spark = df.sparkSession
    # ``word_freqs``: an optional PREBUILT (word, freq, sym) vocabulary
    # (r15 optimization) — consumers that also need the vocabulary for
    # segmentation (encode/segment paths) materialize it once and pass
    # it in, so the guard count + collect below read the barrier
    # instead of re-running the corpus scan per use
    base = word_freqs if word_freqs is not None else bpe_word_freqs(df, text_col)
    n_vocab = base.count()
    if n_vocab > max_vocab_rows:
        raise ValueError(
            f"word vocabulary has {n_vocab} rows > max_vocab_rows="
            f"{max_vocab_rows}; a vocabulary this far past Heaps'-law "
            "scale suggests unsegmented input — raise the guard "
            "explicitly if intended"
        )
    rows = base.select("word", "freq").collect()
    vocab: dict[str, tuple[int, tuple[str, ...]]] = {
        r["word"]: (int(r["freq"]), tuple(r["word"])) for r in rows
    }
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[str]] = defaultdict(set)
    for word, (freq, syms) in vocab.items():
        for p in zip(syms, syms[1:]):
            pair_counts[p] += freq
            pair_words[p].add(word)
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, n_merges + 1):
        live = [(p, c) for p, c in pair_counts.items() if c > 0]
        if not live:
            break
        (l, r), cnt = min(live, key=lambda pc: (-pc[1], pc[0][0], pc[0][1]))
        merges.append((i, l, r, l + r, int(cnt)))
        for word in list(pair_words[(l, r)]):
            freq, syms = vocab[word]
            new_syms = _merge_syms_local(syms, l, r)
            if new_syms == syms:
                pair_words[(l, r)].discard(word)
                continue
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= freq
                pair_words[p].discard(word)
            for p in zip(new_syms, new_syms[1:]):
                pair_counts[p] += freq
                pair_words[p].add(word)
            vocab[word] = (freq, new_syms)
    return spark.createDataFrame(
        merges, "merge_rank int, l string, r string, merged string, pair_freq bigint"
    )


def bpe_apply(
    vocab: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply an ordered merge list to a ``(word, freq, sym)`` vocabulary
    frame (chained column rewrites — one narrow projection, no loop
    jobs); returns the frame with ``sym`` fully merged and a
    ``segmented`` column (single-space-joined symbols) for output."""
    out = vocab
    for l, r in merges:
        out = _merge_once(out, l, r)
    return out.withColumn(
        "segmented", F.array_join(_syms(F.col("sym")), " ")
    )


def _train(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    trainer: str,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Dispatch to a merge-table trainer.  ``local`` (the default for
    the consumers below) is the production shape — 2 Spark jobs total;
    ``distributed`` is the unrolled per-merge loop the q117 gate and
    the SQL oracles replay.  Both produce IDENTICAL merge tables
    (pinned by tests/test_bpe.py on the fixture AND sf corpora), so
    downstream segmentation/encoding is trainer-agnostic."""
    if trainer == "local":
        return bpe_train_local(df, n_merges, text_col, word_freqs=word_freqs)
    if trainer == "distributed":
        return bpe_train(df, n_merges, text_col, word_freqs=word_freqs)
    raise ValueError(f"unknown trainer {trainer!r}")


def bpe_train_and_segment(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    trainer: str = "local",
) -> DataFrame:
    """Train ``n_merges`` merges, then segment the vocabulary with them:
    ``(word, freq, segmented)``.  The train loop re-derives the
    vocabulary internally; segmentation reuses the same single corpus
    pass.  ``trainer="local"`` (default) trains driver-side in 2 Spark
    jobs; the merge table is identical to the distributed loop's."""
    # ONE materialized corpus pass shared by train and apply (r15 —
    # left lazy, the train guard/collect and the segmentation each
    # re-ran the corpus word count)
    wf = materialize(bpe_word_freqs(df, text_col))
    merge_rows = _train(df, n_merges, text_col, trainer, word_freqs=wf).collect()
    seg = bpe_apply(wf, [(m["l"], m["r"]) for m in merge_rows])
    return seg.select("word", "freq", "segmented")


def bpe_symbol_vocab(segmented: DataFrame) -> DataFrame:
    """``(symbol, symbol_id, n_words)`` from a segmented vocabulary
    frame: ids number the distinct symbols in lexicographic order,
    ``n_words`` counts the distinct words whose segmentation uses the
    symbol.  The symbol set is |alphabet| + |merges| rows by
    construction — collected and renumbered driver-side (the centroid-
    seed idiom), which keeps the plan free of the single-partition
    global-rank window a distributed renumbering would need."""
    spark = segmented.sparkSession
    syms = (
        segmented.select(
            "word", F.explode(_syms(F.col("sym"))).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.count_distinct("word").alias("n_words"))
        .orderBy("symbol")
        .collect()
    )
    return spark.createDataFrame(
        [(r["symbol"], i, int(r["n_words"])) for i, r in enumerate(syms)],
        "symbol string, symbol_id int, n_words bigint",
    )


def bpe_encode_docs(
    df: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    trainer: str = "local",
) -> DataFrame:
    """Tokenize the CORPUS with a freshly trained BPE model:
    ``(id_col, n_words, n_tokens, token_ids)`` where ``token_ids`` is
    the document's full symbol-id sequence in reading order — the
    output shape sequence packing (``operators/packing.py``) consumes.

    Scale shape: training rides the word vocabulary (driver-side merge
    loop by default — ``trainer="local"``, 2 Spark jobs total, identical
    merge table to the distributed loop); encoding is the word-vocabulary segmentation
    JOINED back to the exploded token stream on the word key (the
    standard tokenizer-cache trick: each distinct word is segmented
    once, not once per occurrence), then one per-document ordered
    re-aggregation.  The symbol table is broadcast-sized by
    construction.

    The symbol-id vocab ranks over ``bpe_symbol_vocab`` — note its
    single-partition ``dense_rank`` window is safe ONLY because the
    symbol table is |alphabet|+|merges| rows; corpus-sized frames must
    use the range-partitioned prefix-sum rank instead."""
    # ONE materialized corpus word-count pass (r15): it feeds the train
    # guard + collect, the segmentation apply, AND (via the segmented
    # vocab) the symbol table and the encode join — left lazy each of
    # those re-ran the corpus explode + aggregate (4 compiled corpus
    # scans on q122)
    wf = materialize(bpe_word_freqs(df, text_col))
    merges = _train(df, n_merges, text_col, trainer, word_freqs=wf)
    merge_list = [(m["l"], m["r"]) for m in merges.collect()]
    vocab = bpe_apply(wf, merge_list)
    symtab = bpe_symbol_vocab(vocab)
    seg = vocab.select("word", _syms(F.col("sym")).alias("word_syms"))
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("pos", "word"),
    )
    flat = (
        toks.join(seg, "word")
        .select(
            id_col,
            "pos",
            F.posexplode(F.col("word_syms")).alias("k", "symbol"),
        )
        .join(F.broadcast(symtab.select("symbol", "symbol_id")), "symbol")
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("pos", "k", "symbol_id"))
        ),
        lambda s: s["symbol_id"],
    )
    return flat.groupBy(id_col).agg(
        F.count_distinct("pos").alias("n_words"),
        F.count(F.lit(1)).alias("n_tokens"),
        ordered.alias("token_ids"),
    )
