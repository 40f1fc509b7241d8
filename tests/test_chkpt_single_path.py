"""One materialization path: barriers go through ``chkpt.materialize``
and are dropped by ``chkpt.release``.

1. A guard over the package source, ``tools/*.py`` and ``bench.py``: no
   module but ``chkpt.py`` may call ``.localCheckpoint(``,
   ``.checkpoint(``, ``.persist(``, ``.cache(`` or ``.unpersist(``
   (barriers that ignore the mode, release bookkeeping ``chkpt.release``
   replaces), bar the streaming micro-batch pair.
2. The fault-tolerant modes against the DuckDB oracles: one registered
   query per operator module whose barriers route through ``chkpt``,
   run under ``persist`` and ``reliable`` (the same query under two
   session configs, compared with the oracle).
3. ``release`` leaves a frame the caller cached itself alone.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from pyspark.sql import functions as F

import magi_etl_spark
from magi_etl_spark import chkpt
from magi_etl_spark.queries import ORACLE, QUERIES
from tests.oracle_harness import compare, duckdb_connection

_RAW_BARRIERS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}
# module -> raw sites allowed, for persist/cache and for unpersist: the
# micro-batch pair that lives for one foreachBatch call
_RAW_PERSISTS = {"streaming/events_stream.py": 1}


def test_no_raw_barrier_outside_chkpt():
    root = Path(magi_etl_spark.__file__).parent
    repo = root.parent
    # the tools and the bench are held to zero raw sites
    scripts = [*sorted((repo / "tools").glob("*.py")), repo / "bench.py"]
    offenders, raw = [], {"persist": {}, "unpersist": {}}
    for path in [*sorted(root.rglob("*.py")), *scripts]:
        in_pkg = path.is_relative_to(root)
        rel = path.relative_to(root if in_pkg else repo).as_posix()
        if in_pkg and rel == "chkpt.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _RAW_BARRIERS
            ):
                continue
            kind = "persist" if node.func.attr == "cache" else node.func.attr
            if in_pkg and kind in raw:
                raw[kind][rel] = raw[kind].get(rel, 0) + 1
            else:
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, (
        "raw barriers bypass chkpt.materialize: " + ", ".join(offenders)
    )
    assert raw == {"persist": _RAW_PERSISTS, "unpersist": _RAW_PERSISTS}, (
        f"raw .persist(/.cache(/.unpersist( sites per module changed: {raw}"
    )


# one query per operator module whose barriers route through chkpt
_MODE_QUERIES = [
    "q199_kcore",  # kcore
    "q255_dbscan_profile",  # dbscan
    "q250_survey_raking",  # raking
    "q139_funnel",  # behavior
    "q195_similarity_join",  # setjoin.similarity_join
    "q210_common_runs",  # setjoin.longest_common_runs
    "q230_vocab_cover",  # maxcover
    "q114_incremental_lsh_index",  # lsh_index
    "q79_concurrent_fanout",  # queries/engine.py run_concurrent
    "q221_label_propagation",  # labelprop
    "q256_friedman_dow",  # friedman
    "q179_entity_resolution",  # components
    "q241_bh_fdr",  # prefix.ranked_prefix_sum
    "q25_minhash_lsh_neardup",  # dedup
    "q20_token_stats",  # text
    "q41_ivf_topk",  # similarity
    "q233_exact_quantiles",  # selection
    "q220_kcenter_coreset",  # coreset
    "q55_decontaminate",  # decontaminate
    "q49_chunking",  # chunking
    "q117_bpe_merges",  # bpe
]
# q116 (graph) under reliable only: PageRank reads last round's ranks
# twice, so under persist (lineage kept) its plan doubles per round
_MODE_CASES = [(m, q) for m in ("persist", "reliable") for q in _MODE_QUERIES]
_MODE_CASES.append(("reliable", "q116_pagerank"))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("mode,name", _MODE_CASES)
def test_fault_tolerant_modes_match_oracle(mode, name, spark, sf_dir, con, tmp_path):
    assert name in QUERIES and name in ORACLE
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    prev = chkpt.set_checkpoint_mode(mode)
    try:
        ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLE[name])
        assert ok, f"{name} under {mode}: {msg}"
    finally:
        chkpt.set_checkpoint_mode(prev)
        # drops persist mode's cache entries (the cache-manager hygiene tests check it)
        chkpt.release()


@pytest.mark.parametrize("mode", ["local", "persist"])
def test_release_keeps_frames_the_caller_cached(mode, spark):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    chkpt.release()  # only this test's barriers are recorded
    own = spark.range(50).withColumn("m", F.col("id") % 7).persist()
    own.count()
    own_rdds = set(rdds().keySet().toArray())
    prev = chkpt.set_checkpoint_mode(mode)
    try:
        chkpt.materialize(own)  # persist: the caller's cache is the barrier
        chkpt.materialize(own.groupBy("m").count()).collect()
    finally:
        chkpt.set_checkpoint_mode(prev)
    chkpt.release()
    assert set(rdds().keySet().toArray()) == own_rdds and own.count() == 50
    own.unpersist()
