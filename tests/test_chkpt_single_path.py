"""One materialization path: barriers go through ``chkpt.materialize``
and are dropped by ``chkpt.release``.

1. A guard over the package source, ``tools/*.py`` and ``bench.py``: no
   module but ``chkpt.py`` may call ``.localCheckpoint(``,
   ``.checkpoint(``, ``.persist(``, ``.cache(`` or ``.unpersist(``
   (barriers that ignore the mode, release bookkeeping ``chkpt.release``
   replaces), bar the streaming micro-batch pair; ``chkpt.py`` itself
   holds exactly one ``.localCheckpoint(``, one ``.checkpoint(`` and
   one ``.unpersist(``.
2. The fault-tolerant mode against the DuckDB oracles: one registered
   query per operator module whose barriers route through ``chkpt``,
   plus PageRank, run under ``reliable``.
3. What a barrier costs in Spark jobs, relative to a plain ``count()``,
   under ``local`` and ``reliable``.
4. ``release`` leaves a frame the caller cached itself alone.
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
# chkpt.py's own raw calls: one per barrier kind, one unpersist in release()
_CHKPT_RAW = {"localCheckpoint": 1, "checkpoint": 1, "unpersist": 1}


def test_no_raw_barrier_outside_chkpt():
    root = Path(magi_etl_spark.__file__).parent
    repo = root.parent
    # the tools and the bench are held to zero raw sites
    scripts = [*sorted((repo / "tools").glob("*.py")), repo / "bench.py"]
    offenders, raw, own = [], {"persist": {}, "unpersist": {}}, {}
    for path in [*sorted(root.rglob("*.py")), *scripts]:
        in_pkg = path.is_relative_to(root)
        rel = path.relative_to(root if in_pkg else repo).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _RAW_BARRIERS
            ):
                continue
            kind = "persist" if node.func.attr == "cache" else node.func.attr
            if in_pkg and rel == "chkpt.py":
                own[kind] = own.get(kind, 0) + 1
            elif in_pkg and kind in raw:
                raw[kind][rel] = raw[kind].get(rel, 0) + 1
            else:
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, (
        "raw barriers bypass chkpt.materialize: " + ", ".join(offenders)
    )
    assert raw == {"persist": _RAW_PERSISTS, "unpersist": _RAW_PERSISTS}, (
        f"raw .persist(/.cache(/.unpersist( sites per module changed: {raw}"
    )
    assert own == _CHKPT_RAW, f"chkpt.py's own raw barrier calls changed: {own}"


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
    "q116_pagerank",  # graph
]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _MODE_QUERIES, ids=lambda q: f"reliable-{q}")
def test_fault_tolerant_modes_match_oracle(
    name, spark, sf_dir, con, tmp_path, checkpoint_mode
):
    assert name in QUERIES and name in ORACLE
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    checkpoint_mode("reliable")
    ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLE[name])
    assert ok, f"{name} under reliable: {msg}"


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_barrier_job_costs(mode, spark, tmp_path, jobs_run, checkpoint_mode):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    checkpoint_mode(mode)
    forms = {
        "plain": lambda df: df.count(),
        "counted": lambda df: chkpt.materialize(df, eager=False).count(),
        "eager": lambda df: chkpt.materialize(df).count(),
    }
    jobs = {}
    for form, action in forms.items():
        df = spark.range(10000).withColumn("m", F.col("id") % 7)
        df = df.groupBy("m").count()  # a fresh frame per form
        _, jobs[form] = jobs_run(f"barrier-{mode}-{form}", lambda: action(df))
    chkpt.release()
    # local: the count's own job fills the barrier; reliable: writing the
    # checkpoint files recomputes the frame in a job of its own
    assert jobs["counted"] == jobs["plain"] + (mode == "reliable"), jobs
    assert jobs["eager"] == jobs["plain"] + 1, jobs


@pytest.mark.parametrize("mode", ["local"])
def test_release_keeps_frames_the_caller_cached(mode, spark, checkpoint_mode):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    chkpt.release()  # only this test's barriers are recorded
    own = spark.range(50).withColumn("m", F.col("id") % 7).persist()
    own.count()
    own_rdds = set(rdds().keySet().toArray())
    checkpoint_mode(mode)
    chkpt.materialize(own)
    chkpt.materialize(own.groupBy("m").count()).collect()
    chkpt.release()
    assert set(rdds().keySet().toArray()) == own_rdds and own.count() == 50
    own.unpersist()
