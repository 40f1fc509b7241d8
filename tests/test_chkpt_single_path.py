"""One materialization path: eager barriers go through
``chkpt.materialize``.

1. A guard over the package source: no module but ``chkpt.py`` may call
   ``.localCheckpoint(`` or ``.checkpoint(`` directly — such a barrier
   would ignore ``SPARK_GRAFT_CHECKPOINT_MODE``.  The raw sites still in
   ``components.py`` and ``prefix.py`` are pinned by count until they
   are routed too: their dependents did not fit the 50-slot gate
   window's re-entry rule (``tests/test_gate_window.py``) together
   with the rest.
2. The fault-tolerant modes against the DuckDB oracles: one registered
   query per operator module whose barriers were routed through
   ``chkpt``, run under ``persist`` and ``reliable`` (the same query
   under two session configs, compared with the oracle).
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import magi_etl_spark
from magi_etl_spark.queries import ORACLE, QUERIES
from tests.oracle_harness import compare, duckdb_connection

_RAW_BARRIERS = {"localCheckpoint", "checkpoint"}
# raw sites not yet routed through chkpt: module -> count (may only shrink)
_NOT_YET_ROUTED = {"operators/components.py": 2, "operators/prefix.py": 1}


def test_no_raw_barrier_outside_chkpt():
    root = Path(magi_etl_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "chkpt.py":
            continue
        sites = [
            f"{rel}:{node.lineno} .{node.func.attr}("
            for node in ast.walk(ast.parse(path.read_text(), rel))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _RAW_BARRIERS
        ]
        if len(sites) > _NOT_YET_ROUTED.get(rel, 0):
            offenders += sites
    assert not offenders, (
        "raw barriers bypass chkpt.materialize: " + ", ".join(offenders)
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
]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _MODE_QUERIES)
@pytest.mark.parametrize("mode", ["persist", "reliable"])
def test_fault_tolerant_modes_match_oracle(mode, name, spark, sf_dir, con, tmp_path):
    from magi_etl_spark import chkpt

    assert name in QUERIES and name in ORACLE
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    prev = chkpt.set_checkpoint_mode(mode)
    try:
        ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLE[name])
        assert ok, f"{name} under {mode}: {msg}"
    finally:
        chkpt.set_checkpoint_mode(prev)
        # persist mode registers cache entries by design; the suite's
        # "cache manager stays empty" hygiene tests need a clean session
        spark.catalog.clearCache()
