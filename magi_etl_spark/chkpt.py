"""Checkpoint-mode knob: one switch deciding HOW iterative / fan-out
operators materialize bounded intermediates (r14 VERDICT item 4).

The engine's standard idiom for (a) driver-side iterative loops whose
lineage would otherwise grow exponentially (PageRank, k-core, label
propagation, IPF raking, quantile-regression coordinate descent) and
(b) lazy frames fanned out to N downstream subtrees (Friedman cell
frames, set-similarity element sets — each reference recompiles the
whole upstream subtree otherwise; AQE's ReusedExchange recovers only
about half) is an EAGER materialization barrier.  ``localCheckpoint``
is the right barrier for the local[32] sandbox — no checkpoint
directory needed, executor-local blocks, truncates lineage — but it is
NOT fault-tolerant: blocks live only in executor storage, so on a real
cluster one executor loss kills the job instead of recomputing.  At
100 TB the same shape wants either a RELIABLE checkpoint (HDFS/S3
checkpoint dir; fault-tolerant AND truncates lineage) or a
DISK_ONLY persist (keeps lineage, so lost partitions recompute — right
for fan-out reuse, wrong for deep iteration where the kept lineage is
itself the problem).

Modes (``SPARK_GRAFT_CHECKPOINT_MODE`` env var or
:func:`set_checkpoint_mode`):

- ``local``    — ``df.localCheckpoint(eager=...)``.  Sandbox default.
- ``reliable`` — ``df.checkpoint(eager=...)``.  Cluster posture for
  iterative loops; requires ``spark.sparkContext.setCheckpointDir``
  (raises a loud error otherwise — Spark's own message says exactly
  that).
- ``persist``  — ``df.persist(StorageLevel.DISK_ONLY)`` (+ a
  ``count()`` when eager).  Cluster posture for fan-out reuse:
  fault-tolerant via kept lineage.
- ``off``      — identity.  Plan-only consumers (cold-plan
  fingerprinting, ``tools/scan_audit.py``, schema lints) opt out of
  construction-time jobs; NOT a correctness mode for iterative
  operators at scale (lineage grows unchecked).

Operators route their barriers through :func:`materialize`; a guard
test (``tests/test_chkpt_single_path.py``) rejects raw
``.localCheckpoint(`` / ``.checkpoint(`` calls anywhere else, and pins
the count of raw ``.persist(`` / ``.cache(`` sites per module.  The knob is
process-wide because the choice is a deployment property, not a
per-call one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_MODES = ("local", "reliable", "persist", "off")
_mode: str = os.environ.get("SPARK_GRAFT_CHECKPOINT_MODE", "local")
if _mode not in _MODES:
    raise ValueError(
        f"SPARK_GRAFT_CHECKPOINT_MODE={_mode!r} is not one of {_MODES}"
    )


def checkpoint_mode() -> str:
    """The process-wide materialization mode (see module docstring)."""
    return _mode


def set_checkpoint_mode(mode: str) -> str:
    """Set the mode; returns the PREVIOUS mode so tests can restore it."""
    global _mode
    if mode not in _MODES:
        raise ValueError(f"checkpoint mode {mode!r} is not one of {_MODES}")
    prev, _mode = _mode, mode
    return prev


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialization barrier under the process-wide mode.

    ``eager=True`` (the default) runs the job at call time;
    ``eager=False`` defers to first action where the mode supports it
    (``persist`` simply skips the priming count).

    Counted barrier: a loop that needs the barrier's row count anyway
    (k-core's convergence test) writes ``x = materialize(df,
    eager=False)`` then ``x.count()``.  Under ``local`` and ``persist``
    the count's own job fills the barrier, so no separate barrier job
    runs: on a frame ending in an aggregate, barrier plus count took 2
    Spark jobs this way against 4 (``local``) and 6 (``persist``) for
    the eager form followed by a count.  ``reliable`` took 3 either
    way, since it writes its checkpoint files in a job of their own.
    """
    if _mode == "off":
        return df
    if _mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        return out
    if _mode == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
