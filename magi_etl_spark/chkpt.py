"""The one materialization path: every barrier an operator or query
puts into its plan goes through :func:`materialize`, and :func:`release`
drops what those barriers hold.

Driver-side iterative loops (PageRank, k-core, label propagation, IPF
raking) use the eager default to truncate lineage each round; lazy
frames fanned out to N downstream subtrees (Friedman cells, token and
shingle arrays that interpreted higher-order functions would recompute
per reference) pass ``eager=False`` so the first action fills the
barrier.  How a barrier is held is a deployment property, so it is one
process-wide mode (``SPARK_GRAFT_CHECKPOINT_MODE`` or
:func:`set_checkpoint_mode`):

- ``local``    — ``df.localCheckpoint(eager=...)``.  Default; no
  checkpoint dir, but one executor loss fails the job.
- ``reliable`` — ``df.checkpoint(eager=...)``.  The fault-tolerant
  posture: it truncates lineage like ``local``, so deep loops stay
  plannable; needs ``spark.sparkContext.setCheckpointDir``.
- ``off``      — identity, for plan-only consumers; not a correctness
  mode at scale.

``local`` barriers are recorded in one process-wide list (under a
lock: ``run_concurrent`` materializes from worker threads).  Operators
never release their own barriers, since the frames they return read
them: whoever runs the action calls :func:`release` after it, and
``__spark_entry__.queries()`` calls it before each build, so a session
holds one query's blocks at a time.  ``reliable`` checkpoint files
belong to the caller's checkpoint dir.  ``tests/test_chkpt_single_path.py``
guards against raw barrier or unpersist calls elsewhere in the package
and pins this module's own.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame

_MODES = ("local", "reliable", "off")
_mode: str = os.environ.get("SPARK_GRAFT_CHECKPOINT_MODE", "local")
if _mode not in _MODES:
    raise ValueError(
        f"SPARK_GRAFT_CHECKPOINT_MODE={_mode!r} is not one of {_MODES}"
    )
# local-checkpoint frames since the last release()
_held: list[DataFrame] = []
_held_lock = threading.Lock()


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
    ``eager=False`` defers it to the frame's first action.

    Counted barrier: a loop that needs the barrier's row count anyway
    (k-core's convergence test) writes ``x = materialize(df,
    eager=False)`` then ``x.count()``.  Under ``local`` the count's own
    job fills the barrier, so this runs exactly as many Spark jobs as a
    plain ``count()`` of the frame; the eager form followed by a count
    runs one more.  Under ``reliable`` the counted barrier runs one job
    more than a plain count, because writing the checkpoint files
    recomputes the frame (``tests/test_chkpt_single_path.py`` pins
    these job counts).
    """
    mode = _mode
    if mode == "off":
        return df
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    out = df.localCheckpoint(eager=eager)
    with _held_lock:
        _held.append(out)
    return out


def release() -> None:
    """Drop the blocks of every local checkpoint :func:`materialize`
    returned since the last call.  Frames built on those barriers must
    not run again afterwards (a local checkpoint's blocks are its only
    copy)."""
    global _held
    with _held_lock:
        held, _held = _held, []
    for out in held:
        if out.sparkSession.sparkContext._jsc is None:
            continue  # the stopped context took its blocks with it
        out._jdf.logicalPlan().rdd().unpersist(False)
