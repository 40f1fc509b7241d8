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
- ``reliable`` — ``df.checkpoint(eager=...)``.  Cluster posture for
  iterative loops; needs ``spark.sparkContext.setCheckpointDir``.
- ``persist``  — ``df.persist(StorageLevel.DISK_ONLY)`` (+ a ``count()``
  when eager).  Cluster posture for fan-out reuse: lost partitions
  recompute from the kept lineage, which deep iteration cannot afford.
- ``off``      — identity, for plan-only consumers; not a correctness
  mode at scale.

``local`` and ``persist`` barriers are recorded in one process-wide list
(under a lock: ``run_concurrent`` materializes from worker threads).
Operators never release their own barriers, since the frames they
return read them: whoever runs the action calls :func:`release` after
it, and ``__spark_entry__.queries()`` calls it before each build, so a
session holds one query's blocks at a time.  ``tests/test_chkpt_single_path.py``
guards against raw barrier or unpersist calls elsewhere in the package.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame

_MODES = ("local", "reliable", "persist", "off")
_mode: str = os.environ.get("SPARK_GRAFT_CHECKPOINT_MODE", "local")
if _mode not in _MODES:
    raise ValueError(
        f"SPARK_GRAFT_CHECKPOINT_MODE={_mode!r} is not one of {_MODES}"
    )
# (mode, barrier frame) since the last release()
_held: list[tuple[str, DataFrame]] = []
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
    mode = _mode
    if mode == "off":
        return df
    if mode == "reliable":
        # the checkpoint files belong to the caller's checkpoint dir
        return df.checkpoint(eager=eager)
    if mode == "persist":
        from pyspark import StorageLevel

        cached = df.storageLevel != StorageLevel.NONE  # the caller's to release
        out = df if cached else df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        if cached:
            return out
    else:
        out = df.localCheckpoint(eager=eager)
    with _held_lock:
        _held.append((mode, out))
    return out


def release() -> None:
    """Drop the blocks of every barrier :func:`materialize` returned
    since the last call.  Frames built on those barriers must not run
    again afterwards (a local checkpoint's blocks are its only copy)."""
    global _held
    with _held_lock:
        held, _held = _held, []
    # newest first: uncaching a frame makes Spark rebuild the cache
    # entries of persisted frames built on it
    for mode, out in reversed(held):
        if out.sparkSession.sparkContext._jsc is None:
            continue  # the stopped context took its blocks with it
        if mode == "persist":
            out.unpersist()
        else:
            out._jdf.logicalPlan().rdd().unpersist(False)
