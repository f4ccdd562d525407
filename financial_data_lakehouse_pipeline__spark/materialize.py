"""Materialization — the one place the package pins, checkpoints or
persists a DataFrame.

Two entry points, because a session may skip a reuse pin but never a
barrier:

  pin      a multiply-consumed subtree, materialized once instead of
           re-executed per consuming plan branch (guide §2.4). Skipping
           it changes cost, never results.
  barrier  a materialization the result depends on: loop state whose
           plan would otherwise grow with the iteration count, or a
           nondeterministic value (a range-partition id, a
           dropDuplicates survivor) that two consumers must read alike.

The ``SPARK_GRAFT_PIN_MODE`` environment variable picks the storage for
every site in the session:

  mode        pin(df, eager)               barrier(df, eager)
  local       localCheckpoint(eager)       localCheckpoint(eager)
  replicated  persist(MEMORY_AND_DISK_2)   localCheckpoint(eager,
                                             MEMORY_AND_DISK_2)
  reliable    checkpoint(eager)            checkpoint(eager)
  off         df unchanged                 localCheckpoint(eager)

``local`` (the default) is the fastest: blocks are executor-local,
NON-replicated, and lineage is truncated, so losing an executor that
holds a pin's blocks fails the query with no recompute path (fine
locally and on static executors; SCALE.md §23-§24). ``replicated``
keeps two copies, and a pin also keeps its lineage — the setting for
spot or decommissioning executors. ``reliable`` writes to
``spark.checkpoint.dir`` (set it first) and survives any executor loss.
``off`` keeps full lineage wherever that is safe — the kill switch for
storage-tighter-than-recompute regimes.

A DataFrame-level ``persist`` was measured SLOWER than both recompute
and the RDD-level local checkpoint on this engine (columnar cache
build + serialized branch execution, SCALE.md §13; minhash_lsh_pairs
at sf0.1: 5.2 s recompute vs 2.7 s pinned), which is why ``local`` is
the default and ``persist`` appears only in ``replicated``.

Laziness: ``eager=False`` defers the materialization to the first
action that reads the frame, but it does not mean "no jobs while the
DataFrame is built". Under adaptive query execution (the session
default) a lazy checkpoint over a shuffle runs that shuffle's upstream
job when the checkpoint is created (measured: 0 jobs over a bare
range, 1 over a ``groupBy().count()``). ``persist`` is always lazy and
ignores ``eager``.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

PIN_MODE_ENV = "SPARK_GRAFT_PIN_MODE"


def _mode() -> str:
    return os.environ.get(PIN_MODE_ENV, "local")


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a multiply-consumed subtree once, per the session
    mode (module docstring). Under ``off`` the frame comes back
    unchanged."""
    mode = _mode()
    if mode == "off":
        return df
    if mode == "replicated":
        return df.persist(StorageLevel.MEMORY_AND_DISK_2)
    return barrier(df, eager)


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a frame the result depends on, per the session mode
    (module docstring). Never skipped: ``off`` falls back to a local
    checkpoint."""
    mode = _mode()
    if mode == "reliable":
        return df.checkpoint(eager)
    if mode == "replicated":
        return df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_2)
    return df.localCheckpoint(eager)


def release(df: DataFrame) -> None:
    """Free a pin's or barrier's executor blocks now instead of at
    driver GC (ContextCleaner), so a long-lived session does not
    accumulate blocks with unbounded residency (ADVICE r13).

    Sole-handle rule: call this only from code that holds the ONLY
    handle to ``df`` and to every frame derived from it — a superseded
    loop state, or a pre-pass table the chosen route never reads. A
    checkpoint has no lineage to fall back on, so any later action over
    a released frame fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` in
    ``local`` mode); a ``replicated`` pin merely recomputes.

    Best-effort: the checkpoint blocks hang off the LogicalRDD's
    internal RDD, reached through the private
    ``_jdf.queryExecution()`` path; any failure, and any frame that was
    never materialized here, leaves the GC-based cleanup."""
    try:
        df.unpersist()  # the 'replicated' persist; a no-op otherwise
    except Exception:
        pass
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass
