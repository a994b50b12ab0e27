"""Shared materialization policy for operator-internal intermediates.

Operators that must evaluate an intermediate more than once persist it
DISK_ONLY — in-memory columnar encoding competes with shuffles for heap
while a same-job disk cache rides the OS page cache (SCALE.md, derived-
frame materialization) — and hand the live handles to the caller on the
result DataFrame as ``_osl_persists`` for release after consumption.
Iterative loops cut their evolving frame's lineage with
:func:`truncate_lineage` and hand the last checkpoint over the same way,
as a :class:`CheckpointHandle`. One module so a storage-policy change
lands everywhere at once.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def persist_disk(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.DISK_ONLY)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut the logical plan under an iterative loop's evolving frame.

    Without this, every iteration STACKS its join/agg subtree on the
    previous plan — at 20+ iterations analysis/optimization time grows
    superlinearly: the classic iterative-DataFrame failure mode at scale.
    ``localCheckpoint(eager=True)`` materializes the frame on executor
    storage and replaces its plan with a scan of the materialized blocks
    (the loop frames are one row per node — the smallest frame in the
    computation, so the materialization is cheap relative to one
    iteration's shuffle). It does NOT help failure recovery: with the
    lineage cut, a lost executor's blocks cannot be recomputed and the
    job fails instead. The blocks stay in storage until the
    :class:`CheckpointHandle` over the returned frame is unpersisted."""
    return df.localCheckpoint(eager=True)


class CheckpointHandle:
    """Releases the blocks behind a :func:`truncate_lineage` frame.

    ``DataFrame.unpersist()`` on a local-checkpointed frame leaves its
    blocks in storage (the frame's plan is a scan of the checkpointed RDD,
    not a cache entry); unpersisting that RDD removes them. The
    no-argument ``unpersist()`` matches the ``_osl_persists`` handover
    contract, so harnesses release checkpoints and DISK_ONLY caches alike.
    Call it only once nothing still reads the frame."""

    def __init__(self, checkpointed: DataFrame):
        self._rdd = checkpointed._jdf.queryExecution().analyzed().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(True)
