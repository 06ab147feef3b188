"""One rule for frames that more than one consumer reads.

Catalyst shares nothing across union branches or the two sides of a
self-join, so a frame consumed ≥ 2 times re-executes its whole subtree
per consumer unless it is materialized.  :func:`reuse` is the single
place that materializes such a frame and registers it for release:

- ``persist`` (MEMORY_AND_DISK, lazy) when the lineage should survive
  for fault-tolerant recompute — at scale the cache spills rather than
  recomputing;
- ``localCheckpoint`` (eager) when the plan itself must be cut: a
  self-join over an interpreted signature fold, or an iterative loop
  whose lineage would otherwise grow per round.

Every materialized frame is appended to the caller's
``unpersist_handles`` list when one is given; releasing a handle
(``h.unpersist()``) frees its blocks.  Handles are released by the
caller after the result is materialized — never here, which would
either force evaluation or drop the recompute lineage mid-plan.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class _Checkpoint:
    """Release handle of a ``localCheckpoint``: ``DataFrame.unpersist``
    does not free a checkpointed frame's RDD (it is not in the
    CacheManager), so the handle unpersists the LogicalRDD's RDD."""

    def __init__(self, df: DataFrame):
        self._rdd = df._jdf.queryExecution().logical().rdd()

    @property
    def storageLevel(self) -> StorageLevel:
        j = self._rdd.getStorageLevel()
        return StorageLevel(j.useDisk(), j.useMemory(), j.useOffHeap(),
                            j.deserialized(), j.replication())

    def unpersist(self, blocking: bool = False) -> None:
        self._rdd.unpersist(blocking)


def reuse(df: DataFrame, handles: list | None,
          checkpoint: bool = False) -> DataFrame:
    """``df`` materialized once for its consumers (persisted, or
    local-checkpointed when ``checkpoint``), its release handle
    appended to ``handles`` when given."""
    if checkpoint:
        df = df.localCheckpoint()
        handle = _Checkpoint(df)
    else:
        df = handle = df.persist(StorageLevel.MEMORY_AND_DISK)
    if handles is not None:
        handles.append(handle)
    return df
