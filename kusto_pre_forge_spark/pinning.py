"""Materialization pinning for multi-consumer DataFrames.

Several operators compute an intermediate frame that feeds 2-4 downstream
consumers (both sides of a self-join, a sizes aggregate, a payload fetch).
Catalyst's column pruning specializes each consumer's subtree, the subplans
stop being identical, and ReuseExchange no longer collapses them — the
executed plan recomputes the expensive upstream stage once PER CONSUMER
(observed: 4 source scans + 4 Arrow round-trips in minhash_lsh_pairs
before pinning).

The pin inserts an ``InMemoryRelation`` at that point in the plan, so every
consumer reads the same cached frame and the upstream stage runs once.

Mode trade-offs (why lazy persist is the default):

- ``persist`` — ``MEMORY_AND_DISK``, lazy. Keeps full lineage: if an
  executor is lost (routine at 100 TB scale), the lost partitions are
  recomputed from source instead of failing the job. Costs nothing until
  the first action, which populates the cache for the rest of the DAG.
- ``local_checkpoint`` — truncates lineage and stores partitions only in
  executor-local storage. Slightly cheaper reads, but ANY executor loss
  makes every downstream action fail unrecoverably. Only sane for small
  aggregate-sized frames or throwaway sessions.
- ``checkpoint`` — reliable checkpoint to ``spark.sparkContext
  .setCheckpointDir`` storage (HDFS/object store). Survives executor loss
  AND truncates lineage; the right call for truly huge frames whose
  lineage re-run would be prohibitive. Requires a checkpoint dir.
- ``none`` — no pin (accept recompute; useful when the caller persists a
  bigger enclosing frame itself).

Pinned frames stay in executor storage until evicted (LRU for in-memory
blocks; disk-spilled blocks are only freed by unpersist/ContextCleaner
after driver-side GC) or the session ends. Long-lived sessions calling
these operators repeatedly should either call
``spark.catalog.clearCache()`` between batches, or pass
``pin_mode="none"`` (the operator kwarg) and manage materialization
themselves — e.g. persist the input frame, run the operator, unpersist.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

PIN_MODES = ("persist", "local_checkpoint", "checkpoint", "none")


def pin(df: DataFrame, how: str = "persist") -> DataFrame:
    """Pin a multi-consumer frame so its lineage runs once, not per consumer.

    See module docstring for mode semantics. Lazy in ALL modes (checkpoint
    is requested with eager=False): nothing materializes until the first
    downstream action. The checkpoint branch persists before
    checkpointing — without that, the checkpoint write re-runs the frame's
    lineage a second time instead of reading the partitions the triggering
    action just computed (the standard persist-then-checkpoint pattern).
    """
    if how == "none":
        return df
    if how == "persist":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    if how == "local_checkpoint":
        return df.localCheckpoint(eager=False)
    if how == "checkpoint":
        return df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(eager=False)
    raise ValueError(f"unknown pin mode {how!r}; expected one of {PIN_MODES}")
