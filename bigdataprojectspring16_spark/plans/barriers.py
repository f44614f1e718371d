"""Materialization barriers with a configurable durability mode.

The iterative/fixpoint plans (connected components, the unrolled
PageRank rounds, the shared dedup signature frames) need a
*materialization barrier*: a point where a frame is computed once and
later references read stored blocks instead of re-deriving lineage.
Every barrier is LAZY: the first action over the frame materializes
it, so a declared query stays a single driver action (SCALING.md §CC
measured the lazy form ahead of an eager job per barrier).
``localCheckpoint`` is the single-node/fixture-scale tool — but its
blocks are executor-local and UNREPLICATED, so on a real cluster one
lost executor kills the query (the lineage is truncated; Spark cannot
recompute the blocks). This module makes the barrier *mechanism* a
session-conf choice so the same declared plan runs:

- ``local``      (default) lazy ``localCheckpoint`` — fastest, the
                 measured fixture-scale winner (SCALING.md §CC);
- ``durable``    lazy ``checkpoint()`` to the reliable checkpoint dir
                 (``SparkContext.setCheckpointDir`` — HDFS/S3 on a
                 cluster) — survives any executor loss; the 100 TB
                 deployment path for multi-hour fixpoints
                 (tools/receipts/durable_barrier_sf1_r10.txt).

A ``persist(MEMORY_AND_DISK_2)`` mode was tried and REJECTED (r5,
measured): persist replicates blocks but does NOT truncate lineage,
and the CC fixpoint references each round's frame several times
(star expansion + the convergence probe), so the logical plan tree
grows exponentially with rounds — at ~15 rounds the driver OOMs just
*stringifying* the plan (java.lang.OutOfMemoryError in
QueryExecution.explainString). Lineage truncation is a correctness-
of-operation requirement for unbounded fixpoints, which only the
checkpoint family provides; replication alone is not a substitute.

Equivalence of both modes is pinned by tests/test_barrier_knobs.py —
the barrier changes physical materialization only, never results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

#: Session-conf key selecting the barrier mechanism (values above).
BARRIER_MODE_CONF = "spark.bigdataprojectspring16.barrierMode"

_MODES = ("local", "durable")


def barrier_mode(spark: SparkSession) -> str:
    """The active barrier mode for this session (default ``local``)."""
    mode = spark.conf.get(BARRIER_MODE_CONF, "local")
    if mode not in _MODES:
        raise ValueError(
            f"{BARRIER_MODE_CONF}={mode!r}: expected one of {_MODES}"
        )
    return mode


def barrier(df: DataFrame, disk: bool = False) -> DataFrame:
    """Lazy materialization barrier under the session's barrier mode.

    ``disk=True`` (local mode) stores the blocks DISK_ONLY instead of
    Spark's stock MEMORY_AND_DISK. Local-checkpoint blocks are
    UNEVICTABLE (evicting them would break the truncated lineage), so
    memory-resident corpus-sized frames occupy the unified pool for
    the life of the query — the measured single-JVM failure class at
    the decades (r11: the pagerank edge barrier at sf10, the minhash
    token-set/band barriers at sf100, both plain heap OOMs at the
    default 8 g). Call sites pass ``disk=decade_regime(spark)`` for
    shared data-proportional frames; locally the re-reads ride the OS
    page cache, on a cluster each executor's local disk. Below the
    decade the stock level stays (r10: CC at sf10 memory 113 s vs
    disk 124 s).
    """
    if barrier_mode(df.sparkSession) == "durable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise RuntimeError(
                "barrierMode=durable requires "
                "SparkContext.setCheckpointDir(<reliable storage>)"
            )
        return df.checkpoint(eager=False)
    if disk:
        return df.localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    return df.localCheckpoint(eager=False)


def decade_regime(spark: SparkSession) -> bool:
    """True once the input-byte autosizer has raised the shuffle width
    to ≥ 64x the scheduler's parallelism — the measured boundary where
    single-JVM memory classes start appearing (sf100-docs' 4096 at
    local[32]; see SCALING.md §SF100). The one shared definition for
    every decade-gated lever (disk barriers, pre-explode repartitions,
    sharded fixpoint aggregation, the PageRank edge build)."""
    from ..session import pinned_stage_width

    width = pinned_stage_width(spark)
    return width >= 64 * spark.sparkContext.defaultParallelism
