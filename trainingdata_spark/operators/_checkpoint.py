"""Storage hygiene for iterative ``localCheckpoint`` loops (pagerank,
connected components).

Each loop round ends in ``localCheckpoint(eager=True)`` so lineage does
not grow with the iteration count — but every checkpoint persists a
block set, and a k-round run that never frees the superseded rounds
holds k of them (O(iterations × working set) storage, measured as
creeping GC pressure on long runs). These helpers free exactly the
blocks a loop itself created.

Concurrency contract (the round-9 fix): ownership is resolved from the
checkpointed DataFrame's OWN plan — after ``localCheckpoint`` the
analyzed plan is a ``LogicalRDD`` whose ``rdd`` field IS the persisted
RDD, so its id is read directly off the handle. The earlier
implementation diffed the context-global persistent-RDD registry around
the checkpoint call, which raced with any other thread persisting or
checkpointing on the same SparkContext (a streaming micro-batch, a
concurrent notebook): the victim's ids landed in the diff and were
force-unpersisted — a silent recompute for a cache, an UNRECOVERABLE
job failure for another loop's localCheckpoint (lineage already
truncated). Scoped-by-handle tracking cannot capture foreign ids, so
these loops are safe to run concurrently with any other work on the
session (pinned by tests/test_pagerank.py's two-thread test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


def checkpointed_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the persisted RDDs backing ``df``, resolved from the
    DataFrame's own analyzed plan (a ``LogicalRDD`` right after
    ``localCheckpoint`` — its ``rdd`` field is the block-backed RDD).

    Returns an empty set if the plan shape is not the expected
    ``LogicalRDD`` (Spark version drift): the caller then skips
    cleanup for that round — a bounded storage leak, never a wrong
    unpersist. Correctness over hygiene."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName() != _LOGICAL_RDD:
            return set()
        return {int(plan.rdd().id())}
    except Exception:  # pragma: no cover - py4j reflection drift
        return set()


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint + the ids of the blocks it persisted,
    read from the returned DataFrame's own handle (never from a
    registry diff — see module docstring)."""
    out = df.localCheckpoint(eager=True)
    return out, checkpointed_rdd_ids(out)


def checkpoint_leaf_ids(df: DataFrame) -> set[int]:
    """Ids of every persisted ``LogicalRDD`` LEAF in ``df``'s analyzed
    plan — unlike :func:`checkpointed_rdd_ids` (root-only, used inside
    the loops) this finds checkpoints a result was DERIVED from
    (``connected_components`` returns selects/joins over its fixpoint
    checkpoint, so the root is not a ``LogicalRDD``). Empty set on any
    plan-shape drift: skip, never mis-free."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        ids: set[int] = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getName() == _LOGICAL_RDD:
                ids.add(int(leaf.rdd().id()))
        return ids
    except Exception:  # pragma: no cover - py4j reflection drift
        return set()


def release(df: DataFrame) -> int:
    """Free the ``localCheckpoint`` blocks backing a result returned by
    :func:`~trainingdata_spark.operators.pagerank.pagerank` or
    :func:`~trainingdata_spark.operators.components.connected_components`.

    Those operators return eagerly-checkpointed DataFrames (truncated
    lineage, node-sized block sets) — a session that ranks many graphs
    accumulates one block set per call unless each result is released
    once consumed. Call this AFTER the result has been written/collected:
    a localCheckpoint's lineage is gone, so any action on the DataFrame
    (or anything derived from it) after release fails — release is the
    end of the result's life, not a cache hint.

    Safe by construction: only ``LogicalRDD`` leaves of THIS DataFrame's
    own plan are freed (never a registry diff), so concurrent jobs'
    blocks cannot be touched. Returns the number of RDDs unpersisted
    (0 when the plan shape is unrecognized — bounded leak over wrong
    free, same contract as the in-loop cleanup)."""
    ids = checkpoint_leaf_ids(df)
    if not ids:
        return 0
    spark = df.sparkSession
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    freed = 0
    for k in list(jmap.keySet().toArray()):
        if int(k) in ids:
            jmap.get(k).unpersist(False)
            freed += 1
    return freed


def persistent_rdd_ids(spark) -> set[int]:
    """Snapshot of the context's persistent-RDD registry ids. For
    TESTS and diagnostics only (storage-bound pins) — never used to
    attribute ownership."""
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def unpersist_ids(spark, ids: set[int]) -> None:
    """Unpersist the registry entries whose ids are in ``ids`` —
    callers pass only ids they obtained from their own DataFrames via
    ``checkpointed_rdd_ids``, so foreign jobs' blocks are never
    touched. Non-blocking; ids already evicted are skipped."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(jmap.keySet().toArray()):
        if int(k) in ids:
            jmap.get(k).unpersist(False)
