"""Distributed connected components — the transitive-closure step a
production dedup pipeline needs between candidate PAIRS and duplicate
CLUSTERS.

MinHash-LSH (textops/dedup.py) emits near-duplicate candidate pairs;
but pairs alone don't dedup a corpus: near-duplication is transitive
in practice (A~B, B~C ⇒ {A,B,C} is one duplicate group), so the
survivor set is "one canonical document per connected component of
the pair graph". This module computes those components with the
alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — the
standard shuffle-based formulation that converges in O(log n) rounds
even on pathological chain graphs, where naive min-label propagation
needs O(diameter) rounds.

Each round is pure DataFrame algebra (one groupBy + one join per
star operation); every iteration ends in ``localCheckpoint`` so the
plan does not grow with the round count (an unbounded iterative
lineage is the classic Spark CC failure mode — analysis cost goes
exponential around round ~20). On a real cluster with executor loss
concerns, set a reliable checkpoint dir and swap
``localCheckpoint`` for ``checkpoint``; the algorithm is unchanged.

Scale story: the edge relation shrinks monotonically toward one star
edge per non-root node; shuffles are on node ids (hash-partitioned,
no skew beyond the largest component's star, which the large-star
step itself breaks up). Nothing is ever collected to the driver
except a 2-value convergence signature per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge large→small, drop self-loops and dupes."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to the minimum of
    u's neighborhood (including u itself)."""
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("__mn")).select(
        "src", F.least("src", "__mn").alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On large→small oriented edges: link every small neighbor of u
    (and u itself) to the minimum small neighbor."""
    e = _canonical(edges)
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    withm = e.join(mins, "src")
    linked = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        mins.select("src", F.col("m").alias("dst"))
    )
    return linked.filter(F.col("src") != F.col("dst")).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of the edge set — the cheap
    fixpoint test. Hash collisions across rounds are ~2^-64-unlikely,
    and a false 'converged' would still return a valid (if unfinished)
    forest that the caller's tests would catch."""
    row = edges.select(
        F.xxhash64(F.col("src").cast("string"), F.col("dst").cast("string")).alias("__h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-insensitive, cannot overflow under ANSI mode
        # (edge sets are distinct, so xor self-cancellation can't occur)
        F.coalesce(F.expr("bit_xor(__h)"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Labels every node of the undirected graph ``edges`` with the
    minimum node id of its connected component.

    Node ids may be any orderable type (bigint, string). Returns
    ``(node, component)`` with one row per distinct node appearing in
    any edge; pass ``nodes`` (a one-column DataFrame of ids) to also
    label isolated nodes — each becomes its own component.

    Raises ``RuntimeError`` if the edge set has not reached a fixpoint
    after ``max_iterations`` alternating rounds (log₂-ish convergence
    means real graphs finish in < 10).

    Storage: the result is derived from a persisted ``localCheckpoint``
    of the fixpoint edges. Pass the returned DataFrame to
    :func:`~trainingdata_spark.operators.release` once consumed
    to free those blocks (the DataFrame is unusable afterwards)."""
    from trainingdata_spark.operators._checkpoint import (
        local_checkpoint,
        unpersist_ids,
    )

    spark = edges.sparkSession
    # ids are taken from each checkpointed DataFrame's own plan (see
    # _checkpoint.py) so a concurrent job's blocks can never be freed
    # by this loop, and the except path releases ours on any failure
    # (including the non-convergence RuntimeError)
    live_ids: set[int] = set()
    try:
        e = _canonical(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        )
        e, prev_ids = local_checkpoint(e)
        live_ids |= prev_ids
        prev = _signature(e)
        converged = False
        for _ in range(max_iterations):
            # free the superseded round's checkpoint blocks once the new
            # round is materialized (same O(2 x edges) loop-storage
            # discipline as pagerank — without it a k-round run holds k
            # edge-sized block sets)
            e, new_ids = local_checkpoint(_small_star(_large_star(e)))
            live_ids |= new_ids
            unpersist_ids(spark, prev_ids)
            live_ids -= prev_ids
            prev_ids = new_ids
            sig = _signature(e)
            if sig == prev:
                converged = True
                break
            prev = sig
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    except BaseException:
        unpersist_ids(spark, live_ids)
        raise
    # fixpoint edges are star edges (node → component min); roots and
    # isolated nodes label themselves
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = labels.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = labels.union(roots).distinct()
    if nodes is not None:
        all_nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        out = (
            all_nodes.join(out, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component"))
        )
    return out
