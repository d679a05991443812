"""Distributed PageRank over a link graph — the host-authority signal
web-curation pipelines weight documents by (Common Crawl publishes
exactly this as its host-level ranks; CCNet/RefinedWeb-style recipes
consume link-based authority next to content quality).

Power iteration as pure DataFrame algebra: each round is one
out-degree-normalized contribution explode (a join on src) and one
sum-by-dst, with the dangling-node mass (pages with no outlinks)
redistributed uniformly so the ranks keep summing to 1 — the standard
formulation. Iterations end in ``localCheckpoint`` so the lineage
does not grow with the round count (same discipline as
operators/components.py; swap for a reliable ``checkpoint`` dir on a
real cluster).

Scale shape: ONE edge-sized exchange per round — the contribution
sum's groupBy(dst). The edge weights are checkpointed
hash-partitioned by src (localCheckpoint preserves output
partitioning) and each round's ranks come out of a node-keyed join,
so the contribution join on src and the update join on node are both
exchange-free on their checkpointed side. Everything else in the
loop is NODE-sized: the teleport share and the dangling flag (pages
with no outlinks — invariant across iterations) ride INSIDE the
checkpointed ranks relation, so the per-round dangling-mass term is
a filter + one-row aggregate BROADCAST into the update plan (round
11; the former shape paid a node-shuffling semi-join against a
separate dangling set and a join against a separate teleport
relation every round) — no edge lineage is ever re-evaluated inside
the loop, and each round is a single Spark action (the checkpoint
materialization; round 10 removed the per-round collected scalar,
halving scheduler round trips). Ranks are one row per node; nothing
corpus-sized ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.operators._checkpoint import (
    local_checkpoint as _local_checkpoint,
    persistent_rdd_ids as _persistent_rdd_ids,  # tests' storage-bound pin
    unpersist_ids as _unpersist_rdd_ids,
)


def pagerank(
    edges: DataFrame,
    iterations: int = 20,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | list | None = None,
    tol: float | None = None,
    init_ranks: DataFrame | None = None,
    on_iteration=None,
) -> DataFrame:
    """Rank every node of the directed graph ``edges``: returns
    ``(node, rank)`` with ranks summing to 1 (damped power iteration,
    uniform teleport, dangling mass redistributed like the teleport).

    ``seeds`` switches to PERSONALIZED PageRank (TrustRank): the
    teleport vector — and the dangling mass — concentrates on the
    seed set instead of all nodes, so a node's rank measures its link
    proximity to the trusted seeds (the curation use: seed Wikipedia/
    gov/edu hosts, weight crawl hosts by how reachable they are from
    trust). Seeds may be a one-column DataFrame or a Python list;
    seeds absent from the graph are ignored, and at least one seed
    must be present.

    ``tol`` enables early stopping: iteration ends once the L∞ rank
    change falls below it (``iterations`` becomes the cap). The check
    is one node-sized aggregate per round — the only per-round driver
    action besides the checkpoint itself; convergence detection costs
    a bounded scalar, not a corpus pass.

    ``init_ranks`` WARM-STARTS the iteration from a previous run's
    ``(node, rank)`` output — the recurring-crawl pattern: this
    month's graph differs from last month's by a few percent, and the
    damped iteration contracts toward its unique fixpoint at rate
    ``damping^k`` FROM ANY START, so starting near the answer with
    ``tol`` set converges in a handful of rounds instead of ~20
    (measured in tools/bench_pagerank.py --warm). Ranks are matched
    by node; nodes NEW to this graph fall back to their teleport
    share; ranks of departed nodes drop; the vector is renormalized
    to sum 1 (so any positive scaling of a stored rank vector is a
    valid start). The FIXPOINT is unchanged — warm-starting affects
    rounds-to-converge, never the answer; with a fixed ``iterations``
    and no ``tol`` the result differs from cold-start only by the
    (smaller) residual error. Duplicate node rows in ``init_ranks``
    are collapsed (max per node) before use, so a corrupted stored
    vector can slow the warm start but never distort round 1's mass
    accounting.

    ``on_iteration`` (callable ``(round_index, linf_delta | None)``)
    fires after each round — progress logging for long runs;
    ``linf_delta`` is populated only when ``tol`` is set (without
    ``tol`` the loop deliberately runs no per-round delta aggregate).

    Deterministic: the result is a pure function of the edge SET
    (duplicate edges are collapsed — a page linking the same target
    twice is one endorsement, the convention host-graph builders use).
    Nodes appearing only as targets (no outlinks) are ranked too;
    their whole rank is dangling mass.

    Storage: the returned ranks are a persisted ``localCheckpoint``
    (node-sized block set). A session ranking many graphs should pass
    each result to :func:`~trainingdata_spark.operators.release`
    once consumed — after which the DataFrame is dead (lineage
    truncated; no further actions)."""
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"pagerank: damping must be in (0, 1), got {damping}")
    spark = edges.sparkSession

    # every block set THIS call created and has not yet freed; ids come
    # from the checkpointed DataFrames' own plans (never a registry
    # diff), so concurrent jobs' blocks can never land here — and the
    # except path below frees exactly ours on any failure
    live_ids: set[int] = set()

    def tracked(df: DataFrame) -> tuple[DataFrame, set[int]]:
        out, ids = _local_checkpoint(df)
        live_ids.update(ids)
        return out, ids

    def free(ids: set[int]) -> None:
        _unpersist_rdd_ids(spark, ids)
        live_ids.difference_update(ids)

    try:
        e = (
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # out-degree-normalized edge weights, fixed across iterations —
        # checkpointed FIRST (round 11): the node state below derives
        # from the checkpointed weights instead of re-evaluating the
        # edge lineage, so the scan + distinct exchange behind `e` runs
        # once per call, not once per setup checkpoint (guide §2.4 —
        # the two setup jobs used to each execute `e` from scratch;
        # exchange reuse cannot cross Spark actions).
        # The degree join is hinted to SHUFFLE (merge) rather than
        # broadcast so the checkpointed weights come out
        # HASH-PARTITIONED BY src — localCheckpoint preserves output
        # partitioning, and the per-round contribution join on src
        # then needs no exchange on the edge side (the rank side
        # arrives node-partitioned from the previous round's
        # checkpoint for the same reason). Per round, the only
        # edge-sized exchange left is the contribution sum's
        # groupBy(dst).
        out = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        w, _ = tracked(
            e.join(out.hint("merge"), "src")
            .select("src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w"))
        )
        # ONE node-keyed state relation instead of the former three
        # (nodes / tvec / dangling set): `__dang` marks nodes with no
        # outlinks (max of a has-outlink flag over both endpoint
        # roles — a single groupBy, where the former shape paid a
        # union-distinct AND an anti-join against the weight relation).
        # The flag rides inside the ranks relation through the loop,
        # so the per-round dangling-mass term is a FILTER over the
        # already-checkpointed ranks instead of a node-shuffling
        # semi-join, and the rank update joins ranks itself instead of
        # a separate teleport relation — two fewer node-sized
        # exchanges and one fewer setup checkpoint per call. Built
        # from the checkpointed weights, whose edge SET is exactly
        # `e`'s (the inner degree join keeps every distinct edge), so
        # node set and has-outlink flags are unchanged.
        state, state_ids = tracked(
            w.select(F.col("src").alias("node"), F.lit(1).alias("__has"))
            .unionByName(
                w.select(F.col("dst").alias("node"), F.lit(0).alias("__has"))
            )
            .groupBy("node")
            .agg((F.max("__has") == 0).alias("__dang"))
        )
        n_nodes = state.count()
        if n_nodes == 0:
            # rebuild the empty result off-checkpoint so every block
            # this call persisted (weights AND state) can be freed
            # before returning
            schema = (
                state.select("node").withColumn("rank", F.lit(0.0)).schema
            )
            free(set(live_ids))
            return spark.createDataFrame([], schema)

        # the teleport distribution: uniform over all nodes, or uniform
        # over the seed set (personalized). `__t` sums to 1 either way.
        if seeds is not None:
            if not isinstance(seeds, DataFrame):
                seeds = spark.createDataFrame(
                    [(s,) for s in seeds], state.select("node").schema
                )
            seed_nodes, _ = tracked(
                state.select("node").join(
                    seeds.select(F.col(seeds.columns[0]).alias("node")).distinct(),
                    "node",
                    "left_semi",
                )
            )
            n_seeds = seed_nodes.count()
            if n_seeds == 0:
                raise ValueError("pagerank: no seed appears in the graph")
            base = state.join(
                seed_nodes.withColumn("__t", F.lit(1.0 / n_seeds)), "node", "left"
            ).select(
                "node", F.coalesce("__t", F.lit(0.0)).alias("__t"), "__dang"
            )
        else:
            base = state.select(
                "node", F.lit(1.0 / n_nodes).alias("__t"), "__dang"
            )

        if init_ranks is not None:
            # warm start: previous ranks matched by node, teleport
            # share for nodes new to this graph (departed nodes drop
            # via the inner semantics of the left join on the CURRENT
            # node set), renormalized to sum 1 by a one-row broadcast
            # aggregate — no collect, same discipline as the
            # dangling-mass term. Non-positive/NULL stored ranks fall
            # back to the teleport share too (a rank vector is
            # positive by construction; anything else is corruption,
            # and the teleport share is the safe neutral start).
            # collapse duplicate node rows BEFORE the join: a stored
            # vector with repeated nodes (a botched upsert, a union of
            # two snapshots) would otherwise fan out the tvec left
            # join — double-counting that node in the normalization
            # sum and in round 1's contributions/dangling mass (benign
            # under tol, a silently-larger residual under fixed
            # iterations). max() keeps one deterministic value; the
            # renormalization below absorbs any scale.
            ir = (
                init_ranks.select(
                    F.col(init_ranks.columns[0]).alias("node"),
                    F.col(init_ranks.columns[1]).cast("double").alias("__r0"),
                )
                .groupBy("node")
                .agg(F.max("__r0").alias("__r0"))
            )
            r0 = base.join(ir, "node", "left").select(
                "node",
                "__t",
                "__dang",
                F.when(F.col("__r0") > 0, F.col("__r0"))
                .otherwise(F.col("__t"))
                .alias("__r0"),
            )
            tot = r0.agg(
                F.coalesce(F.sum("__r0"), F.lit(0.0)).alias("__tot")
            )
            # checkpoint the normalized start: the caller's init_ranks
            # lineage is arbitrary (a warehouse read, a previous run)
            # and round 1 reads `ranks` from several subtrees — without
            # a materialization it would evaluate repeatedly
            ranks, init_ids = tracked(
                r0.crossJoin(F.broadcast(tot)).select(
                    "node",
                    "__t",
                    "__dang",
                    F.when(
                        F.col("__tot") > 0, F.col("__r0") / F.col("__tot")
                    )
                    .otherwise(F.col("__t"))
                    .alias("rank"),
                )
            )
        elif seeds is not None:
            # the personalized base is a join over two checkpoints and
            # round 1 reads ranks from three subtrees — materialize it
            # once (the former shape checkpointed its teleport relation
            # at exactly this point)
            ranks, init_ids = tracked(
                base.withColumn("rank", F.col("__t"))
            )
        else:
            # uniform start: a pure projection over the state
            # checkpoint — nothing to materialize
            ranks = base.withColumn("rank", F.col("__t"))
            init_ids = set()
        # each round's localCheckpoint persists a node-sized block set;
        # without cleanup a 20-iteration run holds 20 of them
        # (O(iterations x nodes) memory/disk — measured as creeping GC
        # pressure across long runs). Free the SUPERSEDED round's blocks
        # once the new ranks are materialized and the delta (which reads
        # the old ranks) is done — loop storage stays O(2 x nodes) at
        # any iteration count.
        # seed the freeing chain with the warm-start checkpoint (if
        # any): round 1's free(prev_ids) releases it once superseded
        prev_ids: set[int] = init_ids
        for it in range(iterations):
            contribs = (
                w.join(
                    ranks.select(F.col("node").alias("src"), "rank"), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("__w")).alias("__in"))
            )
            # dangling mass: rank held by nodes with no outlinks —
            # spread along the teleport vector. A one-row aggregate
            # broadcast INTO the update plan (not collected): the
            # whole round is then a single action (the checkpoint's
            # eager materialization) — no per-round driver sync point.
            # The dangling flag rides in the checkpointed ranks, so
            # this is a filter + sum over node-sized checkpoint blocks
            # — no join (the former semi-join against a separate
            # dangling set shuffled the ranks every round).
            dang_mass = (
                ranks.filter(F.col("__dang"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
            )
            nxt, nxt_ids = tracked(
                ranks.select("node", "__t", "__dang")
                .join(contribs, "node", "left")
                .crossJoin(F.broadcast(dang_mass))
                .select(
                    "node",
                    "__t",
                    "__dang",
                    (
                        F.col("__t")
                        * (
                            F.lit(1.0 - damping)
                            + F.lit(damping) * F.col("__dm")
                        )
                        + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            stop = False
            delta = None
            if tol is not None:
                delta = (
                    nxt.join(
                        ranks.select("node", F.col("rank").alias("__prev")),
                        "node",
                        "left",
                    )
                    .agg(F.max(F.abs(F.col("rank") - F.coalesce("__prev", F.lit(0.0)))))
                    .first()[0]
                )
                stop = delta is not None and delta < tol
            if on_iteration is not None:
                on_iteration(it, delta)
            free(prev_ids)
            prev_ids = nxt_ids
            ranks = nxt
            if stop:
                break
    except BaseException:
        # exception-safe: any exit path (the no-seed ValueError, a
        # mid-loop job failure) frees every block this call persisted
        _unpersist_rdd_ids(spark, live_ids)
        raise
    # the returned ranks are an eagerly-materialized checkpoint with
    # truncated lineage — nothing the caller can do re-reads the loop
    # invariants, so everything except the final ranks' own blocks is
    # freed here (a caller ranking many graphs in one session would
    # otherwise accumulate every graph's weight relation). The final
    # ranks' own blocks live until the caller passes the result to
    # operators.release() once it is consumed (the projection below is
    # narrow — release() resolves checkpoint leaves through it).
    free(live_ids - prev_ids)
    return ranks.select("node", "rank")
