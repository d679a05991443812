"""PageRank vs a direct Python power-iteration reference, plus the
invariants: mass conservation, dangling handling, determinism."""

from __future__ import annotations

import pytest

from trainingdata_spark.operators.pagerank import pagerank


def _reference(edges, iterations=20, damping=0.85):
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    eset = sorted(set(edges))
    for s, d in eset:
        if s != d:
            out.setdefault(s, set()).add(d)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        nxt = {v: (1 - damping) / n + damping * dangling / n for v in nodes}
        for s, ds in out.items():
            share = ranks[s] / len(ds)
            for d in ds:
                nxt[d] += damping * share
        ranks = nxt
    return ranks


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),          # d has one outlink, nobody links d
    ("e", "c"), ("c", "e"),
    ("f", "a"),          # f dangles into the core
    ("a", "g"),          # g is a SINK (dangling node)
    ("a", "b"),          # duplicate edge collapses to one endorsement
]


def test_matches_python_power_iteration(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=25).collect()}
    exp = _reference(EDGES, iterations=25)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], rel=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # authority ordering: the hub c outranks the sink g and the
    # unreferenced d/f
    assert got["c"] > got["g"] and got["c"] > got["d"]


def test_deterministic_across_runs(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    a = sorted((r["node"], r["rank"]) for r in pagerank(df, iterations=10).collect())
    b = sorted((r["node"], r["rank"]) for r in pagerank(df, iterations=10).collect())
    assert a == b


def test_self_loops_nulls_and_guards(spark):
    rows = [("a", "a"), ("a", "b"), (None, "b"), ("b", None), ("b", "a")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=15).collect()}
    exp = _reference([("a", "b"), ("b", "a")], iterations=15)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], rel=1e-9)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.5)


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df, iterations=3).count() == 0


def _reference_personalized(edges, seeds, iterations=20, damping=0.85):
    nodes = sorted({x for e in edges for x in e})
    seeds = [s for s in seeds if s in nodes]
    out = {}
    for s, d in sorted(set(edges)):
        if s != d:
            out.setdefault(s, set()).add(d)
    t = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    ranks = dict(t)
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        nxt = {v: t[v] * ((1 - damping) + damping * dangling) for v in nodes}
        for s, ds in out.items():
            share = ranks[s] / len(ds)
            for d in ds:
                nxt[d] += damping * share
        ranks = nxt
    return ranks


def test_personalized_matches_reference_and_concentrates_on_seeds(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=25, seeds=["a", "e"]).collect()
    }
    exp = _reference_personalized(EDGES, ["a", "e"], iterations=25)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], rel=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # trust proximity: the seed-adjacent core outranks the periphery
    # unreachable FROM the seeds (f links in, nothing links f)
    assert got["b"] > got["f"] and got["c"] > got["f"]

    # seeds as a DataFrame behave identically; unknown seeds ignored
    sdf = spark.createDataFrame([("a",), ("e",), ("zzz",)], "node string")
    got2 = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=25, seeds=sdf).collect()
    }
    for v in exp:
        assert got2[v] == pytest.approx(exp[v], rel=1e-9), v
    with pytest.raises(ValueError, match="no seed"):
        pagerank(df, iterations=2, seeds=["nope"])


def test_tolerance_early_stop_converges(spark):
    """tol stops iteration once the L-inf rank change falls below it;
    the result matches the long fixed-iteration run to that tolerance."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    exact = {r["node"]: r["rank"] for r in pagerank(df, iterations=60).collect()}
    early = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=60, tol=1e-7).collect()
    }
    for v in exact:
        assert early[v] == pytest.approx(exact[v], abs=1e-5), v
    assert sum(early.values()) == pytest.approx(1.0, abs=1e-9)


def test_loop_storage_stays_bounded_across_iterations(spark):
    """Round 9: each iteration's localCheckpoint must FREE the
    superseded round's blocks — a 12-iteration run may add only the
    loop invariants (weights, teleport, nodes, dangling set) plus the
    final ranks to the persistent-RDD registry, not one block set per
    iteration (O(iterations x nodes) storage was measurable GC
    pressure on long runs)."""
    from pyspark.sql import functions as F

    from trainingdata_spark.operators.pagerank import (
        _persistent_rdd_ids,
        pagerank,
    )

    edges = spark.range(3000).select(
        F.pmod(F.xxhash64("id"), 300).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), 300).alias("dst"),
    )
    before = _persistent_rdd_ids(spark)
    ranks = pagerank(edges, iterations=12)
    added = _persistent_rdd_ids(spark) - before
    # invariants: nodes, tvec, w, dangling_nodes (+ final ranks);
    # anything near 12 means per-iteration blocks leaked again
    assert len(added) <= 6, f"{len(added)} persistent RDD sets leaked"
    # the returned ranks are still readable after the cleanup
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


def test_concurrent_checkpoints_survive_pagerank(spark):
    """Round 10: loop storage hygiene must be scoped to the loop's OWN
    blocks. The round-9 form diffed the session-global persistent-RDD
    registry around each localCheckpoint, so any RDD another thread
    persisted inside that window was captured and later force-freed —
    a silent recompute for a cache, an UNRECOVERABLE failure for a
    foreign localCheckpoint (lineage already truncated). This runs
    pagerank AND connected_components concurrently with a third thread
    that keeps localCheckpointing + caching DataFrames; every foreign
    block set must survive both loops."""
    import threading

    from pyspark.sql import functions as F

    from trainingdata_spark.operators.components import connected_components
    from trainingdata_spark.operators.pagerank import pagerank

    edges = spark.range(6000).select(
        F.pmod(F.xxhash64("id"), 500).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), 500).alias("dst"),
    )
    results: dict = {}
    errors: list = []

    def run(name, fn):
        try:
            results[name] = fn()
        except Exception as exc:  # surfaced below
            errors.append((name, exc))

    t_pr = threading.Thread(
        target=run, args=("pr", lambda: pagerank(edges, iterations=15).collect())
    )
    t_cc = threading.Thread(
        target=run,
        args=("cc", lambda: connected_components(edges).collect()),
    )
    t_pr.start()
    t_cc.start()

    # bystander thread: checkpoint + cache DataFrames while both loops
    # run; under the registry-diff scheme these ids land inside a
    # loop's diff window and get unpersisted
    bystanders = []
    i = 0
    while (t_pr.is_alive() or t_cc.is_alive()) and i < 200:
        df = spark.range(i * 10, i * 10 + 50).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        ck = df.localCheckpoint(eager=True)
        bystanders.append((ck, {int(ck._jdf.queryExecution().analyzed().rdd().id())}))
        i += 1
    t_pr.join(timeout=300)
    t_cc.join(timeout=300)
    assert not errors, errors
    assert len(bystanders) >= 3, "loops finished before any overlap happened"

    from trainingdata_spark.operators._checkpoint import persistent_rdd_ids

    still = persistent_rdd_ids(spark)
    try:
        for ck, ids in bystanders:
            # the foreign checkpoint's blocks were not freed by either
            # loop, and the data is still readable
            assert ids <= still, f"bystander blocks {ids} were unpersisted"
            assert ck.count() == 50
        assert abs(sum(r["rank"] for r in results["pr"]) - 1.0) < 1e-9
        assert len(results["cc"]) == len({r["node"] for r in results["cc"]})
    finally:
        for ck, _ in bystanders:
            ck.unpersist()


def test_failure_paths_free_all_blocks(spark):
    """Round 10 (ADVICE): every exit path — the no-seed ValueError,
    connected_components' non-convergence RuntimeError — must release
    the blocks the call persisted (round 9 leaked the pre-raise
    checkpoints)."""
    from pyspark.sql import functions as F

    from trainingdata_spark.operators._checkpoint import persistent_rdd_ids
    from trainingdata_spark.operators.components import connected_components

    df = spark.createDataFrame(EDGES, "src string, dst string")
    before = persistent_rdd_ids(spark)
    with pytest.raises(ValueError, match="no seed"):
        pagerank(df, iterations=3, seeds=["not-a-node"])
    assert persistent_rdd_ids(spark) - before == set()

    # a chain graph cannot converge in zero star rounds
    chain = spark.range(20).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iterations=0)
    assert persistent_rdd_ids(spark) - before == set()

    # the empty-graph early return leaves nothing persisted either
    empty = spark.createDataFrame([], "src string, dst string")
    before = persistent_rdd_ids(spark)
    assert pagerank(empty, iterations=2).count() == 0
    assert persistent_rdd_ids(spark) - before == set()


def test_warm_start_same_fixpoint_fewer_rounds(spark):
    """Round 10: init_ranks warm-starts the iteration — same fixpoint
    (the damped iteration contracts from any start), far fewer rounds
    under tol when started from a previous answer, counted via the
    on_iteration callback."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    cold_rounds = []
    fixpoint = pagerank(
        df, iterations=80, tol=1e-11,
        on_iteration=lambda i, d: cold_rounds.append(d),
    )
    fp = {r["node"]: r["rank"] for r in fixpoint.collect()}
    assert len(cold_rounds) > 10  # cold start genuinely iterates

    warm_rounds = []
    warm = pagerank(
        df, iterations=80, tol=1e-11, init_ranks=fixpoint,
        on_iteration=lambda i, d: warm_rounds.append(d),
    )
    wp = {r["node"]: r["rank"] for r in warm.collect()}
    assert len(warm_rounds) <= 2, warm_rounds  # starts at the answer
    for v in fp:
        assert wp[v] == pytest.approx(fp[v], abs=1e-9), v
    assert sum(wp.values()) == pytest.approx(1.0, abs=1e-9)

    # any positive SCALING of a stored vector is a valid start
    # (renormalization), and the result still converges to the fixpoint
    from pyspark.sql import functions as F

    scaled = fixpoint.select("node", (F.col("rank") * 1000.0).alias("rank"))
    ws = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=80, tol=1e-11, init_ranks=scaled).collect()
    }
    for v in fp:
        assert ws[v] == pytest.approx(fp[v], abs=1e-8), v


def test_warm_start_handles_graph_deltas_and_garbage(spark):
    """Nodes NEW to the graph (absent from init_ranks) start at their
    teleport share; departed nodes drop; non-positive stored ranks
    fall back to teleport — and the answer matches the cold run of
    the CURRENT graph regardless."""
    from pyspark.sql import functions as F

    old = spark.createDataFrame(EDGES, "src string, dst string")
    prev = pagerank(old, iterations=30)
    # current graph: adds nodes x,y; keeps the core
    cur_edges = EDGES + [("x", "c"), ("c", "y"), ("x", "y")]
    cur = spark.createDataFrame(cur_edges, "src string, dst string")
    cold = {r["node"]: r["rank"] for r in pagerank(cur, iterations=60).collect()}
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(cur, iterations=60, init_ranks=prev).collect()
    }
    assert set(warm) == set(cold)  # x,y present, nothing lost
    for v in cold:
        # after 60 damped rounds both starts sit on the fixpoint
        assert warm[v] == pytest.approx(cold[v], abs=1e-6), v
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)

    # corrupted init (zeros/negatives/NULL-producing join misses)
    garbage = prev.select("node", (F.col("rank") * -1.0).alias("rank"))
    g = {
        r["node"]: r["rank"]
        for r in pagerank(cur, iterations=60, init_ranks=garbage).collect()
    }
    for v in cold:
        assert g[v] == pytest.approx(cold[v], abs=1e-6), v


def test_warm_start_duplicate_node_rows_collapse(spark):
    """Round 11 (ADVICE): duplicate node rows in a stored init vector
    must not fan out the warm-start join (double-counting that node in
    the normalization and in round 1's mass). The guard collapses
    duplicates by max-per-node BEFORE the join, so a duplicated vector
    is bit-identical to its collapsed form even under FIXED iterations
    (where the old fan-out silently inflated the residual)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(EDGES, "src string, dst string")
    prev = pagerank(df, iterations=10)
    # corrupt the stored vector: every node twice, once at 3x the value
    dup = prev.unionByName(prev.select("node", (F.col("rank") * 3.0).alias("rank")))
    clean = dup.groupBy("node").agg(F.max("rank").alias("rank"))
    # fixed iterations, no tol — the regime where the fan-out used to
    # distort the answer rather than just slow convergence
    got_dup = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=3, init_ranks=dup).collect()
    }
    got_clean = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=3, init_ranks=clean).collect()
    }
    assert got_dup == got_clean  # bit-identical, not approx
    assert sum(got_dup.values()) == pytest.approx(1.0, abs=1e-9)


def test_warm_start_warehouse_recrawl_roundtrip(spark, tmp_path):
    """Round 11: the end-to-end recrawl pattern the warm start was
    built for — rank this crawl's graph, upsert the ranks into a
    warehouse table, and next tick warm-start from ``wh.read`` of that
    table. The stored-vector path (real parquet round-trip through the
    manifest-committed warehouse, PK upsert keeping one row per node)
    must land on the current graph's fixpoint in a handful of rounds."""
    from pyspark.sql import functions as F, types as T

    from binancedatapipeline_spark.catalog import TableSpec
    from binancedatapipeline_spark.warehouse import Warehouse

    spec = TableSpec(
        name="host_ranks",
        primary_keys=("node",),
        schema=T.StructType([
            T.StructField("node", T.StringType()),
            T.StructField("rank", T.DoubleType()),
        ]),
        kind="derived",
        needs_incremental=False,
    )
    wh = Warehouse(spark, str(tmp_path / "wh_ranks"))

    # tick 1: cold rank, store
    wh.overwrite(spec, pagerank(spark.createDataFrame(EDGES, "src string, dst string"),
                                iterations=40, tol=1e-10))
    # tick 2: the graph grew a little (the recrawl delta)
    cur = spark.createDataFrame(
        EDGES + [("x", "c"), ("c", "y"), ("x", "y")], "src string, dst string"
    )
    rounds: list = []
    warm = pagerank(
        cur, iterations=80, tol=1e-10,
        init_ranks=wh.read(spec).select("node", "rank"),
        on_iteration=lambda i, d: rounds.append(d),
    )
    cold = {r["node"]: r["rank"] for r in pagerank(cur, iterations=80, tol=1e-10).collect()}
    wp = {r["node"]: r["rank"] for r in warm.collect()}
    assert set(wp) == set(cold)
    for v in cold:
        assert wp[v] == pytest.approx(cold[v], abs=1e-7), v
    # store tick 2's ranks back (PK upsert: existing nodes replaced,
    # new nodes x/y inserted) and verify one row per node survives
    wh.upsert(spec, warm)
    stored = wh.read(spec)
    assert stored.count() == stored.select("node").distinct().count() == len(cold)
    assert {r["node"] for r in stored.collect()} == set(cold)


def test_release_frees_result_blocks_across_many_graphs(spark):
    """Round 11: operators.release(df) is the public unpersist path for
    returned checkpoints — a session ranking many graphs frees each
    result once consumed, so the persistent-RDD registry returns to its
    baseline instead of accumulating one node-sized block set per call
    (pagerank) / per fixpoint (connected_components)."""
    from pyspark.sql import functions as F

    from trainingdata_spark.operators import release
    from trainingdata_spark.operators._checkpoint import persistent_rdd_ids
    from trainingdata_spark.operators.components import connected_components

    before = persistent_rdd_ids(spark)
    results = []
    for g in range(3):
        edges = spark.range(1000).select(
            F.pmod(F.xxhash64("id", F.lit(g)), 120).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(g + 100)), 120).alias("dst"),
        )
        ranks = pagerank(edges, iterations=5)
        assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9
        results.append(ranks)
    comps = connected_components(
        spark.range(50).select(F.col("id").alias("src"), (F.col("id") % 7).alias("dst"))
    )
    comps.collect()
    results.append(comps)

    assert persistent_rdd_ids(spark) - before != set()  # results do pin blocks
    freed = sum(release(df) for df in results)
    assert freed >= len(results)  # every result had blocks to free
    assert persistent_rdd_ids(spark) - before == set()  # registry back to baseline
    # releasing an already-released / checkpoint-free DataFrame is a no-op
    assert release(spark.range(3)) == 0


def test_warm_start_composes_with_personalized_mode(spark):
    """init_ranks + seeds: the personalized fixpoint is also unique,
    so a warm start must land on the same answer — including nodes
    with ZERO teleport share (non-seeds) missing from the init, which
    start at 0 rather than a uniform share."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    cold = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=60, seeds=["a", "e"]).collect()
    }
    prev = pagerank(df, iterations=10, seeds=["a", "e"])
    # drop one non-seed node from the stored vector (simulates a
    # node that joined the graph since the last run)
    partial = prev.filter(prev.node != "b")
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=60, seeds=["a", "e"], init_ranks=partial
        ).collect()
    }
    assert set(warm) == set(cold)
    for v in cold:
        assert warm[v] == pytest.approx(cold[v], abs=1e-7), v
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)
