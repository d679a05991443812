"""Physical-plan property guards: the optimizations the engine's
scale story depends on must be visible in the executed plans —
pushdown reaching the scan, broadcast joins for dims, TakeOrdered for
top-k, and on the market path the premium window's time range and
column set reaching both kline scans. Catching a regression here is catching a 100 TB incident at
sf0.001 cost."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod
import retired_queries as retired
from binancedatapipeline_spark.cli import _exchange_info_payload
from binancedatapipeline_spark.plans.premium import premium_wma
from binancedatapipeline_spark.sources.binance import flatten_exchange_info

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    df.collect()  # execute THIS plan so AQE finalizes it
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    # formatted mode prints scan details (PushedFilters, ReadSchema)
    # untruncated, unlike executedPlan().toString()
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    df = retired.queries()["filtered_projection"](spark, SF)
    plan = _final_plan(df)
    assert "PushedFilters: [" in plan
    # the IN-list and range predicates must be in the scan, not a Filter above it
    assert "In(l_returnflag" in plan, plan
    assert "GreaterThan(l_quantity,25.0)" in plan, plan


def test_column_pruning_reaches_scan(spark):
    df = retired.queries()["pricing_summary"](spark, SF)
    plan = _final_plan(df)
    # lineitem has 16 columns; the scan must read only the 6 used
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert read_schema.count(":") <= 8, read_schema


def test_dim_joins_broadcast(spark):
    df = retired.queries()["join_dims_broadcast"](spark, SF)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_uses_take_ordered(spark):
    # q_topk_orders is driven directly (not registry-listed: the
    # driver window is pinned at 50 and ordered top-k is verified via
    # topk_per_group) — the global sort+limit must still plan as a
    # TakeOrderedAndProject, never a full sort.
    df = retired.q_topk_orders(spark, SF)
    plan = _final_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must be the broadcast side — the
    corpus side stays a map + broadcast probe with no corpus-keyed
    shuffle before the hit count (the 100 TB contract)."""
    df = retired.queries()["doc_decontaminate"](spark, SF)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_no_cartesian_products_anywhere(spark):
    """No query may plan a cartesian/nested-loop join except the
    explicitly-blocked similarity scans (which bound one side)."""
    # query-vector broadcast cross joins by design: the bounded (3-row)
    # query set is the broadcast side in both the float and the
    # SQ8-decoded scan
    allowed = {"emb_cosine_topk", "sq8_topk"}
    for name, fn in {**entry_mod.queries(), **retired.queries()}.items():
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if name in allowed:
            continue
        assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"


def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """The self-join's two sides are one subplan: the shingle
    explode must be computed once, the second side served from a
    ReusedExchange (the 100 TB guarantee that the corpus is
    tokenized exactly once). The singleton prune IS a Window on
    sh_hash — it rides the exchange the join pays anyway and drops
    ~94% of rows before the merge; measured faster than no-prune at
    5k-50k docs and within noise at 250k (tools/bench_ngram_prune.py
    — the round-3 no-prune argument was tested and lost)."""
    df = retired.queries()["doc_ngram_jaccard"](spark, SF)
    plan = _final_plan(df)
    assert "ReusedExchange" in plan, plan
    assert "Window" in plan, plan


def test_join_composite_key_scans_events_once(spark):
    """Both join sides derive from one scan+aggregate; the per-side
    filter tests the aggregated etype=max(event_type) (NOT the
    grouping column, which Catalyst would push below the agg and into
    the scan, forking the subplans into two full scans). AQE must
    serve the second side from a ReusedExchange at runtime."""
    df = retired.queries()["join_composite_key"](spark, SF)
    plan = _final_plan(df)
    assert "ReusedExchange" in plan, plan


def test_count_distinct_never_materializes_sets(spark):
    """Round 12: the query is the single two-countDistinct aggregate —
    Spark plans it as Expand (gid-tagged row duplication, map-side
    CPU only) + partial distinct HashAggregates that compress
    duplicates BEFORE the one exchange. That map-side reduction is
    why it beat the round-7 repartition-first branch-join 1.8x at sf1
    (the repartition shipped every raw row). What stays banned is
    per-group value-set materialization: never ObjectHashAggregate /
    collect_set (a hot-key OOM at 100 TB), never a join fork."""
    df = retired.queries()["count_distinct"](spark, SF)
    plan = _final_plan(df)
    assert "Expand" in plan, plan  # the two-gid distinct aggregate
    assert "ObjectHashAggregate" not in plan, plan
    assert "collect_set" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan  # single aggregate, no branch fork


def test_lsh_topk_is_index_probe_not_scan(spark):
    """Multi-probe LSH must candidate-generate via a hash equi-join on
    the bucket id — not a nested-loop evaluating every corpus×query
    Hamming distance."""
    from trainingdata_spark.similarity import lsh_bucketed_topk

    emb = retired._t(spark, SF, "embeddings")
    queries = emb.limit(2).select(
        retired.F.col("vec_id").alias("query_id"),
        retired.F.col("embedding").alias("query_vec"),
    )
    df = lsh_bucketed_topk(emb, queries, k=5, max_hamming=2)
    plan = _final_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_spread_is_noop_when_wide_enough(spark):
    """spread() must not add a shuffle when the input already meets
    the target parallelism — the at-scale no-op contract."""
    from trainingdata_spark.operators.spread import spread

    wide = spark.range(0, 1000, 1, 64)
    assert spread(wide) is wide
    narrow = spark.range(0, 1000, 1, 1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_premium_wma_prunes_kline_scans(spark, fixture_dir):
    """The premium window's time range (warm-up included) reaches both
    kline scans as pushed filters, each scan reads only the columns the
    join needs, and the join broadcasts instead of shuffling both
    sides."""
    perp = spark.read.parquet(f"{fixture_dir}/bn_perp_klines.parquet")
    spot = spark.read.parquet(f"{fixture_dir}/bn_spot_klines.parquet")
    plan = _final_plan(premium_wma(perp, spot, "2024-01-10", "2024-01-12"))
    scans = re.findall(r"\(\d+\) Scan parquet[^\n]*\n(.*?)(?:\n\n|\Z)", plan, re.S)
    assert len(scans) == 2, plan
    for scan in scans:
        pushed = scan.split("PushedFilters:")[1].splitlines()[0]
        assert "GreaterThanOrEqual(timestamp" in pushed, plan
        assert "LessThanOrEqual(timestamp" in pushed, plan
        read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
        assert "volume" not in read_schema, read_schema
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_exchange_info_explode_gets_no_inferred_filter(spark):
    """The one market generator is an OUTER explode, which
    InferFiltersFromGenerate leaves alone: symbols with an empty
    filters array must survive, and no size() filter may appear."""
    payload = _exchange_info_payload(["BTCUSDT", "ETHUSDT"])
    payload[0]["filters"] = [{"filterType": "PRICE_FILTER", "minPrice": "0.01",
                              "maxPrice": "1000", "tickSize": "0.01"}]
    df = flatten_exchange_info(spark, payload)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan, plan
    assert "size(" not in plan, plan
    rows = {r["symbol"]: r["tick_size"] for r in df.collect()}
    assert rows == {"BTCUSDT": 0.01, "ETHUSDT": None}
