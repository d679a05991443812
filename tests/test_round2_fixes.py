"""Round-2 hardening: scheduler shell (T1), lookback matrix, warehouse
partition/PK stranding, upsert broadcast default, asof determinism,
minutes_between boundary semantics, salted_join outer-join guard.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.catalog import TableSpec, _schema, lookback_for
from binancedatapipeline_spark.functions.timeutils import minutes_between
from binancedatapipeline_spark.operators.asof import asof_join
from trainingdata_spark.operators.salt import salted_join
from binancedatapipeline_spark.operators.upsert import upsert
from binancedatapipeline_spark.pipeline import Pipeline
from binancedatapipeline_spark.warehouse import Warehouse


# ------------------------------------------------------------ scheduler


def test_run_forever_on_time_and_catchup(spark, tmp_path):
    """Reference semantics (scheduler_clickhouse.py:120-133): start at
    10:59 with update_minute=58 → one immediate catch-up tick, then the
    next tick sleeps to 11:58."""
    p = Pipeline(spark, str(tmp_path / "wh"))
    ran, slept = [], []
    p.update_all = lambda now=None: ran.append(now) or {}

    clock_values = iter(
        [
            datetime(2024, 1, 1, 10, 59, 30),  # startup check: past due
            datetime(2024, 1, 1, 10, 59, 30),  # schedule next tick
            datetime(2024, 1, 1, 11, 58, 0),   # tick fires
        ]
    )
    p.run_forever(
        update_minute=58,
        clock=lambda: next(clock_values),
        sleep=lambda s: slept.append(s),
        max_ticks=2,
    )
    assert len(ran) == 2  # catch-up + one scheduled tick
    assert slept == [pytest.approx((58 - 59.5) * 60 + 3600, abs=1)]
    assert ran[1] == datetime(2024, 1, 1, 11, 58, 0)


def test_run_forever_not_past_due_waits(spark, tmp_path):
    """Start at 10:10 → no catch-up; first tick waits until 10:58."""
    p = Pipeline(spark, str(tmp_path / "wh"))
    ran, slept = [], []
    p.update_all = lambda now=None: ran.append(now) or {}
    clock_values = iter(
        [
            datetime(2024, 1, 1, 10, 10, 0),
            datetime(2024, 1, 1, 10, 10, 0),
            datetime(2024, 1, 1, 10, 58, 0),
        ]
    )
    p.run_forever(
        update_minute=58,
        clock=lambda: next(clock_values),
        sleep=lambda s: slept.append(s),
        max_ticks=1,
    )
    assert len(ran) == 1
    assert slept == [pytest.approx(48 * 60, abs=1)]


# ------------------------------------------------------ lookback matrix


def test_lookback_matrix_matches_reference():
    """duckdb:1623-1626 / ch:1821-1825: 1m→2min, 1h→2h, 8h→8h."""
    assert lookback_for("1m") == "2 minutes"
    assert lookback_for("1h") == "2 hours"
    assert lookback_for("8h") == "8 hours"
    # and the registered specs encode their cadence's value
    assert catalog.BN_SPOT_KLINES.lookback == "2 hours"
    assert catalog.BN_PERP_KLINES.update_frequency == "1h"
    assert catalog.BN_FUNDING_RATES.lookback == "8 hours"
    assert catalog.BN_MARGIN_INTEREST_RATES.lookback == "8 hours"
    assert catalog.BN_OPTION_SYMBOLS_EXERCISED.lookback == "8 hours"
    for spec in catalog.TABLES.values():
        if spec.update_frequency is not None:
            assert spec.lookback == lookback_for(spec.update_frequency)


# --------------------------------------- warehouse partition stranding


def _exercise_spec() -> TableSpec:
    return TableSpec(
        name="t_exercised",
        primary_keys=("symbol", "exchange"),
        schema=_schema(
            {
                "symbol": "string",
                "exchange": "string",
                "expiryDate": "timestamp",
                "strikeResult": "string",
            }
        ),
        kind="fact",
        time_column="expiryDate",
        lookback="8 hours",
        partition_date_source="expiryDate",
    )


def test_upsert_moves_row_across_partitions(spark, tmp_path):
    """PK (symbol, exchange), partitioned by expiryDate: an update
    that CHANGES a row's expiryDate must remove the superseded row
    from its old partition (ADVICE: the reference's UPDATE...FROM
    replaces in place, so duplicate PKs across partitions would break
    the unique-PK read contract)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = _exercise_spec()
    first = spark.createDataFrame(
        [("BTC-X", "binance", datetime(2024, 1, 1, 8), "ITM"),
         ("ETH-Y", "binance", datetime(2024, 1, 1, 8), "OTM")],
        schema=spec.schema,
    )
    wh.upsert(spec, first)
    moved = spark.createDataFrame(
        [("BTC-X", "binance", datetime(2024, 2, 1, 8), "OTM")],
        schema=spec.schema,
    )
    wh.upsert(spec, moved)

    got = wh.read(spec)
    assert got.count() == 2  # no duplicate PK left behind
    row = got.filter(F.col("symbol") == "BTC-X").collect()
    assert len(row) == 1
    assert row[0]["expiryDate"] == datetime(2024, 2, 1, 8)
    # the emptied 2024-01-01 partition keeps only the ETH row
    old = got.filter(F.to_date("expiryDate") == date(2024, 1, 1)).collect()
    assert [r["symbol"] for r in old] == ["ETH-Y"]


def test_upsert_removes_emptied_partition_dir(spark, tmp_path):
    """A partition whose every row was superseded must not survive
    logically (dynamic overwrite alone would never rewrite it).
    Round-6 manifest protocol: the emptied partition leaves the
    MANIFEST at commit (invisible to every reader immediately); its
    files persist one grace cycle for in-flight readers and are
    physically removed by vacuum(full=True)."""
    root = tmp_path / "wh"
    wh = Warehouse(spark, str(root))
    spec = _exercise_spec()
    wh.upsert(spec, spark.createDataFrame(
        [("BTC-X", "binance", datetime(2024, 1, 1, 8), "ITM")],
        schema=spec.schema,
    ))
    assert (root / "t_exercised" / "ds=2024-01-01").exists()
    wh.upsert(spec, spark.createDataFrame(
        [("BTC-X", "binance", datetime(2024, 2, 1, 8), "OTM")],
        schema=spec.schema,
    ))
    manifest = wh._load_manifest(spec.name)
    assert "2024-01-01" not in manifest["files"]  # logically dropped
    got = wh.read(spec).collect()
    assert len(got) == 1 and got[0]["expiryDate"] == datetime(2024, 2, 1, 8)
    wh.vacuum(spec.name, full=True)
    assert not (root / "t_exercised" / "ds=2024-01-01").exists()


# ------------------------------------------- upsert broadcast default


def test_upsert_default_does_not_force_broadcast(spark):
    """Default broadcast_updates=None adds NO broadcast hint — the
    planner/AQE picks the strategy from runtime sizes, so a
    backfill-sized batch can never be force-broadcast into executor
    OOM. Passing True still forces the hint."""
    target = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    updates = spark.range(10).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    default_plan = upsert(target, updates, ["k"])._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in default_plan and "hint" not in default_plan.lower()
    forced_plan = upsert(target, updates, ["k"], broadcast_updates=True)._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in forced_plan.lower()
    # semantics unchanged
    out = upsert(target, updates, ["k"]).collect()
    assert len(out) == 1000
    assert sum(1 for r in out if r["v"] == "new") == 10


# --------------------------------------------------- asof determinism


def test_asof_join_deterministic_on_ts_ties(spark):
    """Multiple right rows sharing (key, ts): the greatest payload
    struct wins, independent of partitioning/input order."""
    left = spark.createDataFrame(
        [("A", datetime(2024, 1, 1, 12))], ["sym", "ts"]
    )
    dup = [("A", datetime(2024, 1, 1, 11), x) for x in (3.0, 9.0, 1.0)]
    results = []
    for parts in (1, 8):
        right = spark.createDataFrame(dup, ["sym", "ts", "quote"]).repartition(parts)
        out = asof_join(
            left, right, on=["sym"], left_time="ts", right_time="ts",
            right_values=["quote"],
        ).collect()
        results.append(out[0]["quote"])
    assert results == [9.0, 9.0]


# ------------------------------------------------ minutes_between


def test_minutes_between_counts_boundary_crossings(spark):
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 0, 59), datetime(2024, 1, 1, 0, 1, 0)),
            (datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 0, 0, 59)),
            (datetime(2024, 1, 1, 0, 0, 30), datetime(2024, 1, 1, 0, 5, 29)),
        ],
        ["a", "b"],
    )
    got = [r["m"] for r in df.select(minutes_between(F.col("a"), F.col("b")).alias("m")).collect()]
    # DuckDB: SELECT datediff('minute', a, b) → 1, 0, 5
    assert got == [1, 0, 5]


# ------------------------------------------------ salted_join guard


def test_salted_join_rejects_outer(spark):
    f = spark.createDataFrame([(1, "x")], ["k", "v"])
    d = spark.createDataFrame([(1, "d")], ["k", "w"])
    with pytest.raises(ValueError, match="inner"):
        salted_join(f, d, on=["k"], how="full_outer")
    with pytest.raises(ValueError, match="inner"):
        salted_join(f, d, on=["k"], how="right")
    assert salted_join(f, d, on=["k"], how="left").count() == 1
