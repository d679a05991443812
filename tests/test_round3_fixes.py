"""Round-3 hardening: 1m-cadence kline spec, approx-percentile scale
path, scaled-integer WMA window sums, spread() probe memoization,
ngram_jaccard prune removal equivalence.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.warehouse import Warehouse


# ------------------------------------------------- 1m-cadence kline spec


def test_1m_kline_spec_registered():
    spec = catalog.TABLES["bn_spot_klines_1m"]
    assert spec.update_frequency == "1m"
    assert spec.lookback == "2 minutes"
    assert spec.primary_keys == ("symbol", "exchange", "interval", "timestamp")
    assert spec.schema == catalog.BN_SPOT_KLINES.schema


def test_1m_incremental_window_is_watermark_minus_2min(spark, tmp_path):
    """Reference duckdb:1623-1624: a 1m-cadence table's incremental
    fetch starts 2 minutes behind MAX(timestamp)."""
    spec = catalog.TABLES["bn_spot_klines_1m"]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wm = datetime(2024, 3, 1, 12, 34)
    row = {c: None for c in spec.columns}
    row.update(symbol="BTCUSDT", exchange="binance", interval="1m", timestamp=wm)
    wh.overwrite(spec, spark.createDataFrame([row], spec.schema))
    start = wh.incremental_start(spec, now=datetime(2024, 3, 1, 13, 0))
    assert start == wm - timedelta(minutes=2)


# ------------------------------------------------- approx percentile path


def test_approx_percentiles_within_rank_error(spark):
    """The sketch path (exact=False) must agree with the exact path
    well within the sketch's rank-error bound on a realistic grouped
    distribution."""
    from trainingdata_spark.operators.percentiles import grouped_percentiles

    df = spark.range(0, 20_000).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 37 % 10_000).cast("double").alias("v"),
    )
    exact = {
        r["g"]: r
        for r in grouped_percentiles(df, ["g"], "v", (0.5, 0.9), exact=True).collect()
    }
    approx = grouped_percentiles(df, ["g"], "v", (0.5, 0.9), exact=False).collect()
    assert len(approx) == 4
    for r in approx:
        e = exact[r["g"]]
        assert e["n"] == r["n"]
        # rank error 1/accuracy = 1e-4 over 5k rows/group ≈ exact;
        # allow a loose value tolerance around the interpolation gap
        assert abs(r["p50_v"] - e["p50_v"]) <= 5.0
        assert abs(r["p90_v"] - e["p90_v"]) <= 5.0


# ------------------------------------------------- scaled-integer WMA


def test_wma_exact_decimal_matches_plain_double(spark):
    """The scaled-integer exact path must equal the double path on a
    grid where doubles are exact (integral values), and must stay
    NULL through warm-up."""
    from binancedatapipeline_spark.operators.wma import with_wma

    rows = [("a", i, float(1 + i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    plain = with_wma(df, "v", 5, ["k"], "t", "w").orderBy("t").collect()
    exact = (
        with_wma(df, "v", 5, ["k"], "t", "w", exact_decimal="decimal(18,2)")
        .orderBy("t")
        .collect()
    )
    for p, e in zip(plain, exact):
        if p["w"] is None:
            assert e["w"] is None
        else:
            assert abs(p["w"] - e["w"]) < 1e-9
    assert all(r["w"] is None for r in exact[:4])
    assert all(r["w"] is not None for r in exact[4:])


# ------------------------------------------------- spread memoization


def test_spread_probe_memoized(spark):
    from trainingdata_spark.operators.spread import spread

    df = spark.range(0, 100, 1, 2)
    spread(df)
    assert df._spread_partition_count == 2
    # poison the memo: a second call must trust it (no re-probe)
    df._spread_partition_count = 10_000
    assert spread(df) is df
