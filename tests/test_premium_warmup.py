"""The incremental premium refresh warms the WMA up for WMA_WINDOW
bars of the klines' own interval, so on 1h bars (the CLI default) as
on 1m bars it equals a full recompute."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline
from binancedatapipeline_spark.plans.premium import WMA_WINDOW, premium_wma

SPOT, PERP = catalog.BN_SPOT_KLINES, catalog.BN_PERP_KLINES
SYMBOLS = ["AUSDT", "BUSDT"]


def _kline_pipeline(spark, root: str, interval: str) -> Pipeline:
    def perp_api():
        # defined here so Spark tasks unpickle it by value
        from binancedatapipeline_spark.sources.binance import SyntheticBinanceApi

        class PerpApi(SyntheticBinanceApi):
            """Perp closes differ from spot closes: the premium is not 0."""

            def _value(self, symbol, ts, field):
                return super()._value(f"{symbol}-perp", ts, field)

        return PerpApi()

    spot = next(j for j in standard_jobs(SYMBOLS, interval) if j.spec is SPOT)
    perp = next(j for j in standard_jobs(SYMBOLS, interval, api_factory=perp_api)
                if j.spec is PERP)
    pipe = Pipeline(spark, root)
    pipe.register(spot)
    pipe.register(perp)
    return pipe


@pytest.mark.parametrize("interval,bar", [("1m", timedelta(minutes=1)),
                                          ("1h", timedelta(hours=1))])
def test_incremental_premium_equals_full_recompute(spark, tmp_path, interval, bar):
    pipe = _kline_pipeline(spark, str(tmp_path / "wh"), interval)
    t0 = datetime(2024, 3, 1)
    backfilled, ticked = t0 + 3 * WMA_WINDOW * bar, t0 + (3 * WMA_WINDOW + 10) * bar
    for spec in (SPOT, PERP):
        pipe.update_table(spec.name, now=backfilled, backfill_start=t0)
    pipe.refresh_premium(t0, backfilled)
    for spec in (SPOT, PERP):
        pipe.update_table(spec.name, now=ticked)
    assert pipe.refresh_premium(backfilled, ticked) == 2 * 11

    wh = pipe.warehouse
    key = ["symbol", "timestamp"]
    stored = wh.read(catalog.BN_PREMIUM).select(
        *key, F.col("premium").alias("p"), F.col("wma120_premium").alias("w"))
    full = premium_wma(wh.read(PERP), wh.read(SPOT), str(t0), str(ticked)).select(
        *key, F.col("premium").alias("fp"), F.col("wma120_premium").alias("fw"))
    rows = stored.join(full, key, "full_outer").collect()
    assert len(rows) == 2 * (3 * WMA_WINDOW + 11)
    bad = [r for r in rows
           if r["p"] is None or r["fp"] is None or abs(r["p"] - r["fp"]) > 1e-12
           or (r["w"] is None) != (r["fw"] is None)
           or (r["w"] is not None and abs(r["w"] - r["fw"]) > 1e-9)]
    assert not bad, bad[:3]
    # the incremental rows all have a full window behind them
    assert all(r["w"] is not None for r in rows if r["timestamp"] >= backfilled)
