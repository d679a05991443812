"""Perp-vs-spot premium + trailing WMA-120 materialization.

Reference: ``calculate_premium_wma``
(crypto_data_pipeline_duckdb.py:1221-1268 /
crypto_data_pipline_clickhouse.py:1342-1388): equi-join perp and
spot klines on (symbol, timestamp), premium = p.close/s.close - 1,
fetch ``window`` bars of warm-up before ``start`` so the 120-row WMA
is defined at the range boundary, compute the WMA, then trim back to
[start, end]. The reference counts the warm-up in minutes, which is
``window`` bars only on 1m klines; here it is counted in bars of the
klines' ``interval``.

The reference round-trips through pandas for the WMA; here the
whole thing is ONE lazy plan: join (shuffle on symbol+timestamp —
or shuffle-free if both tables are bucketed by symbol), window
aggregate (reuses the symbol partitioning), filter. At 100 TB the
time-range predicate prunes date partitions of both kline tables
before any IO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binancedatapipeline_spark.functions.timeutils import interval_ms
from binancedatapipeline_spark.operators.wma import with_wma

WMA_WINDOW = 120


def premium_wma(
    perp_klines: DataFrame,
    spot_klines: DataFrame,
    start_time: str,
    end_time: str,
    window: int = WMA_WINDOW,
    interval: str = "1m",
) -> DataFrame:
    """Columns: symbol, exchange, timestamp, close_time, premium,
    wma{window}_premium — matching the bn_premium table schema.

    ``interval`` is the klines' bar interval (their ``interval``
    column): the ``window`` bars before ``start_time`` warm the WMA
    up. The default, 1m, is the reference's ``window`` minutes."""
    p = perp_klines.alias("p")
    s = spot_klines.alias("s")
    warmup_s = window * interval_ms(interval) // 1000
    warmup_start = F.to_timestamp(F.lit(start_time)) - F.expr(f"interval {warmup_s} seconds")
    end = F.to_timestamp(F.lit(end_time))

    joined = (
        p.join(s, on=(F.col("p.symbol") == F.col("s.symbol"))
               & (F.col("p.timestamp") == F.col("s.timestamp")), how="inner")
        .filter((F.col("p.timestamp") >= warmup_start) & (F.col("p.timestamp") <= end))
        .select(
            F.col("p.symbol").alias("symbol"),
            F.col("p.exchange").alias("exchange"),
            F.col("p.timestamp").alias("timestamp"),
            F.col("p.close_time").alias("close_time"),
            (F.col("p.close") / F.col("s.close") - 1).alias("premium"),
        )
    )
    with_avg = with_wma(
        joined, "premium", window,
        partition_cols=["symbol"], order_col="timestamp",
        output_col=f"wma{window}_premium",
    )
    return with_avg.filter(
        F.col("timestamp").between(F.to_timestamp(F.lit(start_time)), end)
    )
