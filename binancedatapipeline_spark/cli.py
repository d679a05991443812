"""Process entry point — the reference's resident scheduler as a
runnable command (`python -m binancedatapipeline_spark …`).

The reference runs ``scheduler_clickhouse.py`` as a host process
(APScheduler cron at minute 58, scheduler_clickhouse.py:120-133);
this module is that shell over :class:`pipeline.Pipeline`:

    python -m binancedatapipeline_spark serve --warehouse /data/wh \
        --symbols BTCUSDT,ETHUSDT --backfill-days 7

plus the one-shot maintenance verbs (``update``, ``validate``,
``maintain``, ``vacuum``, ``watermark``) a cron-driven deployment
composes instead of the resident loop.

The registered job set mirrors the reference's update_all table
order (symbols dims → klines facts → funding) against the synthetic
transport — a production deployment passes a real ``api_factory``
with the same ``klines/klines_tail/funding`` surface; everything
Spark-side is transport-agnostic.
"""

from __future__ import annotations

import argparse
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.pipeline import Pipeline, TableJob
from binancedatapipeline_spark.sources.binance import (
    SyntheticBinanceApi,
    fetch_funding_rates_distributed,
    fetch_klines_distributed,
    flatten_exchange_info,
    parse_kline_records,
)


def _ms(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def _exchange_info_payload(symbols: list[str]) -> list[dict]:
    """Deterministic exchangeInfo-shaped payload for the symbol list
    (the synthetic transport has no metadata endpoint)."""
    return [
        {
            "symbol": s,
            "baseAsset": s.removesuffix("USDT") or s,
            "quoteAsset": "USDT",
            "status": "TRADING",
            "isSpotTradingAllowed": True,
            "isMarginTradingAllowed": True,
            "baseAssetPrecision": 8,
            "quoteAssetPrecision": 8,
            "filters": [],
        }
        for s in symbols
    ]


def standard_jobs(
    symbols: list[str],
    interval: str = "1h",
    api_factory=SyntheticBinanceApi,
    parallelism: int = 8,
) -> list[TableJob]:
    """The reference's table set as TableJobs: symbols dims first,
    then kline facts, then funding — update_all orders them by kind."""

    def spot_symbols(spark: SparkSession, start, end):
        return flatten_exchange_info(spark, _exchange_info_payload(symbols))

    def perp_symbols(spark: SparkSession, start, end):
        flat = flatten_exchange_info(spark, _exchange_info_payload(symbols))
        return flat.withColumn("type", F.lit("PERPETUAL")).withColumn(
            "onboard_date", F.to_timestamp(F.lit("2020-01-01"))
        )

    def spot_klines(spark: SparkSession, start, end):
        wire = fetch_klines_distributed(
            spark, symbols, _ms(start), _ms(end), interval,
            api_factory=api_factory, parallelism=parallelism,
        )
        return parse_kline_records(wire, "SPOT", interval)

    def perp_klines(spark: SparkSession, start, end):
        wire = fetch_klines_distributed(
            spark, symbols, _ms(start), _ms(end), interval,
            api_factory=api_factory, parallelism=parallelism,
        )
        return parse_kline_records(wire, "PERPETUAL", interval)

    def funding(spark: SparkSession, start, end):
        return fetch_funding_rates_distributed(
            spark, symbols, _ms(start), _ms(end),
            api_factory=api_factory, parallelism=parallelism,
        )

    return [
        TableJob(spec=catalog.BN_SPOT_SYMBOLS, fetch=spot_symbols),
        TableJob(spec=catalog.BN_PERP_SYMBOLS, fetch=perp_symbols),
        TableJob(spec=catalog.BN_SPOT_KLINES, fetch=spot_klines),
        TableJob(spec=catalog.BN_PERP_KLINES, fetch=perp_klines),
        TableJob(spec=catalog.BN_FUNDING_RATES, fetch=funding),
    ]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="binancedatapipeline_spark",
        description="Resident scheduler + maintenance verbs over the parquet warehouse",
    )
    p.add_argument("--warehouse", required=True, help="warehouse root directory")
    p.add_argument("--symbols", default="BTCUSDT,ETHUSDT",
                   help="comma-separated symbol list for the standard jobs")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="command", required=True)

    serve = sub.add_parser("serve", help="resident hourly scheduler (run_forever)")
    serve.add_argument("--minute", type=int, default=58,
                       help="minute-of-hour to tick (reference: 58)")
    serve.add_argument("--max-ticks", type=int, default=None,
                       help="stop after N ticks (default: run forever)")

    sub.add_parser("update", help="one update_all tick, then exit")

    val = sub.add_parser("validate", help="gap audit for a kline table")
    val.add_argument("--table", default="bn_spot_klines")
    val.add_argument("--interval-hours", type=int, default=1)

    mnt = sub.add_parser("maintain", help="compact fragmented partitions")
    mnt.add_argument("--table", required=True)

    vac = sub.add_parser("vacuum", help="remove unreferenced data files")
    vac.add_argument("--table", required=True)
    vac.add_argument("--full", action="store_true",
                     help="also drop the one-version grace files")

    wm = sub.add_parser("watermark", help="print a table's incremental watermark")
    wm.add_argument("--table", required=True)

    rb = sub.add_parser(
        "rollback",
        help="restore the previous committed snapshot (bad-publish undo; "
        "run again to redo)",
    )
    rb.add_argument("--table", required=True)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None,
         out=print) -> int:
    """Entry point. ``spark``/``out`` are injectable for tests; a real
    invocation builds the standard session."""
    args = build_parser().parse_args(argv)
    if spark is None:
        from binancedatapipeline_spark.session import get_session

        spark = get_session(
            app_name="binancedatapipeline-cli",
            shuffle_partitions=args.shuffle_partitions,
        )
    symbols = [s for s in args.symbols.split(",") if s]
    pipe = Pipeline(spark, args.warehouse, notify=lambda m: out(f"[notify] {m}"))
    for job in standard_jobs(symbols):
        pipe.register(job)

    if args.command == "serve":
        ticks = pipe.run_forever(
            update_minute=args.minute, max_ticks=args.max_ticks
        )
        out(f"serve: exited after {ticks} ticks")
    elif args.command == "update":
        results = pipe.update_all()
        for name, n in results.items():
            out(f"{name}: {n}")
        return 1 if any(n < 0 for n in results.values()) else 0
    elif args.command == "validate":
        gaps = pipe.validate(args.table, args.interval_hours)
        n = gaps.count()
        out(f"{args.table}: {n} gap(s)")
        if n:
            for r in gaps.limit(20).collect():
                out(str(r.asDict()))
        return 1 if n else 0
    elif args.command == "maintain":
        spec = catalog.TABLES[args.table]
        out(str(pipe.warehouse.maintain(spec)))
    elif args.command == "vacuum":
        removed = pipe.warehouse.vacuum(args.table, full=args.full)
        out(f"{args.table}: removed {removed} file(s)")
    elif args.command == "watermark":
        spec = catalog.TABLES[args.table]
        out(f"{args.table}: {pipe.warehouse.latest_timestamp(spec)}")
    elif args.command == "rollback":
        pipe.warehouse.rollback(args.table)
        out(f"{args.table}: rolled back to the previous version")
    return 0
