"""Pipeline orchestration: the reference's scheduled update lifecycle.

Mirrors ``CryptoDataPipeline.update_all`` ordering (symbols tables
first — kline fetches read them — then klines, then derived tables;
crypto_data_pipline_clickhouse.py:1862-1890) and
``update_market_data``'s incremental window computation
(ch:1795-1860) on top of the Warehouse + source connectors.

``run_forever`` is the scheduler shell (APScheduler cron minute=58
with an immediate catch-up run when started past the minute,
scheduler_clickhouse.py:120-133; update_minute=58, config.py:8);
``notify`` is the alerting seam (≙ Telegram,
scheduler_clickhouse.py:25-64). For the long-lived streaming form use
streaming.stream_upsert with a processing-time trigger instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.catalog import TableSpec
from binancedatapipeline_spark.functions.timeutils import interval_ms
from binancedatapipeline_spark.plans.premium import WMA_WINDOW, premium_wma
from binancedatapipeline_spark.plans.validate import validate_klines
from binancedatapipeline_spark.warehouse import Warehouse, content_digest

FetchFn = Callable[[SparkSession, datetime, datetime], DataFrame]


@dataclass
class TableJob:
    spec: TableSpec
    fetch: FetchFn  # (spark, start, end) -> rows to upsert
    order_col: str | None = None  # keep-last tiebreak within a batch


def _utcnow() -> datetime:
    # tz-naive UTC, the storage convention (duckdb:1616)
    return datetime.now(timezone.utc).replace(tzinfo=None)


class Pipeline:
    def __init__(self, spark: SparkSession, warehouse_root: str,
                 notify: Callable[[str], None] | None = None):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)
        self.notify = notify or (lambda msg: None)
        self.jobs: dict[str, TableJob] = {}

    def register(self, job: TableJob) -> None:
        self.jobs[job.spec.name] = job
        self.warehouse.init_table(job.spec)

    def update_table(self, name: str, now: datetime | None = None,
                     backfill_start: datetime | None = None) -> int:
        """One incremental tick for one table: window = [watermark −
        lookback, now] (full backfill window when the table is
        empty), fetch, PK-upsert. Returns rows upserted — for a
        dimension, the rows of its payload, which is rewritten only
        when its content changed."""
        job = self.jobs[name]
        now = now or _utcnow()
        if job.spec.needs_incremental:
            start = self.warehouse.incremental_start(job.spec, now)
            if start is None:
                start = backfill_start or (now - timedelta(days=30))
            n = self.warehouse.upsert(
                job.spec, job.fetch(self.spark, start, now), order_col=job.order_col
            )
        else:
            n = self._refresh_dim(job, now)
        self.notify(f"updated {name}: {n} rows")
        return n

    def _refresh_dim(self, job: TableJob, now: datetime) -> int:
        """Full refresh of a non-incremental table, skipped when the
        payload's row count and :func:`content_digest` — one aggregate
        — match the fingerprint the live version was committed with, so
        an unchanged dimension is not rewritten every tick (nor after a
        restart: the fingerprint lives in the manifest)."""
        spec = job.spec
        rows = spec.align(job.fetch(self.spark, now, now)).cache()
        # the batch is cached only for the commit; a long-lived
        # run_forever must not pin one more batch per table every tick
        try:
            row = rows.agg(
                F.count(F.lit(1)).alias("n"), content_digest(spec).alias("d")
            ).first()
            n, digest = row["n"], f"{row['n']}:{row['d']}"
            if n and digest != self.warehouse.digest(spec):
                self.warehouse.overwrite(spec, rows, digest=digest)
        finally:
            rows.unpersist()
        return n

    def update_all(self, now: datetime | None = None) -> dict[str, int]:
        """Dims first, then facts, then derived — the reference's
        dependency order (ch:1862-1890)."""
        order = sorted(
            self.jobs,
            key=lambda n: {"dim": 0, "fact": 1, "derived": 2}[self.jobs[n].spec.kind],
        )
        results = {}
        for name in order:
            try:
                results[name] = self.update_table(name, now)
            except Exception as e:  # keep going, like the reference's per-table try
                self.notify(f"failed to update {name}: {e}")
                results[name] = -1
        return results

    # ----------------------------------------------------- scheduler

    def run_forever(
        self,
        update_minute: int = 58,
        clock: Callable[[], datetime] | None = None,
        sleep: Callable[[float], None] | None = None,
        max_ticks: int | None = None,
    ) -> int:
        """Hourly scheduler shell: run ``update_all`` at
        ``update_minute`` of every hour, and — the reference's
        catch-up rule (scheduler_clickhouse.py:123-125) — run
        IMMEDIATELY on startup when the current hour's tick is
        already past due (now.minute >= update_minute).

        ``clock``/``sleep`` are injectable for tests; ``max_ticks``
        bounds the loop (None = forever). Returns ticks executed.
        """
        import time as _time

        clock = clock or _utcnow
        sleep = sleep or _time.sleep
        ticks = 0
        now = clock()
        if now.minute >= update_minute:  # past due → catch up now
            self.update_all(now)
            ticks += 1
        while max_ticks is None or ticks < max_ticks:
            now = clock()
            nxt = now.replace(minute=update_minute, second=0, microsecond=0)
            if nxt <= now:
                nxt += timedelta(hours=1)
            sleep((nxt - now).total_seconds())
            self.update_all(clock())
            ticks += 1
        return ticks

    # ------------------------------------------------------- derived

    def refresh_premium(self, start: datetime, end: datetime) -> int:
        """Materialize bn_premium from the stored kline tables
        (§3.2) and upsert it.

        The kline reads are manifest-stat-pruned to [start − WMA
        warm-up, end]: the hourly tick's window touches a handful of
        files, not the table's history — partition pruning can't do
        this (premium_wma filters the raw timestamp, not ``ds``), and
        premium_wma's own row filter keeps the result exact. The
        warm-up is WMA_WINDOW bars of the stored klines' interval
        (read off the window's first perp bar), so the WMA is defined
        from ``start`` on 1h bars as on 1m bars."""
        head = self.warehouse.read_between(
            catalog.BN_PERP_KLINES, since=start, until=end
        ).select("interval").first()
        interval = head["interval"] if head is not None else "1m"
        warmup = start - WMA_WINDOW * timedelta(milliseconds=interval_ms(interval))
        perp = self.warehouse.read_between(
            catalog.BN_PERP_KLINES, since=warmup, until=end
        )
        spot = self.warehouse.read_between(
            catalog.BN_SPOT_KLINES, since=warmup, until=end
        )
        prem = premium_wma(perp, spot, str(start), str(end), interval=interval)
        return self.warehouse.upsert(catalog.BN_PREMIUM, prem, order_col=None)

    def validate(self, table: str = "bn_spot_klines", interval_hours: int = 1) -> DataFrame:
        """The recurring gap audit (validate_data, ch:1920-1953)."""
        spec = catalog.TABLES[table]
        return validate_klines(self.warehouse.read(spec), interval_hours)
