"""Structured Streaming jobs: micro-batch upsert + bar resampling.

The reference's hourly APScheduler cron + MAX(ts)-lookback refetch +
PK upsert (scheduler_clickhouse.py:120-133,
crypto_data_pipeline_duckdb.py:1612-1629, 1546-1594) maps onto
Structured Streaming as:

- a streaming source (file replay in tests; any rate/kafka source in
  production) with ``withWatermark`` as the late-data tolerance
  (≙ the reference's lookback buffer T3);
- ``foreachBatch`` running the warehouse PK-upsert per micro-batch —
  idempotent under replay, so restarts/overlaps are safe (T4);
- ``Trigger.AvailableNow`` for cron-parity one-shot catch-up runs,
  or ``processingTime`` for a long-lived hourly trigger (T1).

``resample_klines`` is the T5 showcase: klines ARE tumbling-window
OHLCV aggregates, so deriving 1h bars from 1m bars is a window
aggregation with first/max/min/last — works identically on a batch
DataFrame or a watermarked stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from binancedatapipeline_spark.catalog import TableSpec
from binancedatapipeline_spark.functions.timeutils import parse_duration
from binancedatapipeline_spark.warehouse import Warehouse


def stream_upsert(
    stream: DataFrame,
    warehouse: Warehouse,
    spec: TableSpec,
    checkpoint_dir: str,
    order_col: str | None = None,
    watermark: str | None = None,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Run a streaming DataFrame into the warehouse as PK-upserts.

    ``on_batch(batch_id, row_count)`` is the notification hook seam
    (≙ the reference's Telegram alert after each update,
    scheduler_clickhouse.py:25-64)."""
    if watermark and spec.time_column:
        stream = stream.withWatermark(spec.time_column, watermark)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n:
            warehouse.upsert(spec, batch_df, order_col=order_col)
        if on_batch:
            on_batch(batch_id, n)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def resample_klines(klines: DataFrame, target: str = "1 hour") -> DataFrame:
    """Coarser OHLCV bars from finer ones (works batch or streaming).

    open = first by time, close = last by time, high/low = max/min,
    volumes/trades summed; emitted timestamp = window start, matching
    the upstream bar convention (kline timestamp = bar open time).
    """
    win = F.window("timestamp", target)
    # min/max_by give deterministic first/last without a sort
    return (
        klines.groupBy("symbol", "exchange", "type", win.alias("w"))
        .agg(
            F.min_by("open", "timestamp").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "timestamp").alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("quote_volume").alias("quote_volume"),
            F.sum("taker_buy_volume").alias("taker_buy_volume"),
            F.sum("taker_buy_quote_volume").alias("taker_buy_quote_volume"),
            F.sum("trades_count").cast("int").alias("trades_count"),
            F.max("close_time").alias("close_time"),
        )
        .select(
            "symbol", "exchange", "type",
            F.lit(target.replace(" hour", "h").replace(" minute", "m")).alias("interval"),
            F.col("w.start").alias("timestamp"),
            "close_time", "open", "high", "low", "close",
            "volume", "quote_volume", "taker_buy_volume",
            "taker_buy_quote_volume", "trades_count",
        )
    )


def stream_premium(
    perp_stream: DataFrame,
    spot_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming form of the premium join (J1): perp⋈spot on
    (symbol, timestamp) as a stream-stream inner join. Watermarks on
    both sides bound the join state — Spark retains only rows within
    the watermark horizon, so state is O(symbols × horizon) no matter
    how long the streams run. (The WMA layer stays a batch/foreachBatch
    concern: a 120-row trailing window over event time is not
    expressible as bounded stream state.)"""
    p = (
        perp_stream.withWatermark("timestamp", watermark)
        .select(
            "symbol",
            "timestamp",
            F.col("close").alias("perp_close"),
            "exchange",
        )
    )
    s = spot_stream.withWatermark("timestamp", watermark).select(
        "symbol", "timestamp", F.col("close").alias("spot_close")
    )
    return p.join(s, on=["symbol", "timestamp"], how="inner").withColumn(
        "premium", F.col("perp_close") / F.col("spot_close") - 1
    )


def stream_extreme_alerts(
    premium_stream: DataFrame,
    perp_symbols: DataFrame,
    warehouse: Warehouse,
    premium_spec: TableSpec,
    alerts_spec: TableSpec,
    checkpoint_dir: str,
    notify: Callable[[str], None],
    interval: int = 30,
    threshold_delta: float = -0.006,
    threshold_diff: int = 1440,
    detect_lookback: str | None = "60 days",
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    max_alert_rows: int = 10,
) -> StreamingQuery:
    """The reference's actual product loop, end-to-end: update premium
    data, detect funding-squeeze extremes, alert Telegram
    (scheduler_clickhouse.py:66-117 — ``update_all`` →
    ``get_extreme_cases`` → ``TelegramNotifier.send``), as ONE
    Structured Streaming job.

    Per micro-batch (foreachBatch):

    1. run the batch detector :func:`plans.extreme.extreme_cases`
       over the post-upsert VIEW of the premium table — the committed
       lookback window with the batch's PKs replaced by the batch rows
       (the lag-``interval`` window needs history a stream-state
       formulation can't hold; ``detect_lookback`` bounds the scan to
       the recent horizon);
    2. anti-join detections against the same lookback WINDOW of the
       alert LEDGER (``alerts_spec``, PK (symbol, fundingTime)) —
       sufficient because every event's fundingTime lies inside the
       window — so only never-alerted events survive;
    3. commit the premium upsert and the new ledger rows
       (``notified=False``) as ONE :meth:`Warehouse.transaction` —
       atomic cross-table durability: no crash leaves the premium
       rows visible without their ledger rows or vice versa (T4 —
       replay-idempotent on top);
    4. then format + send one alert, then flip the rendered rows to
       ``notified=True``. Ledger-before-notify makes replay produce
       exactly ONE alert per event in the normal path (the test
       contract); rows still ``notified=False`` at the next tick —
       the crash window between ledger write and send — are picked up
       and re-sent (the backlog drain runs on EVERY tick, including
       empty batches, so an availableNow restart with no new data
       still delivers a stranded alert), so delivery is
       EFFECTIVELY-once: no double-send without a crash, no alert
       dropped forever by one. (The reference double-sends in its
       reverse-ordered window and drops nothing; this trades at most
       one crash-duplicate for the same no-loss guarantee.)

    Scale: the detection tick never scans the premium table OR the
    alert ledger in full. The horizon comes from
    :meth:`Warehouse.latest_timestamp` (a zero-job manifest-stats
    read) ∪ the in-flight batch; the premium history AND the ledger
    anti-join side come from :meth:`Warehouse.read_between`
    (driver-side file pruning off the manifest's per-file time
    bounds); the unsent re-send scan file-prunes on the manifest's
    per-file ``notified`` bounds (zero files after a healthy tick) —
    at 100 TB, with an ever-growing ledger, the tick reads the
    window's handful of files, not the table listing, and broadcasts
    only the window's alert PKs.

    ``notify`` is the injected transport (a
    :class:`~binancedatapipeline_spark.notifications.TelegramNotifier`
    in production, a recording callable in tests); the message is
    :func:`~binancedatapipeline_spark.notifications.format_alert`-
    rendered from the event rows (bounded, HTML-safe)."""
    from binancedatapipeline_spark.notifications import format_alert
    from binancedatapipeline_spark.plans.extreme import extreme_cases

    tcol = premium_spec.time_column
    pk = list(premium_spec.primary_keys)
    out_cols = ["symbol", "fundingTime", "fundingRate", "fundingRate_change"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Detection runs over (committed window ∖ batch PKs) ∪ batch —
        # the exact post-upsert view — so the premium upsert and the
        # ledger write can land as ONE atomic cross-table transaction
        # below (a crash anywhere leaves no tick where the premium
        # rows are visible without their alerts, or vice versa).
        has_batch = bool(batch_df.take(1))
        if has_batch:
            batch_df = premium_spec.align(
                batch_df.dropDuplicates(pk)
            ).persist()
        events = None
        window_since = None
        try:
            if has_batch:
                # horizon: zero-job manifest watermark ∪ the in-flight
                # batch (the batch is not committed yet — one small agg
                # over the persisted micro-batch)
                horizon = warehouse.latest_timestamp(premium_spec)
                bmax = batch_df.agg(F.max(tcol)).first()[0]
                if bmax is not None:
                    horizon = bmax if horizon is None else max(horizon, bmax)
                stored = None
                window_pred = None
                if detect_lookback is not None and horizon is not None:
                    # file-pruned window read — never a full table scan.
                    # Month/year lookbacks aren't timedelta-expressible
                    # (no fixed length), so those evaluate
                    # `horizon − interval` ONCE through Spark's own
                    # calendar arithmetic — a one-row local eval, no
                    # table touched — and then take the SAME pruned
                    # path as the timedelta branch (until round 8 they
                    # fell back to an unpruned full-table filter).
                    delta = parse_duration(detect_lookback)
                    if delta is not None:
                        window_since = horizon - delta
                    else:
                        window_since = warehouse.spark.sql(
                            f"SELECT timestamp'{horizon}' "
                            f"- interval {detect_lookback}"
                        ).first()[0]
                    window_pred = F.col(tcol) >= F.lit(window_since)
                    stored = warehouse.read_between(
                        premium_spec, since=window_since
                    )
                if stored is None:
                    stored = warehouse.read(premium_spec)
                # replay-safe post-upsert view: committed rows whose PK
                # reappears in the batch are REPLACED by the batch row
                # (a replayed batch would otherwise double its rows and
                # shift every lag-window offset)
                effective = stored.join(
                    F.broadcast(batch_df.select(*pk)), on=pk, how="left_anti"
                ).unionByName(batch_df.select(*stored.columns))
                if window_pred is not None:
                    # re-filter AFTER the union: a replayed/late batch
                    # can carry rows older than the window, and letting
                    # them into the lag windows would shift offsets —
                    # this bound applies in BOTH the timedelta and the
                    # month/year-interval branches
                    effective = effective.filter(window_pred)
                events = extreme_cases(
                    effective,
                    perp_symbols,
                    interval=interval,
                    threshold_delta=threshold_delta,
                    threshold_diff=threshold_diff,
                    top_n=max_alert_rows,
                ).select(*out_cols)
            # BOUNDED ledger reads (the ledger grows forever; the tick
            # must not). Anti-join side: every event's fundingTime is a
            # premium timestamp ≥ window_since, so ledger rows older
            # than the window can never match — a file-pruned window
            # read is exactly sufficient, and what gets broadcast is
            # the window's PKs, not the full history.
            if events is not None:
                if window_since is not None:
                    ledger_win = warehouse.read_between(
                        alerts_spec, since=window_since
                    )
                else:
                    ledger_win = warehouse.read(alerts_spec)
                fresh = events.join(
                    F.broadcast(ledger_win.select("symbol", "fundingTime")),
                    on=["symbol", "fundingTime"],
                    how="left_anti",
                )
            else:
                fresh = alerts_spec.empty(
                    warehouse.spark
                ).select(*out_cols)
            # crash-window repair, run EVERY tick (even an empty batch
            # must drain a backlog stranded by a crash — with
            # availableNow triggers new data may never arrive to flush
            # it): rows recorded whose notify never happened (still
            # False; NULL = legacy row, counts as sent) are re-sent.
            # The scan file-prunes on the manifest's per-file
            # ``notified`` bounds — after a healthy tick every file is
            # True/True and this lists ZERO files, so age never grows
            # the scan (a row stranded longer than the lookback is
            # still found: pruning is by flag value, not time).
            unsent = warehouse.read_between(
                alerts_spec, column="notified", since=False, until=False
            ).select(*out_cols)
            # the message renders at most max_alert_rows — flip
            # notified ONLY for rows actually rendered (the same
            # ordered prefix the formatter shows); a backlog beyond the
            # cap stays False and drains over the next ticks instead of
            # being silently marked sent without ever appearing
            to_send = (
                fresh.unionByName(unsent)
                .orderBy(F.col("fundingTime").desc(), "symbol")
                .persist()
            )
            rendered = to_send.limit(max_alert_rows).persist()
            try:
                send_any = bool(to_send.take(1))
                stamp = lambda df, flag: df.withColumn(
                    "batch_id", F.lit(batch_id).cast("long")
                ).withColumn("notified", F.lit(flag))
                if has_batch or send_any:
                    # ONE atomic unit: premium rows + their ledger rows
                    # (notified=False) — the pairing wh.transaction()
                    # was built for. Crash before the group record ⇒
                    # neither is visible (replay re-derives both);
                    # crash after ⇒ recover() rolls both forward.
                    with warehouse.transaction() as tx:
                        if has_batch:
                            tx.upsert(premium_spec, batch_df)
                        if send_any:
                            tx.upsert(alerts_spec, stamp(to_send, False))
                if send_any:
                    # the message frame carries one row beyond the cap
                    # so format_alert's truncation marker fires when a
                    # backlog was cut — the flip set stays exactly the
                    # rows SHOWN
                    notify(
                        format_alert(
                            "Extreme funding squeeze detected",
                            to_send.limit(max_alert_rows + 1),
                            max_rows=max_alert_rows,
                        )
                    )
                    warehouse.upsert(alerts_spec, stamp(rendered, True))
            finally:
                rendered.unpersist()
                to_send.unpersist()
        finally:
            if has_batch:
                batch_df.unpersist()

    writer = premium_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
