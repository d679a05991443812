"""Streaming micro-batch upsert parity + resampling + pipeline
orchestration (SURVEY §2.10, M5/M6)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.pipeline import Pipeline, TableJob
from binancedatapipeline_spark.sources.binance import (
    fetch_klines_distributed,
    parse_kline_records,
)
from binancedatapipeline_spark.streaming.jobs import resample_klines, stream_upsert
from binancedatapipeline_spark.warehouse import Warehouse


def test_stream_upsert_equals_batch_state(spark, fixture_dir, tmp_path):
    """File-replay stream → foreachBatch upsert must land the same
    final table state as one batch write (exactly-once check)."""
    spec = catalog.BN_SPOT_KLINES
    src = spark.read.parquet(f"{fixture_dir}/bn_spot_klines.parquet")
    # stage as a multi-file directory: each file becomes a micro-batch
    stage_dir = str(tmp_path / "stream_in")
    src.repartition(4).write.parquet(stage_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    wh = Warehouse(spark, str(tmp_path / "wh_stream"))
    wh.init_table(spec)
    seen = []
    q = stream_upsert(
        stream, wh, spec, str(tmp_path / "ckpt"),
        watermark="2 hours", available_now=True,
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)
    got = wh.read(spec)
    assert got.count() == src.count()
    assert seen and sum(n for _, n in seen) >= src.count()
    # spot-check one row's values survived
    a = got.orderBy("symbol", "timestamp").first()
    b = src.orderBy("symbol", "timestamp").first()
    assert a == b


def test_resample_1h_to_4h(spark, fixture_dir):
    src = spark.read.parquet(f"{fixture_dir}/bn_spot_klines.parquet")
    bars = resample_klines(src, "4 hours")
    one = (
        bars.filter((F.col("symbol") == "BTCUSDT")).orderBy("timestamp").limit(1)
    ).first()
    window_rows = src.filter(
        (F.col("symbol") == "BTCUSDT")
        & (F.col("timestamp") >= one["timestamp"])
        & (F.col("timestamp") < one["timestamp"] + pd.Timedelta(hours=4))
    ).orderBy("timestamp").collect()
    assert one["open"] == window_rows[0]["open"]
    assert one["close"] == window_rows[-1]["close"]
    assert one["high"] == max(r["high"] for r in window_rows)
    assert one["low"] == min(r["low"] for r in window_rows)
    assert abs(one["volume"] - sum(r["volume"] for r in window_rows)) < 1e-9


H = 3_600_000


def test_pipeline_incremental_tick(spark, tmp_path):
    """Full lifecycle: backfill tick then incremental tick with
    lookback overlap — second tick must only add the new window and
    replayed rows must not duplicate."""
    start0 = 1_700_000_000_000 // H * H

    def fetch(spark_, start: datetime, end: datetime):
        s_ms = int(pd.Timestamp(start).timestamp() * 1000)
        e_ms = int(pd.Timestamp(end).timestamp() * 1000)
        wire = fetch_klines_distributed(
            spark_, ["AUSDT", "BUSDT"], s_ms, e_ms, "1h", parallelism=2
        )
        return parse_kline_records(wire, "SPOT", "1h")

    pipe = Pipeline(spark, str(tmp_path / "wh_pipe"))
    pipe.register(TableJob(spec=catalog.BN_SPOT_KLINES, fetch=fetch))

    t0 = pd.Timestamp(start0, unit="ms")
    n1 = pipe.update_table(
        "bn_spot_klines", now=t0 + pd.Timedelta(hours=100), backfill_start=t0
    )
    assert n1 == 2 * 101  # hours 0..100 inclusive
    # incremental: now advances 10h; fetch window = watermark − 2h lookback
    n2 = pipe.update_table("bn_spot_klines", now=t0 + pd.Timedelta(hours=110))
    assert n2 == 2 * 13  # hours 98..110: 10 new + 2 lookback + boundary
    total = pipe.warehouse.read(catalog.BN_SPOT_KLINES).count()
    assert total == 2 * 111  # overlap deduped by PK upsert


def test_pipeline_update_all_order_and_premium(spark, fixture_dir, tmp_path):
    fix = {
        name: spark.read.parquet(f"{fixture_dir}/{name}.parquet")
        for name in ["bn_spot_symbols", "bn_spot_klines", "bn_perp_klines"]
    }
    calls = []

    def mk(name):
        def fetch(spark_, start, end):
            calls.append(name)
            return fix[name]
        return fetch

    pipe = Pipeline(spark, str(tmp_path / "wh_all"))
    # register facts before dims to prove ordering is by kind, not insertion
    pipe.register(TableJob(spec=catalog.BN_SPOT_KLINES, fetch=mk("bn_spot_klines")))
    pipe.register(TableJob(spec=catalog.BN_PERP_KLINES, fetch=mk("bn_perp_klines")))
    pipe.register(TableJob(spec=catalog.BN_SPOT_SYMBOLS, fetch=mk("bn_spot_symbols")))
    results = pipe.update_all(now=pd.Timestamp("2024-02-01"))
    assert calls[0] == "bn_spot_symbols"  # dims first
    assert all(v >= 0 for v in results.values())

    n = pipe.refresh_premium(pd.Timestamp("2024-01-10"), pd.Timestamp("2024-01-20"))
    assert n > 0
    prem = pipe.warehouse.read(catalog.BN_PREMIUM)
    assert prem.filter(F.col("wma120_premium").isNotNull()).count() > 0


def test_stream_gap_monitor_matches_batch(spark, fixture_dir, tmp_path):
    """Online stateful gap detection (applyInPandasWithState) must
    find the same gaps as the batch LEAD-window audit."""
    from binancedatapipeline_spark.operators.gaps import find_time_gaps
    from binancedatapipeline_spark.streaming.stateful import stream_gap_monitor

    src = spark.read.parquet(f"{fixture_dir}/bn_perp_klines.parquet")
    stage_dir = str(tmp_path / "gap_in")
    # stage time slices as sequential appends: FileStreamSource orders
    # by modification time, so micro-batches arrive in event-time order
    import time as _time

    weeks = sorted(
        r[0] for r in src.select(F.weekofyear("timestamp").alias("w")).distinct().collect()
    )
    for w in weeks:
        src.filter(F.weekofyear("timestamp") == w).coalesce(1).write.mode(
            "append"
        ).parquet(stage_dir)
        _time.sleep(1.1)  # distinct mtimes

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    alerts = stream_gap_monitor(stream, interval_hours=1)
    q = (
        alerts.writeStream.format("memory")
        .queryName("gap_alerts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # the processing-time timeout keeps scheduling no-data batches, so
    # an availableNow run of this operator never terminates on its own
    # (nor does processAllAvailable return). The data batches come
    # first; the first empty batch means every staged file is in.
    try:
        deadline = _time.monotonic() + 180
        while not any(p["numInputRows"] == 0 for p in q.recentProgress):
            assert _time.monotonic() < deadline, "gap stream did not drain"
            _time.sleep(0.5)
    finally:
        q.stop()
    got = {
        (r["symbol"], r["gap_start"], r["gap_end"])
        for r in spark.sql("SELECT * FROM gap_alerts").collect()
    }
    exp = {
        (r["symbol"], r["gap_start"], r["gap_end"])
        for r in find_time_gaps(src, ["symbol"], "timestamp", 60.0).collect()
    }
    assert got == exp
    assert len(exp) > 0


def test_streaming_resample_with_watermark(spark, fixture_dir, tmp_path):
    """Watermarked streaming window-agg: 1h→4h resample over a file
    stream in append mode must emit only closed windows, each equal
    to its batch counterpart."""
    src = spark.read.parquet(f"{fixture_dir}/bn_spot_klines.parquet")
    stage_dir = str(tmp_path / "res_in")
    src.repartition(4).write.parquet(stage_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage_dir)
        .withWatermark("timestamp", "2 hours")
    )
    bars = resample_klines(stream, "4 hours")
    q = (
        bars.writeStream.format("memory")
        .queryName("res_bars")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "res_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["symbol"], r["timestamp"]): (r["open"], r["close"], r["volume"])
        for r in spark.sql("SELECT * FROM res_bars").collect()
    }
    exp = {
        (r["symbol"], r["timestamp"]): (r["open"], r["close"], r["volume"])
        for r in resample_klines(src, "4 hours").collect()
    }
    assert len(got) > 0
    for key, (o, c, v) in got.items():
        eo, ec, ev = exp[key]
        assert o == eo and c == ec and abs(v - ev) < 1e-9, key


def test_stream_stream_premium_join(spark, fixture_dir, tmp_path):
    """Stream-stream inner join with watermarks on both sides must
    produce exactly the batch join's rows."""
    from binancedatapipeline_spark.streaming.jobs import stream_premium

    perp = spark.read.parquet(f"{fixture_dir}/bn_perp_klines.parquet")
    spot = spark.read.parquet(f"{fixture_dir}/bn_spot_klines.parquet")
    p_dir, s_dir = str(tmp_path / "p_in"), str(tmp_path / "s_in")
    perp.repartition(3).write.parquet(p_dir)
    spot.repartition(3).write.parquet(s_dir)

    p_stream = spark.readStream.schema(perp.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(p_dir)
    s_stream = spark.readStream.schema(spot.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(s_dir)
    # micro-batches arrive in random file order here, so use a
    # watermark spanning the fixture: nothing is "late", and the
    # stream must reproduce the batch join exactly. (Production uses
    # a tight watermark to bound state; ordered arrival is the norm.)
    joined = stream_premium(p_stream, s_stream, watermark="1000 hours")
    q = (
        joined.writeStream.format("memory")
        .queryName("prem_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["symbol"], r["timestamp"]): round(r["premium"], 9)
        for r in spark.sql("SELECT * FROM prem_join").collect()
    }
    exp_df = stream_premium(perp, spot)  # same plan, batch inputs
    exp = {
        (r["symbol"], r["timestamp"]): round(r["premium"], 9)
        for r in exp_df.collect()
    }
    assert got == exp
    assert len(exp) > 0


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    """File-replay stream of documents with duplicated bodies: the
    deduped stream must emit exactly one row per distinct text, even
    when copies arrive in different micro-batches."""
    from trainingdata_spark.streaming import stream_dedup

    base = datetime(2024, 5, 1, 0, 0)
    rows = []
    for i in range(60):
        # 20 distinct bodies, each appearing 3 times across the stream
        rows.append((i, f"document body number {i % 20}", base.replace(minute=i)))
    src = spark.createDataFrame(rows, "doc_id long, text string, ingest_ts timestamp")
    stage_dir = str(tmp_path / "dedup_in")
    src.repartition(5).write.parquet(stage_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    # micro-batches replay in arbitrary file order, so span the whole
    # fixture with the watermark: every copy is inside the horizon and
    # must be suppressed. (Production uses a tight horizon to bound
    # state; copies beyond it are re-emitted and absorbed by the
    # downstream PK-upsert — the documented at-least-once contract.)
    deduped = stream_dedup(stream, watermark="1000 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT text FROM dedup_docs").collect()
    texts = [r["text"] for r in got]
    assert len(texts) == len(set(texts)), "emitted a duplicate body"
    assert set(texts) == {f"document body number {i}" for i in range(20)}


def test_stream_near_dedup_suppresses_lsh_duplicates(spark, tmp_path):
    """MinHash-LSH streaming near-dedup: duplicated bodies collide in
    every band and must be suppressed (one emission per duplicate
    group); mutually-dissimilar bodies share no band and must all be
    emitted with every band novel. Sentinel docs beyond the horizon
    advance the watermark so the real windows close, and must not be
    emitted themselves (their windows stay open)."""
    from trainingdata_spark.streaming import stream_near_dedup

    base = datetime(2024, 5, 1, 0, 0)
    # every token carries the doc index: dissimilar docs share ZERO
    # shingles, so the only band collisions are true duplicates (a
    # shared-filler variant of this fixture produced real partial
    # MinHash band collisions between "distinct" docs — correct LSH
    # behavior, wrong test fixture)
    mk = lambda i: " ".join(f"u{i}x{j}" for j in range(14))  # noqa: E731
    rows = []
    for i in range(12):  # 12 originals, minutes 0..11
        rows.append((i, mk(i), base.replace(minute=i)))
    for j in range(8):  # ids 12..19 duplicate ids 0..7, minutes 12..19
        rows.append((12 + j, mk(j), base.replace(minute=12 + j)))
    schema = "doc_id long, text string, ingest_ts timestamp"
    stage_dir = str(tmp_path / "neardup_in")
    # real docs first; the two watermark-advancing sentinel waves go
    # into strictly NEWER files (the file source replays oldest-mtime
    # first): wave 1 raises the watermark past every real window, wave
    # 2 gives the engine the extra batch in which those now-closed
    # windows actually emit. A sentinel mixed into an early file would
    # raise the watermark immediately and make every later real doc
    # drop as late data.
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(stage_dir)
    import time as _time

    _time.sleep(1.1)
    spark.createDataFrame(
        [(100, "sentinel alpha body", base + timedelta(hours=10))], schema
    ).coalesce(1).write.mode("append").parquet(stage_dir)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(101, "sentinel beta body", base + timedelta(hours=20))], schema
    ).coalesce(1).write.mode("append").parquet(stage_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    out = stream_near_dedup(
        stream, watermark="2 hours", window="1 minute", bands=4
    )
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        r["doc_id"]: r["novel_bands"]
        for r in spark.sql("SELECT doc_id, novel_bands FROM neardup_docs").collect()
    }
    group = lambda i: i - 12 if 12 <= i <= 19 else i  # noqa: E731
    emitted_groups = sorted(group(i) for i in got)
    # exactly one emission per content group (file order decides which
    # member of a duplicate pair wins; both claim the same bands);
    # wave-1's window is closed by wave 2, so sentinel 100 emits too —
    # wave 2's own window stays open and must not
    assert emitted_groups == list(range(12)) + [100], got
    assert 101 not in got, "open-window sentinel emitted"
    # every kept doc was wholly novel: all 4 bands unclaimed
    assert set(got.values()) == {4}, got


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """session_window sessionization: the streaming (watermarked,
    append-mode) result must equal the batch aggregation over the same
    events. Files are staged in event-time order (the file source
    replays by modification time) and a far-future sentinel event
    advances the final watermark so every real session closes."""
    from trainingdata_spark.streaming import sessionize_windows

    base = datetime(2024, 5, 1, 0, 0)
    rows = []
    # user 1: two sessions (burst at t0..t2, burst at t0+90m..+92m)
    for m in (0, 1, 2, 90, 91, 92):
        rows.append((1, base + timedelta(minutes=m), float(m)))
    # user 2: one long session, events every 10 min < 30 min gap
    for m in range(0, 60, 10):
        rows.append((2, base + timedelta(minutes=m), 1.0))
    # user 3: three singleton sessions an hour apart
    for m in (0, 60, 120):
        rows.append((3, base + timedelta(minutes=m), 2.0))
    src = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")

    batch = sessionize_windows(src).collect()
    per_user = {}
    for r in batch:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 2
    assert len(per_user[2]) == 1
    assert len(per_user[3]) == 3
    # session_window semantics: end = last event + gap
    s1 = sorted(per_user[1], key=lambda r: r["session_start"])
    assert s1[0]["session_start"] == base
    assert s1[0]["session_end"] == base + timedelta(minutes=2 + 30)
    assert s1[0]["n_events"] == 3 and s1[0]["session_value"] == 3.0
    assert per_user[2][0]["n_events"] == 6

    # stage chunks in event-time order; sentinel event far in the
    # future pushes the closing watermark past every real session
    stage = str(tmp_path / "sess_in")
    chunks = [
        src.filter(F.col("ts") < base + timedelta(minutes=10)),
        src.filter(
            (F.col("ts") >= base + timedelta(minutes=10))
            & (F.col("ts") < base + timedelta(minutes=80))
        ),
        src.filter(F.col("ts") >= base + timedelta(minutes=80)),
        spark.createDataFrame(
            [(99, base + timedelta(hours=10), 0.0)], src.schema
        ),
    ]
    for chunk in chunks:
        chunk.coalesce(1).write.mode("append").parquet(stage)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = sessionize_windows(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"]): r
        for r in spark.sql("SELECT * FROM sessions").collect()
        if r["user_id"] != 99
    }
    exp = {(r["user_id"], r["session_start"]): r for r in batch}
    assert set(got) == set(exp)
    for k, r in got.items():
        e = exp[k]
        assert r["session_end"] == e["session_end"]
        assert r["n_events"] == e["n_events"]
        assert r["session_value"] == e["session_value"]


def test_stream_extreme_alerts_end_to_end(spark, tmp_path):
    """The reference's product loop (update → detect → alert,
    scheduler_clickhouse.py:66-117) as one streaming job: a planted
    funding squeeze in a replayed premium stream produces EXACTLY ONE
    formatted alert — across micro-batches (the ledger suppresses
    re-detection) and across a full from-scratch replay of the same
    data (idempotence)."""
    import pandas as pd

    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    spec = catalog.BN_PREMIUM
    alerts_spec = catalog.BN_EXTREME_ALERTS

    ts = pd.date_range("2024-03-01", periods=96, freq="h").astype("datetime64[us]")
    wma = [0.001] * 80 + [-0.02] * 16  # squeeze at hour 80
    pdf = pd.DataFrame(
        {
            "symbol": ["AAAUSDT"] * 96,
            "exchange": ["binance"] * 96,
            "timestamp": ts,
            "close_time": ts,
            "premium": wma,
            "wma120_premium": wma,
        }
    )
    src = spark.createDataFrame(pdf)
    stage_dir = str(tmp_path / "prem_in")
    # time-sliced files so the squeeze lands mid-stream, not in batch 0
    src.withColumn(
        "__slice", (F.hour("timestamp") % 3)
    ).repartitionByRange(3, F.col("timestamp")).drop("__slice").write.parquet(
        stage_dir
    )

    onboard = pd.DataFrame(
        {
            "symbol": ["AAAUSDT"],
            "onboard_date": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
        }
    )
    perp_symbols = spark.createDataFrame(onboard)

    wh = Warehouse(spark, str(tmp_path / "wh_alerts"))
    messages: list[str] = []

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        q = stream_extreme_alerts(
            stream,
            perp_symbols,
            wh,
            spec,
            alerts_spec,
            ckpt,
            notify=messages.append,
            interval=2,
            threshold_delta=-0.006,
            threshold_diff=1440,
            available_now=True,
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    assert len(messages) == 1, messages
    assert "AAAUSDT" in messages[0]
    assert messages[0].startswith("Extreme funding squeeze")
    assert "<pre>" in messages[0]  # formatted, bounded table block
    ledger = wh.read(alerts_spec).collect()
    assert len(ledger) == 1
    assert ledger[0]["symbol"] == "AAAUSDT"
    assert ledger[0]["fundingRate_change"] < -0.006

    # full from-scratch replay (fresh checkpoint, same warehouse):
    # every row replays, the detector re-fires, the ledger suppresses
    run(str(tmp_path / "ckpt2"))
    assert len(messages) == 1  # still exactly one alert ever
    assert wh.read(alerts_spec).count() == 1
    assert wh.read(spec).count() == 96  # premium upserts stayed idempotent
    # normal path: the delivery flag ends True (no re-send next tick)
    assert wh.read(alerts_spec).collect()[0]["notified"] is True


def _premium_stream_fixture(spark, tmp_path):
    """The planted-squeeze premium stream shared by the alert tests:
    (source dir, perp_symbols df, expected row count)."""
    import pandas as pd

    ts = pd.date_range("2024-03-01", periods=96, freq="h").astype("datetime64[us]")
    wma = [0.001] * 80 + [-0.02] * 16
    pdf = pd.DataFrame(
        {
            "symbol": ["AAAUSDT"] * 96,
            "exchange": ["binance"] * 96,
            "timestamp": ts,
            "close_time": ts,
            "premium": wma,
            "wma120_premium": wma,
        }
    )
    src = spark.createDataFrame(pdf)
    stage_dir = str(tmp_path / "prem_in")
    src.repartitionByRange(3, F.col("timestamp")).write.parquet(stage_dir)
    onboard = pd.DataFrame(
        {
            "symbol": ["AAAUSDT"],
            "onboard_date": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
        }
    )
    return stage_dir, spark.createDataFrame(onboard), src.schema


def test_alert_crash_between_ledger_and_notify_resends_once(spark, tmp_path):
    """Effectively-once delivery (verdict r6 #8): kill the transport
    between the ledger write and the send — the next tick re-sends
    EXACTLY one alert (the notified=False pickup), and a further full
    replay sends nothing."""
    from pyspark.sql.streaming import StreamingQueryException

    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    spec = catalog.BN_PREMIUM
    alerts_spec = catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _premium_stream_fixture(spark, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh_alerts2"))

    messages: list[str] = []
    crash = {"armed": True}

    def flaky_notify(msg: str) -> None:
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("transport down")
        messages.append(msg)

    def run(ckpt: str, notify) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        q = stream_extreme_alerts(
            stream, perp_symbols, wh, spec, alerts_spec, ckpt,
            notify=notify, interval=2, threshold_delta=-0.006,
            threshold_diff=1440, available_now=True,
        )
        q.awaitTermination(180)

    with pytest.raises(StreamingQueryException, match="transport down"):
        run(str(tmp_path / "c1"), flaky_notify)
    ledger = wh.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is False  # recorded, unsent

    run(str(tmp_path / "c2"), flaky_notify)  # crash disarmed
    assert len(messages) == 1 and "AAAUSDT" in messages[0]
    ledger = wh.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is True

    run(str(tmp_path / "c3"), flaky_notify)  # full replay: suppressed
    assert len(messages) == 1


def test_alert_tick_reads_history_via_pruned_window(spark, tmp_path):
    """Verdict r6 #3: the detect tick's premium history must come from
    read_between (manifest file-pruned) with the horizon from
    latest_timestamp — never a full-table read + post-filter."""
    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts
    from binancedatapipeline_spark.warehouse import Warehouse as WH

    spec = catalog.BN_PREMIUM
    alerts_spec = catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _premium_stream_fixture(spark, tmp_path)

    window_calls: list[tuple[str, object, object]] = []
    full_reads: list[str] = []

    class SpyWarehouse(WH):
        def read_between(self, spec, since=None, until=None, column=None):
            window_calls.append((spec.name, since, column))
            return super().read_between(spec, since, until, column)

        def read(self, spec):
            full_reads.append(spec.name)
            return super().read(spec)

    wh = SpyWarehouse(spark, str(tmp_path / "wh_alerts3"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    q = stream_extreme_alerts(
        stream, perp_symbols, wh, spec, alerts_spec,
        str(tmp_path / "c_spy"), notify=lambda m: None, interval=2,
        threshold_delta=-0.006, threshold_diff=1440,
        detect_lookback="2 days", available_now=True,
    )
    q.awaitTermination(180)

    # every detection tick went through the pruned window read, with
    # since = horizon − lookback …
    prem_calls = [c for c in window_calls if c[0] == spec.name]
    assert len(prem_calls) == 3
    assert all(s is not None and col is None for _, s, col in prem_calls)
    # … the ledger anti-join side is the SAME bounded window (r7
    # verdict #1: the ledger grows forever; the tick must not) …
    led_calls = [c for c in window_calls if c[0] == alerts_spec.name and c[2] is None]
    assert len(led_calls) == 3
    assert all(s is not None for _, s, _ in led_calls)
    # … the unsent re-send scan prunes by the notified flag bounds …
    flag_calls = [c for c in window_calls if c[2] == "notified"]
    assert len(flag_calls) == 3
    # … and NEITHER table was ever read unpruned during ticks
    assert spec.name not in full_reads
    assert alerts_spec.name not in full_reads
    # the pruning is real: the 2-day window over the 4-day table lists
    # strictly fewer files than the full table
    last_since = prem_calls[-1][1]
    pruned = set(WH.read_between(wh, spec, since=last_since).inputFiles())
    full = set(WH.read(wh, spec).inputFiles())
    assert pruned and len(pruned) < len(full)
    # after a healthy run every ledger file's notified bounds are
    # True/True — the flag-pruned unsent scan lists ZERO files while
    # the row filter keeps it exact (zero unsent rows either way)
    unsent = WH.read_between(wh, alerts_spec, since=False, until=False, column="notified")
    assert wh.read(alerts_spec).count() > 0  # the run did alert
    assert unsent.inputFiles() == [] and unsent.count() == 0


def test_alert_backlog_beyond_max_rows_drains_without_loss(spark, tmp_path):
    """Review r7: unsent rows beyond max_alert_rows must NOT be flipped
    to notified=True without ever being rendered — the backlog drains
    over subsequent ticks, every alert eventually appears in a
    message."""
    from datetime import datetime

    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    spec = catalog.BN_PREMIUM
    alerts_spec = catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _premium_stream_fixture(spark, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh_backlog"))
    messages: list[str] = []

    def run(ckpt: str, max_rows: int) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(stage_dir)
        )
        q = stream_extreme_alerts(
            stream, perp_symbols, wh, spec, alerts_spec, ckpt,
            notify=messages.append, interval=2, threshold_delta=-0.006,
            threshold_diff=1440, available_now=True, max_alert_rows=max_rows,
        )
        q.awaitTermination(180)

    run(str(tmp_path / "b1"), 10)  # normal pass: 1 real alert, sent
    assert len(messages) == 1

    # plant a 3-row unsent backlog (a crash's leftovers)
    backlog = spark.createDataFrame(
        [
            (f"FAKE{i}USDT", datetime(2024, 3, 1, i), -0.02, -0.03, 0, False)
            for i in (1, 2, 3)
        ],
        "symbol string, fundingTime timestamp, fundingRate double, "
        "fundingRate_change double, batch_id long, notified boolean",
    )
    wh.upsert(alerts_spec, backlog)

    run(str(tmp_path / "b2"), 2)  # cap 2: renders 2, leaves 1 unsent
    assert len(messages) == 2
    ledger = wh.read(alerts_spec).collect()
    assert sum(1 for r in ledger if not r["notified"]) == 1

    run(str(tmp_path / "b3"), 2)  # next tick drains the remainder
    assert len(messages) == 3
    assert all(r["notified"] for r in wh.read(alerts_spec).collect())
    # every FAKE symbol appeared in some rendered message
    rendered = "".join(messages)
    for i in (1, 2, 3):
        assert f"FAKE{i}USDT" in rendered


def test_alert_lookback_accepts_month_interval(spark, tmp_path):
    """Review r7: month-style lookbacks (not timedelta-expressible)
    must fall back to the Spark-side interval filter instead of
    crashing the stream."""
    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    spec = catalog.BN_PREMIUM
    alerts_spec = catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _premium_stream_fixture(spark, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh_month"))
    messages: list[str] = []
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(stage_dir)
    )
    q = stream_extreme_alerts(
        stream, perp_symbols, wh, spec, alerts_spec,
        str(tmp_path / "m1"), notify=messages.append, interval=2,
        threshold_delta=-0.006, threshold_diff=1440,
        detect_lookback="1 month", available_now=True,
    )
    q.awaitTermination(180)
    assert len(messages) == 1 and "AAAUSDT" in messages[0]
