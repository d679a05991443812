"""Round-8 fixes, each tied to a VERDICT r7 ask or ADVICE finding:

#1  bounded ledger reads — manifest ``stats_extra`` flag bounds +
    read_between(column=) pruning (the unsent re-send scan lists zero
    files after a healthy tick);
#2  the alert tick commits the premium upsert and the ledger write as
    ONE wh.transaction() — crash-injection on both sides of the group
    commit point shows no partially-visible tick;
#4  weight-aware HTTP rate limiting (kline weight 2, per-market weight
    budgets, separate funding/mark buckets, page-cap clamps);
ADVICE: lease heartbeat stops refreshing a stolen lock; the unsent
    backlog drains on EMPTY micro-batches too; historical_trades
    requires an API key (X-MBX-APIKEY) on the default transport.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.warehouse import Warehouse


# ---------------------------------------------------------------------------
# stats_extra flag bounds + read_between(column=) pruning (r7 ask #1)
# ---------------------------------------------------------------------------


def _alert_rows(spark, day: int, n: int, notified: bool, start_id: int = 0):
    rows = [
        (
            f"S{start_id + i}",
            datetime(2024, 3, day, i, 0, 0),
            0.01,
            -0.01,
            0,
            notified,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, catalog.BN_EXTREME_ALERTS.schema)


def test_stats_extra_recorded_and_flag_scan_prunes_files(spark, tmp_path):
    spec = catalog.BN_EXTREME_ALERTS
    wh = Warehouse(spark, str(tmp_path / "wh"))
    # two date partitions: day 1 delivered, day 2 undelivered
    wh.upsert(spec, _alert_rows(spark, 1, 3, True))
    wh.upsert(spec, _alert_rows(spark, 2, 2, False, start_id=10))

    manifest = wh._load_manifest(spec.name)
    extra = manifest.get("stats_extra", {})
    assert "notified" in extra
    rels = [r for rs in manifest["files"].values() for r in rs]
    assert rels and all(r in extra["notified"] for r in rels)

    full = set(wh.read(spec).inputFiles())
    unsent = wh.read_between(spec, column="notified", since=False, until=False)
    pruned = set(unsent.inputFiles())
    # only the day-2 (all-False) files survive the listing, and the
    # rows are exactly the undelivered ones
    assert pruned and pruned < full
    assert unsent.count() == 2
    assert {r["symbol"] for r in unsent.collect()} == {"S10", "S11"}

    # flip the undelivered rows → the flag scan lists ZERO files while
    # staying exact (the healthy-tick steady state)
    wh.upsert(spec, _alert_rows(spark, 2, 2, True, start_id=10))
    unsent2 = wh.read_between(spec, column="notified", since=False, until=False)
    assert unsent2.inputFiles() == [] and unsent2.count() == 0
    # and the time-column pruning path is untouched by the extra stats
    assert wh.read_between(spec, since=datetime(2024, 3, 2)).count() == 2


def test_read_between_on_missing_table_is_empty_not_full_read(spark, tmp_path):
    spec = catalog.BN_EXTREME_ALERTS
    wh = Warehouse(spark, str(tmp_path / "wh"))
    out = wh.read_between(spec, column="notified", since=False, until=False)
    assert out.count() == 0 and out.columns == spec.columns


# ---------------------------------------------------------------------------
# alert tick atomicity: crash injection on both sides of the group
# commit point (r7 ask #2)
# ---------------------------------------------------------------------------


def _squeeze_fixture(spark, tmp_path):
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


def _run_alert_stream(spark, stage_dir, perp_symbols, wh, ckpt, notify, schema):
    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    q = stream_extreme_alerts(
        stream, perp_symbols, wh, catalog.BN_PREMIUM,
        catalog.BN_EXTREME_ALERTS, ckpt, notify=notify, interval=2,
        threshold_delta=-0.006, threshold_diff=1440, available_now=True,
    )
    q.awaitTermination(180)


def test_alert_txn_crash_between_member_publishes_rolls_both_forward(
    spark, tmp_path
):
    """Crash AFTER the group commit record, between the premium and
    ledger member publishes: recovery rolls BOTH forward — no tick
    where the premium rows are visible without their alert rows."""
    from pyspark.sql.streaming import StreamingQueryException

    spec, alerts_spec = catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _squeeze_fixture(spark, tmp_path)
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)

    orig_publish = Warehouse._publish
    armed = {"on": True}

    def crashing(self, name, stage):
        if armed["on"] and name == alerts_spec.name:
            armed["on"] = False
            raise RuntimeError("crash between member publishes")
        orig_publish(self, name, stage)

    wh._publish = crashing.__get__(wh)
    messages: list[str] = []
    with pytest.raises(StreamingQueryException, match="between member"):
        _run_alert_stream(
            spark, stage_dir, perp_symbols, wh, str(tmp_path / "c1"),
            messages.append, schema,
        )
    del wh.__dict__["_publish"]

    # a FRESH warehouse (the restart) must see a consistent pair: the
    # commit record landed, so recovery rolls the ledger member
    # forward — the alert is there, undelivered
    wh2 = Warehouse(spark, root)
    ledger = wh2.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is False
    prem_n = wh2.read(spec).count()
    assert prem_n > 0

    # resume: the unsent backlog drains (exactly one message ever) and
    # the replayed tick stays idempotent
    _run_alert_stream(
        spark, stage_dir, perp_symbols, wh2, str(tmp_path / "c2"),
        messages.append, schema,
    )
    assert len(messages) == 1 and "AAAUSDT" in messages[0]
    ledger = wh2.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is True
    assert wh2.read(spec).count() == 96


def test_alert_txn_crash_before_commit_record_leaves_nothing(spark, tmp_path):
    """Crash AT the group commit record write: NEITHER the premium
    batch nor the ledger rows become visible — the whole tick rolls
    back and replays cleanly."""
    from pyspark.sql.streaming import StreamingQueryException

    spec, alerts_spec = catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS
    stage_dir, perp_symbols, schema = _squeeze_fixture(spark, tmp_path)
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)

    orig_write = Warehouse._write_json_atomic
    armed = {"on": True}

    def crashing(self, path, payload):
        if armed["on"] and "_txlog" in path:
            armed["on"] = False
            raise RuntimeError("crash at group commit record")
        orig_write(self, path, payload)

    wh._write_json_atomic = crashing.__get__(wh)
    messages: list[str] = []
    with pytest.raises(StreamingQueryException, match="group commit record"):
        _run_alert_stream(
            spark, stage_dir, perp_symbols, wh, str(tmp_path / "c1"),
            messages.append, schema,
        )
    del wh.__dict__["_write_json_atomic"]
    assert messages == []

    wh2 = Warehouse(spark, root)
    # nothing of the crashed tick is visible: no alert, and the
    # premium table is missing exactly that tick's rows
    assert wh2.read(alerts_spec).count() == 0
    prem_before = wh2.read(spec).count()
    assert prem_before < 96

    _run_alert_stream(
        spark, stage_dir, perp_symbols, wh2, str(tmp_path / "c2"),
        messages.append, schema,
    )
    assert len(messages) == 1
    assert wh2.read(spec).count() == 96
    ledger = wh2.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is True


def test_empty_batch_still_drains_unsent_backlog(spark, tmp_path):
    """ADVICE: an alert stranded notified=False by a crash must not
    wait for new premium data — an EMPTY micro-batch (zero-row file)
    re-sends it."""
    spec, alerts_spec = catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.upsert(alerts_spec, _alert_rows(spark, 1, 1, False))

    stage_dir = str(tmp_path / "prem_in")
    # one ZERO-ROW part file (repartition(1) forces a part to exist)
    spec.empty(spark).repartition(1).write.parquet(stage_dir)
    import pandas as pd

    perp_symbols = spark.createDataFrame(
        pd.DataFrame(
            {
                "symbol": ["S0"],
                "onboard_date": pd.to_datetime(["2024-01-01"]).astype(
                    "datetime64[us]"
                ),
            }
        )
    )
    messages: list[str] = []
    _run_alert_stream(
        spark, stage_dir, perp_symbols, wh, str(tmp_path / "c1"),
        messages.append, spec.schema,
    )
    assert len(messages) == 1 and "S0" in messages[0]
    ledger = wh.read(alerts_spec).collect()
    assert len(ledger) == 1 and ledger[0]["notified"] is True


# ---------------------------------------------------------------------------
# weight-aware rate limiting (r7 ask #4) + API key (ADVICE)
# ---------------------------------------------------------------------------


def test_token_bucket_charges_weight():
    from binancedatapipeline_spark.sources.binance import TokenBucket

    b = TokenBucket(100, 60.0)
    b.acquire(7)
    assert 92.9 < b.tokens < 93.2  # 100 − 7 (+ sub-ms refill)
    b.acquire()  # default weight 1 unchanged
    assert 91.9 < b.tokens < 92.2

    # spacing: a 4-capacity/0.4s bucket drained by two weight-2 calls
    # makes a third wait ~one token-period — weight-aware pacing
    b2 = TokenBucket(4, 0.4)
    t0 = time.monotonic()
    b2.acquire(2)
    b2.acquire(2)
    b2.acquire(1)
    assert time.monotonic() - t0 >= 0.08


def test_http_api_weight_budgets_and_buckets():
    from binancedatapipeline_spark.sources.binance import HttpBinanceApi

    calls = []

    def canned(url, params):
        calls.append((url, params))
        return []

    api = HttpBinanceApi(market="spot", get=canned)  # rate_limit="auto"
    assert api.bucket.capacity == 5500 and api.bucket.period == 60.0
    assert api.fr_bucket.capacity == 1000 and api.fr_bucket.period == 300.0
    api.klines("AAAUSDT", "1h", 0, 3_600_000)
    # a spot kline page charges its documented weight 2, not 1
    assert 5497.5 < api.bucket.tokens < 5498.5
    api.funding("AAAUSDT", 0, 3_600_000)
    # funding runs on its OWN budget; the market weight bucket is untouched
    assert 998.5 < api.fr_bucket.tokens < 999.5
    assert 5497.5 < api.bucket.tokens < 5498.6
    api.mark_price("AAA-240101-50000-C")
    assert 998.5 < api.mr_bucket.tokens < 999.5

    # per-market KLINE page caps where the stated kline weight holds —
    # funding clamps to its own documented /fundingRate max (1000)
    perp = HttpBinanceApi(market="perp", get=canned, page_limit=1500)
    assert perp.kline_limit == 499 and perp.page_limit == 1500
    perp.klines("A", "1h", 0, 1)
    assert calls[-1][1]["limit"] == 499
    perp.funding("A", 0, 1)
    assert calls[-1][1]["limit"] == 1000
    assert HttpBinanceApi(market="spot", get=canned, page_limit=5000).kline_limit == 1000
    assert HttpBinanceApi(market="options", get=canned, page_limit=1500).kline_limit == 1500


def test_http_api_mixed_workload_paces_to_weight_budget():
    """Two weight-2 kline pages against a 4-weight budget exhaust it;
    the next (weight-1) call must wait ~one token period. Flat
    1-per-call charging would leave 2 tokens and sail through — this
    is the overrun the weight-aware budget prevents."""
    from binancedatapipeline_spark.sources.binance import HttpBinanceApi

    api = HttpBinanceApi(
        market="spot", get=lambda url, params: [], rate_limit=(4, 0.4)
    )
    t0 = time.monotonic()
    api.klines("A", "1h", 0, 1)
    api.klines("A", "1h", 0, 1)
    api.funding("A", 0, 1)  # explicit tuple → shared bucket
    assert time.monotonic() - t0 >= 0.08


def test_historical_trades_requires_api_key():
    from binancedatapipeline_spark.sources.binance import HttpBinanceApi

    # default transport without a key: a clear error BEFORE any IO
    api = HttpBinanceApi(market="options")
    with pytest.raises(ValueError, match="X-MBX-APIKEY"):
        api.historical_trades("AAA-240101-50000-C")

    # with a key, the header travels to the transport — and ONLY on
    # the MARKET_DATA-security endpoint
    seen = []

    def keyed(url, params, headers=None):
        seen.append((url, headers))
        return []

    api2 = HttpBinanceApi(
        market="options", get=keyed, rate_limit=None, api_key="k123"
    )
    api2.historical_trades("AAA-240101-50000-C")
    assert seen[-1][1] == {"X-MBX-APIKEY": "k123"}

    # a configured key must NOT force the third argument onto
    # unsigned calls — a two-arg custom transport keeps working for
    # every key-free endpoint
    two_arg_calls = []

    def two_arg(url, params):
        two_arg_calls.append(url)
        return []

    api2b = HttpBinanceApi(
        market="options", get=two_arg, rate_limit=None, api_key="k123"
    )
    api2b.klines("AAA-240101-50000-C", "1h", 0, 1)
    assert len(two_arg_calls) == 1

    # a custom transport is trusted to handle auth itself (no raise)
    api3 = HttpBinanceApi(
        market="options", get=lambda url, params: [], rate_limit=None
    )
    assert api3.historical_trades("AAA-240101-50000-C") == []


# ---------------------------------------------------------------------------
# lease heartbeat fence check (ADVICE)
# ---------------------------------------------------------------------------


def test_heartbeat_stops_refreshing_a_stolen_lock(spark, tmp_path):
    """A zombie writer's heartbeat must NOT keep a thief's lock
    eternally fresh: once the lock's fence is no longer ours, the
    beater stops touching it and the (crashed) thief's lease can age
    out."""
    wh = Warehouse(spark, str(tmp_path / "wh"), lease_ttl=1.5)
    with wh._writer_lock("t1") as fence:
        lock = wh._lock_path("t1")
        # simulate a steal: the lock now belongs to a thief with a
        # higher fence, and its mtime is old (thief crashed)
        with open(lock, "w") as f:
            json.dump({"holder": "thief", "fence": fence + 1}, f)
        past = time.time() - 100
        os.utime(lock, (past, past))
        time.sleep(1.2)  # ≥ 2 heartbeat periods (ttl/3 = 0.5s)
        # the beater saw the foreign fence and stopped: mtime not
        # refreshed, so the thief's stale lease stays stealable
        assert os.path.getmtime(lock) < time.time() - 90


def test_month_lookback_bounds_replayed_batch_rows(spark, tmp_path):
    """Review r8: in the month/year-lookback branch (not
    timedelta-expressible, so the premium read uses the interval
    filter), batch rows older than the window must ALSO be excluded
    from detection — a replayed/late batch carrying ancient rows must
    not push them into the lag windows and alert on them."""
    import pandas as pd

    spec, alerts_spec = catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS
    wh = Warehouse(spark, str(tmp_path / "wh"))

    old = pd.date_range("2024-01-01", periods=3, freq="h").astype("datetime64[us]")
    new = pd.date_range("2024-06-01", periods=3, freq="h").astype("datetime64[us]")
    ts = old.append(new)
    # a squeeze planted entirely in the OLD rows (outside the window)
    wma = [0.001, 0.001, -0.02] + [0.001, 0.001, 0.001]
    pdf = pd.DataFrame(
        {
            "symbol": ["AAAUSDT"] * 6,
            "exchange": ["binance"] * 6,
            "timestamp": ts,
            "close_time": ts,
            "premium": wma,
            "wma120_premium": wma,
        }
    )
    stage_dir = str(tmp_path / "prem_in")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(stage_dir)
    perp_symbols = spark.createDataFrame(
        pd.DataFrame(
            {
                "symbol": ["AAAUSDT"],
                "onboard_date": pd.to_datetime(["2019-01-01"]).astype(
                    "datetime64[us]"
                ),
            }
        )
    )
    from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts

    messages: list[str] = []
    stream = (
        spark.readStream.schema(spark.createDataFrame(pdf).schema)
        .parquet(stage_dir)
    )
    q = stream_extreme_alerts(
        stream, perp_symbols, wh, spec, alerts_spec,
        str(tmp_path / "ckpt"), notify=messages.append, interval=2,
        threshold_delta=-0.006, threshold_diff=1440,
        detect_lookback="2 months", available_now=True,
    )
    q.awaitTermination(180)
    # the old-row squeeze lies outside horizon − 2 months: no alert
    assert messages == []
    assert wh.read(alerts_spec).count() == 0
    assert wh.read(spec).count() == 6  # the upsert itself keeps all rows


def test_symbol_bounds_prune_file_listing(spark, tmp_path):
    """Round 8: fact specs record per-file bounds of their leading PK
    (symbol/asset) in the manifest — after a range-clustered layout
    (maintain()'s (ds, PK) repartitionByRange, here produced directly)
    a single-symbol read lists only the files whose recorded range
    covers that symbol, recreating the ClickHouse ORDER BY primary
    index on the plain-parquet manifest."""
    import pandas as pd

    spec = catalog.BN_PREMIUM
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ts = pd.date_range("2024-03-01", periods=48, freq="h").astype("datetime64[us]")
    rows = []
    for i, sym in enumerate(["AAA", "BBB", "CCC", "DDD"]):
        for t in ts:
            rows.append((sym + "USDT", "binance", t, t, 0.001 * i, 0.001 * i))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "symbol", "exchange", "timestamp", "close_time",
            "premium", "wma120_premium",
        ])
    ).repartitionByRange(4, "symbol")
    wh.overwrite(spec, df)

    manifest = wh._load_manifest(spec.name)
    assert "symbol" in manifest.get("stats_extra", {})

    full = set(wh.read(spec).inputFiles())
    one = wh.read_between(spec, column="symbol", since="BBBUSDT", until="BBBUSDT")
    pruned = set(one.inputFiles())
    assert pruned and pruned < full
    assert one.count() == 48
    assert {r["symbol"] for r in one.select("symbol").distinct().collect()} == {"BBBUSDT"}
    # compaction keeps the bounds complete (a 1-file partition simply
    # stops pruning; the row filter keeps the read exact either way)
    wh.maintain(spec, max_files_per_partition=1)
    m2 = wh._load_manifest(spec.name)
    rels = [r for rs in m2["files"].values() for r in rs]
    assert rels and all(r in m2["stats_extra"]["symbol"] for r in rels)
    one2 = wh.read_between(spec, column="symbol", since="BBBUSDT", until="BBBUSDT")
    assert one2.count() == 48
