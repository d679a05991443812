"""Ingestion connectors: distributed pagination, wire parsing,
exchangeInfo flattening (SURVEY S1-S6), and the fetch-path rule:
one-page windows are paged on the driver, multi-page windows by Spark
tasks — with identical rows either way — over a balanced, shuffle-free
task fan-out."""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline
from binancedatapipeline_spark.sources import binance
from binancedatapipeline_spark.sources.binance import (
    SyntheticBinanceApi,
    fetch_funding_rates_distributed,
    fetch_klines_distributed,
    flatten_exchange_info,
    parse_kline_records,
)

H = 3_600_000
START = 1_700_000_000_000 // H * H  # aligned hour


def test_kline_fetch_paginates_and_parses(spark):
    # 3 symbols x 1000 hourly bars with page_limit 400 → 3 pages/symbol
    api = lambda: SyntheticBinanceApi(page_limit=400)  # noqa: E731
    wire = fetch_klines_distributed(
        spark, ["AAAUSDT", "BBBUSDT", "CCCUSDT"],
        START, START + 999 * H, "1h", api_factory=api, parallelism=3,
    )
    typed = parse_kline_records(wire, "SPOT", "1h")
    assert typed.count() == 3 * 1000
    row = typed.filter("symbol = 'AAAUSDT'").orderBy("timestamp").first()
    assert row["exchange"] == "binance" and row["type"] == "SPOT"
    assert isinstance(row["close"], float)
    # pagination produced no duplicate bars
    assert typed.select("symbol", "timestamp").distinct().count() == 3 * 1000


def test_kline_fetch_deterministic_across_runs(spark):
    args = dict(start_ms=START, end_ms=START + 99 * H, interval="1h", parallelism=4)
    a = parse_kline_records(
        fetch_klines_distributed(spark, ["XUSDT", "YUSDT"], **args), "SPOT", "1h"
    ).toPandas().sort_values(["symbol", "timestamp"], ignore_index=True)
    b = parse_kline_records(
        fetch_klines_distributed(spark, ["XUSDT", "YUSDT"], **args), "SPOT", "1h"
    ).toPandas().sort_values(["symbol", "timestamp"], ignore_index=True)
    assert a.equals(b)


def test_funding_fetch_coerces_empty_markprice(spark):
    out = fetch_funding_rates_distributed(
        spark, ["AUSDT"], START, START + 100 * 8 * H, parallelism=1
    )
    pdf = out.toPandas()
    assert (pdf["markPrice"] == 0.0).any()  # '' coerced to 0.0
    assert pdf["fundingRate"].abs().max() <= 0.001
    assert str(pdf["fundingTime"].dtype).startswith("datetime64")


def test_flatten_exchange_info(spark):
    payload = [
        {
            "symbol": "BTCUSDT", "baseAsset": "BTC", "quoteAsset": "USDT",
            "status": "TRADING", "isSpotTradingAllowed": True,
            "isMarginTradingAllowed": True, "baseAssetPrecision": 8,
            "quoteAssetPrecision": 8,
            "filters": [
                {"filterType": "PRICE_FILTER", "minPrice": "0.01",
                 "maxPrice": "1000000", "tickSize": "0.01",
                 "minQty": None, "maxQty": None, "stepSize": None},
                {"filterType": "LOT_SIZE", "minPrice": None, "maxPrice": None,
                 "tickSize": None, "minQty": "0.0001", "maxQty": "9000",
                 "stepSize": "0.0001"},
            ],
        },
        {
            "symbol": "NOFILT", "baseAsset": "NO", "quoteAsset": "FILT",
            "status": "BREAK", "isSpotTradingAllowed": False,
            "isMarginTradingAllowed": False, "baseAssetPrecision": 8,
            "quoteAssetPrecision": 8, "filters": [],
        },
    ]
    out = flatten_exchange_info(spark, payload).toPandas().set_index("symbol")
    assert out.loc["BTCUSDT", "min_price"] == 0.01
    assert out.loc["BTCUSDT", "max_qty"] == 9000
    assert out.loc["BTCUSDT", "exchange"] == "binance"
    import math
    assert math.isnan(out.loc["NOFILT", "min_price"])  # explode_outer kept row


def test_csv_json_scans_roundtrip(spark, fixture_dir, tmp_path):
    """S8: CSV and JSON file scans with explicit schema (never
    inferSchema on the hot path) round-trip a klines slice."""
    src = spark.read.parquet(f"{fixture_dir}/bn_funding_rates.parquet")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.option("header", True).csv(csv_dir)
    src.write.json(json_dir)

    csv_back = spark.read.schema(src.schema).option("header", True).csv(csv_dir)
    json_back = spark.read.schema(src.schema).json(json_dir)
    assert csv_back.count() == src.count()
    assert json_back.count() == src.count()
    assert csv_back.schema == src.schema == json_back.schema
    key = ["symbol", "fundingTime"]
    assert csv_back.join(src, key, "left_anti").count() == 0
    assert json_back.join(src, key, "left_anti").count() == 0


# ------------------------------------------- latent API surface parity


def test_fetch_depth_flattens_ladder(spark):
    from binancedatapipeline_spark.sources.binance import fetch_depth_distributed

    out = fetch_depth_distributed(spark, ["BTC-250627-55000-C", "ETH-250627-3000-P"], limit=10)
    rows = out.collect()
    assert len(rows) == 2 * 2 * 10  # symbols x sides x levels
    cols = dict(out.dtypes)
    assert cols["price"] == "double" and cols["qty"] == "double"
    assert cols["timestamp"] == "timestamp"
    one = [r for r in rows if r["symbol"].startswith("BTC") and r["side"] == "bid"]
    assert sorted(r["level"] for r in one) == list(range(10))
    # ladder ordering: best bid above deeper bids, asks above bids
    best_bid = next(r["price"] for r in one if r["level"] == 0)
    deep_bid = next(r["price"] for r in one if r["level"] == 9)
    assert best_bid > deep_bid
    best_ask = next(
        r["price"] for r in rows
        if r["symbol"].startswith("BTC") and r["side"] == "ask" and r["level"] == 0
    )
    assert best_ask > best_bid


def test_fetch_mark_price_typed_record_per_symbol(spark):
    from binancedatapipeline_spark.sources.binance import (
        MARK_WIRE_FIELDS,
        fetch_mark_price_distributed,
    )

    out = fetch_mark_price_distributed(spark, ["A-1", "B-2", "C-3"])
    rows = {r["symbol"]: r for r in out.collect()}
    assert set(rows) == {"A-1", "B-2", "C-3"}
    cols = dict(out.dtypes)
    for f in MARK_WIRE_FIELDS:
        assert cols[f] == "double"
    assert rows["A-1"]["riskFreeInterest"] == 0.05
    assert rows["A-1"]["highPriceLimit"] > rows["A-1"]["lowPriceLimit"]


def test_fetch_open_interest_per_pair(spark):
    from binancedatapipeline_spark.sources.binance import fetch_open_interest_distributed

    out = fetch_open_interest_distributed(
        spark, [("BTC", "250627"), ("ETH", "250627")]
    )
    rows = out.collect()
    assert len(rows) == 2 * 6  # 3 strikes x C/P per pair
    assert all(r["symbol"].startswith(r["underlying"] + "-" + r["expiration"]) for r in rows)
    cols = dict(out.dtypes)
    assert cols["sum_open_interest"] == "double"
    assert cols["timestamp"] == "timestamp"
    # deterministic: replay yields identical values
    again = {(r["symbol"]): r["sum_open_interest"]
             for r in fetch_open_interest_distributed(
                 spark, [("BTC", "250627"), ("ETH", "250627")]).collect()}
    assert all(again[r["symbol"]] == r["sum_open_interest"] for r in rows)


def test_fetch_historical_trades_cursors_full_tape(spark):
    from binancedatapipeline_spark.sources.binance import (
        fetch_historical_trades_distributed,
    )

    out = fetch_historical_trades_distributed(spark, ["X-1", "Y-2"], page_limit=100)
    rows = out.collect()
    # synthetic tape is 260 trades/symbol -> 3 pages (100+100+60), no
    # duplicates or gaps from the fromId cursor walk
    per_sym = {}
    for r in rows:
        per_sym.setdefault(r["symbol"], []).append(r["trade_id"])
    assert set(per_sym) == {"X-1", "Y-2"}
    for ids in per_sym.values():
        assert sorted(ids) == list(range(260))
    assert set(r["side"] for r in rows) == {"BUY", "SELL"}
    cols = dict(out.dtypes)
    assert cols["quote_qty"] == "double" and cols["time"] == "timestamp"


def test_fetch_historical_trades_requested_limit_above_server_cap(spark):
    """A requested page size above the server clamp must not truncate
    the walk: the cursor terminates on an EMPTY page, not on a page
    shorter than requested."""
    from binancedatapipeline_spark.sources.binance import (
        fetch_historical_trades_distributed,
    )

    out = fetch_historical_trades_distributed(spark, ["Z-9"], page_limit=1000)
    ids = sorted(r["trade_id"] for r in out.collect())
    assert ids == list(range(260))


class _CannedGet:
    """Injected HTTP transport: answers HttpBinanceApi's GETs from a
    SyntheticBinanceApi, recording every (url, params) — the
    transport-contract seam (no sockets anywhere)."""

    def __init__(self, page_limit=500, fail_first_with_ban=False):
        from binancedatapipeline_spark.sources.binance import SyntheticBinanceApi

        self.synth = SyntheticBinanceApi(page_limit=page_limit)
        self.calls = []
        self.fail_first_with_ban = fail_first_with_ban

    def __call__(self, url, params):
        import time as _t

        from binancedatapipeline_spark.sources.binance import TransientBanError

        self.calls.append((url, dict(params)))
        if self.fail_first_with_ban and len(self.calls) == 1:
            raise TransientBanError(int(_t.time() * 1000) - 1)  # expired ban
        if url.endswith("/klines"):
            start = params.get("startTime")
            if start is None:  # endTime-only = newest `limit` bars
                return self.synth.klines_tail(
                    params["symbol"], params["interval"], 0, params["endTime"]
                )
            return self.synth.klines(
                params["symbol"], params["interval"], start, params["endTime"]
            )
        if url.endswith("/fundingRate"):
            return self.synth.funding(
                params["symbol"], params["startTime"], params["endTime"]
            )
        if url.endswith("/mark"):
            return self.synth.mark_price(params["symbol"])
        raise AssertionError(f"unexpected endpoint {url}")


def test_http_api_transport_contract_matches_synthetic(spark):
    """HttpBinanceApi speaks the same method contract the distributed
    fetchers consume: driven through an injected transport it yields
    byte-identical rows to the SyntheticBinanceApi path, and its GETs
    hit the right public hosts with the right params."""
    from binancedatapipeline_spark.sources.binance import (
        HttpBinanceApi,
        SyntheticBinanceApi,
        fetch_klines_distributed,
    )

    start, end = 1_700_000_000_000, 1_700_000_000_000 + 12 * 3_600_000
    canned = _CannedGet()

    # executor-side canned transport: a local closure (pickled by
    # value) touching only package classes, so workers need no test
    # module import
    def canned_get(url, params):
        from binancedatapipeline_spark.sources.binance import (
            SyntheticBinanceApi,
        )

        assert url.endswith("/klines"), url
        return SyntheticBinanceApi().klines(
            params["symbol"], params["interval"],
            params["startTime"], params["endTime"],
        )

    http_rows = sorted(
        map(tuple, fetch_klines_distributed(
            spark, ["AAAUSDT", "BBBUSDT"], start, end, interval="1h",
            api_factory=lambda: HttpBinanceApi(get=canned_get, rate_limit=None),
            parallelism=2,
        ).collect())
    )
    synth_rows = sorted(
        map(tuple, fetch_klines_distributed(
            spark, ["AAAUSDT", "BBBUSDT"], start, end, interval="1h",
            api_factory=SyntheticBinanceApi, parallelism=2,
        ).collect())
    )
    assert http_rows == synth_rows and len(http_rows) > 0

    # URL/param shape, checked driver-side on one instance
    api = HttpBinanceApi(market="perp", get=canned, rate_limit=None)
    api.klines("AAAUSDT", "1h", start, end)
    api.funding("AAAUSDT", start, end)
    api.mark_price("AAA-240101-50000-C")
    urls = [u for u, _ in canned.calls]
    assert urls[0] == "https://fapi.binance.com/fapi/v1/klines"
    assert urls[1] == "https://fapi.binance.com/fapi/v1/fundingRate"
    assert urls[2] == "https://eapi.binance.com/eapi/v1/mark"
    assert canned.calls[0][1]["startTime"] == start
    # page_limit clamps to the market's documented kline cap (futures
    # 499 — the page size at which the stated weight-2 holds, ch:27)
    assert canned.calls[0][1]["limit"] == 499

    # spot market routes klines to the spot host
    spot = HttpBinanceApi(market="spot", get=canned, rate_limit=None)
    spot.klines("AAAUSDT", "1h", start, end)
    assert canned.calls[-1][0] == "https://api.binance.com/api/v3/klines"


def test_http_api_ban_retry_and_tail_clamp():
    """A 418-style ban raised by the transport is retried through
    call_with_ban_retry; klines_tail clamps the endTime-only page to
    the requested lower bound."""
    from binancedatapipeline_spark.sources.binance import HttpBinanceApi

    start, end = 1_700_000_000_000, 1_700_000_000_000 + 24 * 3_600_000
    banned = _CannedGet(fail_first_with_ban=True)
    api = HttpBinanceApi(get=banned, rate_limit=None)
    page = api.klines("AAAUSDT", "1h", start, end)
    assert page == banned.synth.klines("AAAUSDT", "1h", start, end)
    assert len(page) > 0
    assert len(banned.calls) == 2  # retried after the (expired) ban

    canned = _CannedGet(page_limit=10)
    tail_api = HttpBinanceApi(get=canned, page_limit=10, rate_limit=None)
    tail_start = end - 3 * 3_600_000
    tail = tail_api.klines_tail("AAAUSDT", "1h", tail_start, end)
    assert tail == canned.synth.klines_tail("AAAUSDT", "1h", tail_start, end)
    assert 0 < len(tail) <= 4 and all(r[0] >= tail_start for r in tail)


# ------------------------------------------------------------ fetch paths

SYMBOLS = [f"S{i}USDT" for i in range(5)]
# windows in bars of the fetched series: none opens inside the empty
# one; page_limit 400/500 makes the 1501-bar one several pages
BARS = {"empty": 0, "one_page": 41, "multi_page": 1501}


def _window(bars: int, step: int) -> tuple[int, int]:
    first = START // step * step
    if bars == 0:
        return first + 1, first + step - 1
    return first, first + (bars - 1) * step


def _klines(spark, bars):
    api = lambda: SyntheticBinanceApi(page_limit=400)  # noqa: E731
    wire = fetch_klines_distributed(spark, SYMBOLS, *_window(bars, H), "1h",
                                    api_factory=api, parallelism=3)
    return parse_kline_records(wire, "SPOT", "1h")


def _funding(spark, bars):
    return fetch_funding_rates_distributed(spark, SYMBOLS, *_window(bars, 8 * H),
                                           parallelism=3)


def _uses_tasks(df) -> bool:
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("fetch", [_klines, _funding], ids=["klines", "funding"])
@pytest.mark.parametrize("window", sorted(BARS))
def test_driver_and_task_paths_return_identical_rows(spark, monkeypatch, fetch, window):
    out = {}
    for path, page_rows in (("driver", float("inf")), ("tasks", float("-inf"))):
        monkeypatch.setattr(binance, "PAGE_ROWS", page_rows)
        df = fetch(spark, BARS[window])
        assert _uses_tasks(df) == (path == "tasks")
        out[path] = (df.schema, sorted(map(tuple, df.collect())))
    assert out["driver"] == out["tasks"]
    assert len(out["driver"][1]) == len(SYMBOLS) * BARS[window]


def test_window_size_picks_the_path(spark):
    """Expected bars ((end − start) / interval + 1) against one page:
    the tick's 180 1m bars or 3 1h bars stay on the driver, a 1-day
    1m backfill (1441 bars) goes to Spark tasks."""
    m = 60_000
    tick_1m = fetch_klines_distributed(spark, SYMBOLS, START, START + 180 * m, "1m")
    tick_1h = fetch_klines_distributed(spark, SYMBOLS, START, START + 2 * H, "1h")
    day_1m = fetch_klines_distributed(spark, SYMBOLS, START, START + 1440 * m, "1m")
    assert not _uses_tasks(tick_1m) and not _uses_tasks(tick_1h)
    assert _uses_tasks(day_1m)
    assert tick_1m.count() == len(SYMBOLS) * 181


def test_fanout_slices_symbols_evenly_without_a_shuffle(spark):
    symbols = [f"S{i}USDT" for i in range(10)]
    fan = binance._symbol_fanout(spark, symbols, 4)
    per_task = fan.rdd.glom().collect()
    assert [len(t) for t in per_task] == [3, 3, 2, 2]
    assert [r["symbol"] for t in per_task for r in t] == symbols
    assert "Exchange" not in fan._jdf.queryExecution().executedPlan().toString()
    assert [len(s) for s in binance._slices(symbols[:3], 8)] == [1, 1, 1]
    assert binance._slices([], 4) == [[]]


def test_tick_requests_each_page_once_per_table(spark, tmp_path):
    """The batch is no longer cached by update_table: the upsert's one
    persisted batch must still evaluate each fetch exactly once — on
    the distributed backfill and on the driver-side tick alike."""
    log = str(tmp_path / "requests.log")

    def counting_api():
        from binancedatapipeline_spark.sources.binance import SyntheticBinanceApi

        class Counting(SyntheticBinanceApi):
            def _log(self, kind, symbol, start_ms, page):
                if page:
                    with open(log, "a") as f:
                        f.write(f"{kind} {symbol} {start_ms}\n")
                return page

            def klines(self, symbol, interval, start_ms, end_ms):
                return self._log("klines", symbol, start_ms,
                                 super().klines(symbol, interval, start_ms, end_ms))

            def funding(self, symbol, start_ms, end_ms):
                return self._log("funding", symbol, start_ms,
                                 super().funding(symbol, start_ms, end_ms))

        return Counting(page_limit=1000)

    symbols = ["AUSDT", "BUSDT", "CUSDT"]
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    for job in standard_jobs(symbols, "1m", api_factory=counting_api, parallelism=2):
        pipe.register(job)

    def requests():
        with open(log) as f:
            lines = f.read().splitlines()
        open(log, "w").close()
        return lines

    t0 = datetime(2024, 3, 1, 0, 0)
    # backfill: 1 day of 1m bars (1441 > one page) through Spark tasks
    pipe.update_table(catalog.BN_SPOT_KLINES.name, now=t0.replace(day=2), backfill_start=t0)
    backfill = requests()
    assert len(backfill) == len(set(backfill)), "a backfill page was fetched twice"
    assert len(backfill) == 2 * len(symbols)  # 1000 + 441 bars per symbol
    pipe.update_table(catalog.BN_PERP_KLINES.name, now=t0.replace(day=2), backfill_start=t0)
    pipe.update_table(catalog.BN_FUNDING_RATES.name, now=t0.replace(day=2), backfill_start=t0)
    requests()

    res = pipe.update_all(now=datetime(2024, 3, 2, 1, 0))
    assert all(n > 0 for n in res.values()), res
    # one page per symbol per table, from watermark − lookback: spot and
    # perp klines (same transport) from 22:00, funding from 16:00
    klines_from = _ms(datetime(2024, 3, 1, 22, 0))
    funding_from = _ms(datetime(2024, 3, 1, 16, 0))
    assert Counter(requests()) == Counter(
        {f"klines {s} {klines_from}": 2 for s in symbols}
        | {f"funding {s} {funding_from}": 1 for s in symbols}
    )


def _ms(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)
