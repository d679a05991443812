"""Binance-wire-format ingestion connectors, Spark-distributed.

The reference fetches per-symbol kline/funding pages with a
ThreadPoolExecutor of 8-10 workers and driver-side pagination
(get_historical_klines, crypto_data_pipeline_duckdb.py:883-955;
fetch_market_klines_threadpool, duckdb:1091-1218). Here the fan-out
is Spark tasks: the symbol list is cut into balanced shares, one per
task, and ``mapInPandas`` runs the pagination loop per share — so on
a cluster the fetch scales with executors, with a per-task
token-bucket rate limiter replacing the reference's
@sleep_and_retry/@limits decorators (duckdb:434-440).

The fetch-path rule: a kline or funding window that fits ONE page per
symbol (``(end − start) / interval + 1 ≤ PAGE_ROWS`` — the hourly
tick) runs the same paging loop on ``parallelism`` driver threads
instead, like the reference's thread pool, and lands as one
Arrow-backed local DataFrame: a few thousand rows do not pay a Spark
job's scheduling floor. Multi-page windows (backfills) stay
distributed.

The transport is an injected callable (``api_factory``), with BOTH
ends of the seam shipped: ``HttpBinanceApi`` is the production
transport (stdlib GETs against the public api/fapi/eapi REST hosts —
deploying for real is config, not code), and ``SyntheticBinanceApi``
is the deterministic test/sandbox stand-in reproducing the exact
wire shapes (FIXTURES.md §B): 12-element kline arrays with
numerics-as-strings and epoch-ms ints, funding dicts with
occasionally-empty markPrice, pageable forward from startTime. No
network IO happens in CI — ``HttpBinanceApi`` is covered by a
transport-contract test with an injected ``get``.

Parsing wire → typed rows happens in Spark (``parse_kline_records``)
with explicit casts (timestamp_millis, cast double) mirroring
duckdb:1069-1083.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.functions.timeutils import interval_ms

KLINE_WIRE_COLUMNS = [
    "timestamp_ms", "open", "high", "low", "close", "volume",
    "close_time_ms", "quote_volume", "trades_count",
    "taker_buy_volume", "taker_buy_quote_volume", "ignore",
]

KLINE_WIRE_SCHEMA = T.StructType(
    [T.StructField("symbol", T.StringType())]
    + [
        T.StructField(c, T.LongType() if c.endswith("_ms") else T.StringType())
        for c in KLINE_WIRE_COLUMNS
        if c != "trades_count"
    ]
    + [T.StructField("trades_count", T.LongType())]
)


class TokenBucket:
    """Per-task rate limiter standing in for the reference's
    @limits(calls, period) decorators (duckdb:34-36, 464-470).

    ``acquire(weight)`` charges a request's WEIGHT, not a flat 1 —
    Binance budgets weight per minute (a spot kline page costs 2 of
    5500, ch:24-29), so a capacity sized in weight units with per-call
    weights matches the account limit on mixed workloads where
    1-per-call would overrun it."""

    def __init__(self, calls: int, period_s: float):
        self.capacity = calls
        self.period = period_s
        self.tokens = float(calls)
        self.last = time.monotonic()

    def acquire(self, weight: float = 1.0) -> None:
        now = time.monotonic()
        self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.capacity / self.period)
        self.last = now
        if self.tokens < weight:
            wait = (weight - self.tokens) * self.period / self.capacity
            time.sleep(wait)
            self.tokens = float(weight)
        self.tokens -= weight


class SyntheticBinanceApi:
    """Deterministic stand-in transport producing Binance wire shapes.

    Bars are on a fixed epoch-ms grid; values derive from
    (symbol, timestamp) hashes so any page of any symbol is
    reproducible independently — which also makes pagination
    overlap/dedup testable.
    """

    def __init__(self, page_limit: int = 500):
        self.page_limit = page_limit

    @staticmethod
    def _h(*parts) -> int:
        # zlib.crc32, not hash(): str hashing is per-process randomized
        # (PYTHONHASHSEED) and Spark workers are separate processes
        import zlib

        return zlib.crc32("|".join(str(p) for p in parts).encode())

    def _value(self, symbol: str, ts: int, field: int) -> float:
        return 10.0 + (self._h(symbol, ts, field) % 10_000) / 100.0

    def klines(self, symbol: str, interval: str, start_ms: int, end_ms: int) -> list[list]:
        step = interval_ms(interval)
        first = ((start_ms + step - 1) // step) * step
        out = []
        ts = first
        while ts <= end_ms and len(out) < self.page_limit:
            o, h, l, c, v = (self._value(symbol, ts, i) for i in range(5))
            out.append([
                ts, f"{o:.2f}", f"{max(o,h):.2f}", f"{min(o,l):.2f}", f"{c:.2f}",
                f"{v:.3f}", ts + step - 1, f"{v * c:.3f}", int(v * 10),
                f"{v / 2:.3f}", f"{v * c / 2:.3f}", "0",
            ])
            ts += step
        return out

    def klines_tail(self, symbol: str, interval: str, start_ms: int, end_ms: int) -> list[list]:
        """The NEWEST page_limit bars in [start, end] — Binance's
        behavior when paginating backward by endTime."""
        step = interval_ms(interval)
        last = end_ms // step * step
        first_grid = ((start_ms + step - 1) // step) * step
        n_available = max(0, (last - first_grid) // step + 1)
        n = min(self.page_limit, n_available)
        window_start = last - (n - 1) * step if n else first_grid
        return self.klines(symbol, interval, window_start, end_ms) if n else []

    def depth(self, symbol: str, limit: int = 100) -> dict:
        """Order-book snapshot, /eapi/v1/depth wire shape
        (reference utils.py:189-207): T, u, bids/asks as
        [price, qty] string pairs, best-first."""
        base = self._value(symbol, 0, 0)
        ts = 1_700_000_000_000 + self._h(symbol) % 1_000_000
        mk = lambda side, i: [
            f"{base * (1 - 0.001 * (i + 1)) if side == 'b' else base * (1 + 0.001 * (i + 1)):.2f}",
            f"{(self._h(symbol, side, i) % 1000) / 10:.1f}",
        ]
        n = min(limit, 100)
        return {
            "T": ts,
            "u": self._h(symbol, "u") % 10_000_000,
            "bids": [mk("b", i) for i in range(n)],
            "asks": [mk("a", i) for i in range(n)],
        }

    def mark_price(self, symbol: str) -> list[dict]:
        """/eapi/v1/mark wire shape (utils.py:245-259): one record per
        symbol with price + greeks as strings."""
        v = lambda f: self._value(symbol, 1, f)
        return [{
            "symbol": symbol,
            "markPrice": f"{v(0):.4f}",
            "bidIV": f"{v(1) / 100:.4f}",
            "askIV": f"{v(2) / 100:.4f}",
            "markIV": f"{v(3) / 100:.4f}",
            "delta": f"{(self._h(symbol, 'd') % 2000 - 1000) / 1000:.4f}",
            "theta": f"{-(self._h(symbol, 't') % 100) / 100:.4f}",
            "gamma": f"{(self._h(symbol, 'g') % 100) / 10000:.4f}",
            "vega": f"{(self._h(symbol, 'v') % 1000) / 100:.4f}",
            "highPriceLimit": f"{v(0) * 1.5:.4f}",
            "lowPriceLimit": f"{v(0) * 0.5:.4f}",
            "riskFreeInterest": "0.05",
        }]

    def open_interest(self, underlying: str, expiration: str) -> list[dict]:
        """/eapi/v1/openInterest wire shape (utils.py:171-187): one
        record per listed contract of (underlying, expiration)."""
        out = []
        for strike in (40000, 50000, 60000):
            for cp in ("C", "P"):
                sym = f"{underlying}-{expiration}-{strike}-{cp}"
                oi = (self._h(sym, "oi") % 100_000) / 100
                out.append({
                    "symbol": sym,
                    "sumOpenInterest": f"{oi:.2f}",
                    "sumOpenInterestUsd": f"{oi * self._value(sym, 0, 0):.2f}",
                    "timestamp": str(1_700_000_000_000 + self._h(underlying) % 1_000_000),
                })
        return out

    def historical_trades(self, symbol: str, limit: int = 100,
                          from_id: int | None = None) -> list[dict]:
        """/eapi/v1/historicalTrades wire shape (utils.py:259-280):
        ascending trade ids, cursorable via fromId — each symbol has a
        fixed synthetic tape of 260 trades so pagination is testable."""
        tape_len = 260
        start = 0 if from_id is None else from_id
        out = []
        for tid in range(start, min(start + min(limit, 500), tape_len)):
            px = self._value(symbol, tid, 2)
            qty = (self._h(symbol, tid, "q") % 500 + 1) / 100
            out.append({
                "id": tid,
                "price": f"{px:.2f}",
                "qty": f"{qty:.2f}",
                "quoteQty": f"{px * qty:.2f}",
                "time": 1_700_000_000_000 + tid * 1_000,
                "side": "-1" if self._h(symbol, tid, "s") % 2 else "1",
            })
        return out

    def funding(self, symbol: str, start_ms: int, end_ms: int) -> list[dict]:
        step = interval_ms("8h")
        first = ((start_ms + step - 1) // step) * step
        out = []
        ts = first
        while ts <= end_ms and len(out) < self.page_limit:
            rate = (self._h(symbol, ts) % 2000 - 1000) / 1_000_000
            out.append({
                "symbol": symbol,
                "fundingTime": ts,
                "fundingRate": f"{rate:.8f}",
                # occasionally-empty markPrice → coerce+fill path (ch:913-920)
                "markPrice": "" if ts % (7 * step) == 0 else f"{self._value(symbol, ts, 9):.4f}",
            })
            ts += step
        return out


def _urllib_get_json(url: str, params: dict, headers: dict | None = None) -> object:
    """Default HTTP transport: stdlib GET returning parsed JSON (no
    requests dependency — the notifier's ``_urllib_post`` pattern).
    418/429 responses raise :class:`TransientBanError` carrying the
    advertised retry horizon, so :func:`call_with_ban_retry` handles
    real bans exactly like synthetic ones. ``headers`` carries the
    API-key header for MARKET_DATA-security endpoints."""
    import json
    from urllib.error import HTTPError
    from urllib.parse import urlencode
    from urllib.request import Request, urlopen

    query = urlencode({k: v for k, v in params.items() if v is not None})
    req = Request(
        url + (f"?{query}" if query else ""),
        headers={"User-Agent": "binancedatapipeline-spark", **(headers or {})},
    )
    try:
        with urlopen(req, timeout=15) as resp:
            return json.loads(resp.read().decode())
    except HTTPError as e:
        if e.code in (418, 429):
            # Retry-After may be delta-seconds OR an RFC-7231
            # HTTP-date (CDN/proxy fronting) — a date must degrade to
            # the default, not escape as ValueError past the retry loop
            try:
                retry_s = int(e.headers.get("Retry-After") or 60)
            except ValueError:
                retry_s = 60
            raise TransientBanError(
                int(time.time() * 1000) + retry_s * 1000
            ) from e
        raise


class HttpBinanceApi:
    """Production transport: the same method surface as
    :class:`SyntheticBinanceApi` (the contract every distributed
    fetcher consumes) over Binance's PUBLIC market-data endpoints
    (api/fapi/eapi hosts, per the published REST docs — the endpoints
    the reference's requests client calls, app/src/utils.py:171-280).

    Deploying for real is therefore CONFIG, not code:
    ``fetch_klines_distributed(..., api_factory=HttpBinanceApi)``.
    The ``get`` callable is injectable (tests pass a canned
    transport; no network IO happens in CI), each call runs under
    :func:`call_with_ban_retry`, and a per-instance
    :class:`TokenBucket` enforces the weight budget — one instance
    per Spark task (the fetchers construct via ``api_factory`` inside
    ``mapInPandas``), so cluster-wide pressure = tasks × bucket rate,
    which is the knob to size against the account limit.

    Rate limiting is WEIGHT-AWARE, mirroring the reference's budget
    constants (ch:24-36): each market gets a weight bucket sized to
    its documented per-minute ceiling (spot 5500, futures 2300,
    options 2300) and a kline page is charged its documented weight
    (spot/futures 2, options 1) rather than a flat 1 — so a mixed
    klines+funding workload paces to the ACCOUNT limit, which a
    1-per-call budget would overrun 2×. Funding and mark-price calls
    run under their own buckets (1000/5 min and 1000/min — the
    reference's FR_/MR_ constants), matching their separately-budgeted
    endpoints. ``page_limit`` is clamped to the market's documented
    kline page cap, where the stated kline weight holds; funding
    requests are likewise clamped to the documented /fundingRate max
    of 1000 rows per page.

    ``api_key`` (optional) is sent as ``X-MBX-APIKEY`` — required by
    the MARKET_DATA-security :meth:`historical_trades` endpoint; the
    key-free market-data endpoints never send it. Calling
    ``historical_trades`` through the default transport WITHOUT a key
    raises immediately rather than 401ing in production. (A custom
    injected ``get`` is trusted to handle auth itself; it receives the
    header dict as a third positional argument ONLY on signed calls
    with ``api_key`` set — unsigned endpoints always call it with the
    two-argument ``(url, params)`` shape, so existing transports work
    unchanged alongside a configured key.)"""

    BASES = {
        "spot": "https://api.binance.com/api/v3",
        "perp": "https://fapi.binance.com/fapi/v1",
        "options": "https://eapi.binance.com/eapi/v1",
    }
    # per-minute weight ceilings and kline page weights/caps —
    # reference constants ch:24-29 (SPOT/FUTURES/OPTIONS_WEIGHT_LIMIT,
    # *_KLINE_WEIGHT and their stated page limits)
    WEIGHT_BUDGETS = {"spot": (5500, 60.0), "perp": (2300, 60.0), "options": (2300, 60.0)}
    KLINE_WEIGHT = {"spot": 2, "perp": 2, "options": 1}
    KLINE_PAGE_CAP = {"spot": 1000, "perp": 499, "options": 1500}
    FUNDING_PAGE_CAP = 1000  # /fundingRate documented max limit
    FR_BUDGET = (1000, 300.0)  # fundingRate: own budget (ch:32-33)
    MR_BUDGET = (1000, 60.0)  # mark price: own budget (ch:35-36)

    def __init__(
        self,
        market: str = "spot",
        page_limit: int = 500,
        get: Callable[..., object] | None = None,
        rate_limit: "tuple[int, float] | str | None" = "auto",
        api_key: str | None = None,
    ):
        if market not in self.BASES:
            raise ValueError(f"market must be one of {sorted(self.BASES)}")
        self.market = market
        self.page_limit = page_limit
        # the kline weight constants hold only up to the documented
        # page caps — precompute the kline clamp here; funding()
        # clamps separately to FUNDING_PAGE_CAP at the call site
        # (different endpoint, different documented max)
        self.kline_limit = min(page_limit, self.KLINE_PAGE_CAP[market])
        self.get = get or _urllib_get_json
        self._custom_get = get is not None
        self.api_key = api_key
        if rate_limit == "auto":
            self.bucket = TokenBucket(*self.WEIGHT_BUDGETS[market])
            self.fr_bucket = TokenBucket(*self.FR_BUDGET)
            self.mr_bucket = TokenBucket(*self.MR_BUDGET)
        else:
            self.bucket = TokenBucket(*rate_limit) if rate_limit else None
            self.fr_bucket = self.mr_bucket = self.bucket

    def _call(
        self,
        base: str,
        path: str,
        weight: float = 1.0,
        bucket: TokenBucket | None = None,
        signed: bool = False,
        **params,
    ) -> object:
        bucket = bucket if bucket is not None else self.bucket
        if bucket is not None:
            bucket.acquire(weight)
        url = self.BASES[base] + path
        if signed and self.api_key is None and not self._custom_get:
            raise ValueError(
                f"{path} is a MARKET_DATA-security endpoint (requires "
                "X-MBX-APIKEY); construct HttpBinanceApi(api_key=...) or "
                "inject a key-carrying `get` transport"
            )
        if signed and self.api_key is not None:
            # the third positional argument travels ONLY on signed
            # calls — unsigned endpoints keep the two-arg transport
            # contract so existing custom `get` callables work
            # unchanged alongside a configured key
            headers = {"X-MBX-APIKEY": self.api_key}
            return call_with_ban_retry(lambda: self.get(url, params, headers))
        return call_with_ban_retry(lambda: self.get(url, params))

    def klines(self, symbol: str, interval: str, start_ms: int, end_ms: int) -> list[list]:
        return self._call(
            self.market, "/klines", weight=self.KLINE_WEIGHT[self.market],
            symbol=symbol, interval=interval,
            startTime=start_ms, endTime=end_ms, limit=self.kline_limit,
        )

    def klines_tail(self, symbol: str, interval: str, start_ms: int, end_ms: int) -> list[list]:
        # endTime without startTime = the NEWEST `limit` bars ≤ end
        # (Binance's documented backward-pagination behavior); clamp
        # to the window client-side to honor the contract's lower bound
        page = self._call(
            self.market, "/klines", weight=self.KLINE_WEIGHT[self.market],
            symbol=symbol, interval=interval,
            endTime=end_ms, limit=self.kline_limit,
        )
        return [row for row in page if row[0] >= start_ms]

    def funding(self, symbol: str, start_ms: int, end_ms: int) -> list[dict]:
        return self._call(
            "perp", "/fundingRate", bucket=self.fr_bucket,
            symbol=symbol, startTime=start_ms, endTime=end_ms,
            limit=min(self.page_limit, self.FUNDING_PAGE_CAP),
        )

    def depth(self, symbol: str, limit: int = 100) -> dict:
        return self._call("options", "/depth", symbol=symbol, limit=limit)

    def mark_price(self, symbol: str) -> list[dict]:
        return self._call(
            "options", "/mark", bucket=self.mr_bucket, symbol=symbol
        )

    def open_interest(self, underlying: str, expiration: str) -> list[dict]:
        return self._call(
            "options", "/openInterest",
            underlyingAsset=underlying, expiration=expiration,
        )

    def historical_trades(self, symbol: str, limit: int = 100,
                          from_id: int | None = None) -> list[dict]:
        return self._call(
            "options", "/historicalTrades", signed=True,
            symbol=symbol, limit=min(limit, 500), fromId=from_id,
        )


# Rows one kline or funding page holds at most: the page the fetchers
# ask for (Binance's spot-kline and /fundingRate cap). A window that
# fits one page per symbol is fetched on the driver (see _fan_out).
PAGE_ROWS = 1000


def _one_page(start_ms: int, end_ms: int, step_ms: int) -> bool:
    """Whether ``[start, end]`` holds at most one page per symbol:
    ``(end − start) / interval + 1`` expected bars against
    :data:`PAGE_ROWS`."""
    return (end_ms - start_ms) // step_ms + 1 <= PAGE_ROWS


def _slices(symbols: list[str], n: int) -> list[list[str]]:
    """``symbols`` cut by position into ``min(n, len(symbols))``
    contiguous shares whose sizes differ by at most one (10 symbols
    over 4 workers → 3/3/2/2)."""
    n = max(1, min(n, len(symbols)))
    q, r = divmod(len(symbols), n)
    out, i = [], 0
    for k in range(n):
        j = i + q + (k < r)
        out.append(symbols[i:j])
        i = j
    return out


def _symbol_fanout(
    spark: SparkSession, symbols: list[str] | DataFrame, parallelism: int
) -> DataFrame:
    """Normalize a symbol list/DataFrame to a one-column ``symbol``
    relation with one partition per fetch task — the fan-out scaffold
    every per-symbol fetcher shares. A list is cut into balanced
    shares (:func:`_slices`) carried by a ``range`` with one row per
    task, so each task gets its share without a shuffle; a DataFrame
    is hash-repartitioned on the symbol."""
    if isinstance(symbols, DataFrame):
        sym_df = symbols.select(F.col(symbols.columns[0]).alias("symbol"))
        return sym_df.repartition(parallelism, "symbol")
    shares = _slices(list(symbols), parallelism)
    by_task = F.array(
        *[F.array(*[F.lit(s) for s in share]) for share in shares]
    ).cast("array<array<string>>")
    return spark.range(0, len(shares), 1, len(shares)).select(
        F.explode(F.element_at(by_task, F.col("id").cast("int") + 1)).alias("symbol")
    )


FetchSymbol = Callable[[object, "TokenBucket | None", str], Iterator[pd.DataFrame]]


def _fan_out(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    schema: T.StructType,
    fetch_symbol: FetchSymbol,
    api_factory: Callable[[], object],
    parallelism: int,
    rate_limit: tuple[int, float] | None,
    on_driver: bool = False,
) -> DataFrame:
    """Run ``fetch_symbol(api, bucket, symbol)`` over every symbol and
    return the pages it yields as one relation of ``schema``. Each
    worker pages its share of the symbols with its own
    ``api_factory()`` transport and :class:`TokenBucket`.

    The workers are Spark tasks (``mapInPandas``), unless
    ``on_driver`` is set and ``symbols`` is a list: then they are
    ``parallelism`` driver threads, and their pages become one
    Arrow-backed local DataFrame in ``schema``'s column order. A
    one-page window (the hourly tick) is a few thousand rows, which
    the driver lands faster than a Spark job can be scheduled."""

    def share(symbol_iter) -> Iterator[pd.DataFrame]:
        api = api_factory()
        bucket = TokenBucket(*rate_limit) if rate_limit else None
        for symbol in symbol_iter:
            yield from fetch_symbol(api, bucket, symbol)

    if on_driver and not isinstance(symbols, DataFrame):
        shares = _slices(list(symbols), parallelism)
        with ThreadPoolExecutor(len(shares)) as pool:
            parts = list(pool.map(lambda s: list(share(s)), shares))
        names = schema.fieldNames()
        frames = [f for part in parts for f in part]
        pdf = (pd.concat(frames, ignore_index=True)[names] if frames
               else pd.DataFrame({n: [] for n in names}))
        return spark.createDataFrame(pdf, schema)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return share(s for pdf in batches for s in pdf["symbol"])

    return _symbol_fanout(spark, symbols, parallelism).mapInPandas(fetch, schema)


def _paginate_klines(api, symbol: str, interval: str, start_ms: int, end_ms: int,
                     bucket: TokenBucket | None) -> Iterator[list[list]]:
    """Forward pagination: next page starts at last_ts + 1
    (duckdb:918-937)."""
    cur = start_ms
    while cur <= end_ms:
        if bucket:
            bucket.acquire()
        page = api.klines(symbol, interval, cur, end_ms)
        if not page:
            break
        yield page
        cur = page[-1][0] + 1


def fetch_klines_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    start_ms: int,
    end_ms: int,
    interval: str = "1h",
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Symbol fan-out → wire-format rows: Spark tasks, or driver
    threads when the window fits one page per symbol (:func:`_fan_out`).

    Returns the raw wire relation (strings/epoch-ms); feed through
    ``parse_kline_records`` for the typed kline table.
    """

    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        for page in _paginate_klines(api, symbol, interval, start_ms, end_ms, bucket):
            wire = pd.DataFrame(page, columns=KLINE_WIRE_COLUMNS)
            wire.insert(0, "symbol", symbol)
            yield wire

    return _fan_out(
        spark, symbols, KLINE_WIRE_SCHEMA, fetch_symbol, api_factory,
        parallelism, rate_limit,
        on_driver=_one_page(start_ms, end_ms, interval_ms(interval)),
    )


def parse_kline_records(wire: DataFrame, kind: str, interval: str) -> DataFrame:
    """Wire → typed kline rows: epoch-ms to timestamps, string
    numerics to doubles, constant exchange/type/interval columns
    (duckdb:1069-1083). Pure column expressions — stays in codegen."""
    dbl = ["open", "high", "low", "close", "volume", "quote_volume",
           "taker_buy_volume", "taker_buy_quote_volume"]
    out = wire.select(
        "symbol",
        F.lit("binance").alias("exchange"),
        F.lit(kind).alias("type"),
        F.lit(interval).alias("interval"),
        F.timestamp_millis("timestamp_ms").alias("timestamp"),
        F.timestamp_millis("close_time_ms").alias("close_time"),
        *[F.col(c).cast("double").alias(c) for c in dbl],
        F.col("trades_count").cast("int").alias("trades_count"),
    )
    return out


FUNDING_WIRE_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("fundingTime_ms", T.LongType()),
    T.StructField("fundingRate", T.StringType()),
    T.StructField("markPrice", T.StringType()),
])


def fetch_funding_rates_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    start_ms: int,
    end_ms: int,
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Funding-rate fan-out; returns typed bn_funding_rates rows.

    markPrice '' → NULL → 0.0 (pd.to_numeric(errors='coerce') +
    fillna(0), crypto_data_pipline_clickhouse.py:913-920) expressed
    as cast-to-double (bad string → NULL) + coalesce. A window of at
    most one page of 8-hourly records per symbol is fetched on the
    driver (:func:`_fan_out`)."""

    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        cur = start_ms
        while cur <= end_ms:
            if bucket:
                bucket.acquire()
            page = api.funding(symbol, cur, end_ms)
            if not page:
                break
            yield pd.DataFrame({
                "symbol": symbol,
                "fundingTime_ms": [r["fundingTime"] for r in page],
                "fundingRate": [r["fundingRate"] for r in page],
                "markPrice": [r["markPrice"] for r in page],
            })
            cur = page[-1]["fundingTime"] + 1

    wire = _fan_out(
        spark, symbols, FUNDING_WIRE_SCHEMA, fetch_symbol, api_factory,
        parallelism, rate_limit,
        on_driver=_one_page(start_ms, end_ms, interval_ms("8h")),
    )
    return wire.select(
        "symbol",
        F.lit("binance").alias("exchange"),
        F.lit("PERPETUAL").alias("type"),
        F.timestamp_millis("fundingTime_ms").alias("fundingTime"),
        F.col("fundingRate").cast("double").alias("fundingRate"),
        # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
        # cast of '' throw; coerce-to-null-fill-0 is the wanted semantics
        F.coalesce(F.col("markPrice").try_cast("double"), F.lit(0.0)).alias("markPrice"),
    )


def _paginate_klines_backward(api, symbol: str, interval: str, start_ms: int,
                              end_ms: int, bucket: TokenBucket | None) -> Iterator[list[list]]:
    """Backward pagination: next page ends at first_ts − 1 — the
    option-kline idiom (crypto_data_pipline_clickhouse.py:1157-1175).
    Downstream dedup must therefore be keep-FIRST (ch:1181-1185)."""
    cur_end = end_ms
    while cur_end >= start_ms:
        if bucket:
            bucket.acquire()
        page = api.klines_tail(symbol, interval, start_ms, cur_end)
        if not page:
            break
        yield page
        cur_end = page[0][0] - 1


def fetch_klines_backward_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    start_ms: int,
    end_ms: int,
    interval: str = "1h",
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 3,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Backward-paginating variant (options path). Wire output also
    carries __page_seq so keep-first dedup is deterministic."""
    schema = T.StructType(KLINE_WIRE_SCHEMA.fields + [T.StructField("__page_seq", T.LongType())])

    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        for seq, page in enumerate(
            _paginate_klines_backward(api, symbol, interval, start_ms, end_ms, bucket)
        ):
            wire = pd.DataFrame(page, columns=KLINE_WIRE_COLUMNS)
            wire.insert(0, "symbol", symbol)
            wire["__page_seq"] = seq
            yield wire

    return _fan_out(spark, symbols, schema, fetch_symbol, api_factory,
                    parallelism, rate_limit)


def stride_windows(start_ms: int, end_ms: int, stride_days: int = 30) -> list[tuple[int, int]]:
    """[start, start+stride], [start+stride, ...] windows clamped to
    end — the margin-rate fetch stride
    (crypto_data_pipeline_duckdb.py:212-284). Returned inclusive
    windows overlap by one boundary bar; PK upsert dedups."""
    out = []
    step = stride_days * 86_400_000
    cur = start_ms
    while cur <= end_ms:
        out.append((cur, min(cur + step, end_ms)))
        cur += step
    return out


class TransientBanError(Exception):
    """HTTP 418/429-style rate-limit ban with a retry-after hint
    (reference parses 'banned until {ts}' from the error body,
    duckdb:755-770)."""

    def __init__(self, until_ms: int):
        self.until_ms = until_ms
        super().__init__(f"banned until {until_ms}")


def call_with_ban_retry(fn: Callable[[], object], max_retries: int = 3,
                        sleep_fn: Callable[[float], None] = time.sleep):
    """Retry wrapper reproducing the reference's 418 handling: sleep
    until the advertised ban end, then retry (duckdb:755-785)."""
    for attempt in range(max_retries + 1):
        try:
            return fn()
        except TransientBanError as e:
            if attempt == max_retries:
                raise
            wait_s = max(0.0, e.until_ms / 1000.0 - time.time())
            sleep_fn(min(wait_s, 60.0))


EXCHANGE_INFO_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("baseAsset", T.StringType()),
    T.StructField("quoteAsset", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("isSpotTradingAllowed", T.BooleanType()),
    T.StructField("isMarginTradingAllowed", T.BooleanType()),
    T.StructField("baseAssetPrecision", T.IntegerType()),
    T.StructField("quoteAssetPrecision", T.IntegerType()),
    T.StructField(
        "filters",
        T.ArrayType(T.StructType([
            T.StructField("filterType", T.StringType()),
            T.StructField("minPrice", T.StringType()),
            T.StructField("maxPrice", T.StringType()),
            T.StructField("tickSize", T.StringType()),
            T.StructField("minQty", T.StringType()),
            T.StructField("maxQty", T.StringType()),
            T.StructField("stepSize", T.StringType()),
        ])),
    ),
])


def flatten_exchange_info(spark: SparkSession, payload: list[dict]) -> DataFrame:
    """exchangeInfo symbols[].filters[] → flat bn_spot_symbols rows.

    The reference flattens the filters array imperatively
    (duckdb:69-93); here it is declarative: explode + filter by
    filterType + first-value pivot, so Catalyst can prune columns if
    a consumer selects fewer."""
    raw = spark.createDataFrame(payload, EXCHANGE_INFO_SCHEMA)
    f = F.explode_outer("filters").alias("f")
    exploded = raw.select(
        "symbol", "baseAsset", "quoteAsset", "status",
        "isSpotTradingAllowed", "isMarginTradingAllowed",
        "baseAssetPrecision", "quoteAssetPrecision", f,
    )
    price = F.col("f.filterType") == "PRICE_FILTER"
    lot = F.col("f.filterType") == "LOT_SIZE"
    agg = exploded.groupBy(
        "symbol", "baseAsset", "quoteAsset", "status",
        "isSpotTradingAllowed", "isMarginTradingAllowed",
        "baseAssetPrecision", "quoteAssetPrecision",
    ).agg(
        F.first(F.when(price, F.col("f.minPrice")), ignorenulls=True).cast("double").alias("min_price"),
        F.first(F.when(price, F.col("f.maxPrice")), ignorenulls=True).cast("double").alias("max_price"),
        F.first(F.when(price, F.col("f.tickSize")), ignorenulls=True).cast("double").alias("tick_size"),
        F.first(F.when(lot, F.col("f.minQty")), ignorenulls=True).cast("double").alias("min_qty"),
        F.first(F.when(lot, F.col("f.maxQty")), ignorenulls=True).cast("double").alias("max_qty"),
        F.first(F.when(lot, F.col("f.stepSize")), ignorenulls=True).cast("double").alias("step_size"),
    )
    return agg.select(
        F.col("symbol"),
        F.col("baseAsset").alias("base_asset"),
        F.col("quoteAsset").alias("quote_asset"),
        F.lit("binance").alias("exchange"),
        F.lit("SPOT").alias("type"),
        F.col("status"),
        F.col("isSpotTradingAllowed").alias("is_spot_trading_allowed"),
        F.col("isMarginTradingAllowed").alias("is_margin_trading_allowed"),
        F.col("baseAssetPrecision").alias("base_precision"),
        F.col("quoteAssetPrecision").alias("quote_precision"),
        "min_price", "max_price", "tick_size", "min_qty", "max_qty", "step_size",
    )


# ------------------------------------------------- latent API surfaces
# The reference client exposes four more endpoints its pipeline tables
# never consume (no TableConfig references): order-book depth
# (utils.py:189-207), mark price + greeks (utils.py:245-259), option
# open interest (utils.py:171-187) and historical trades
# (utils.py:259-280). They are client-library parity, not pipeline
# parity — provided here as the same fan-out + wire + typed-parse
# shape as the consumed sources so a user extending the pipeline has
# TableSpec-ready relations.

DEPTH_WIRE_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("update_id", T.LongType()),
    T.StructField("side", T.StringType()),
    T.StructField("level", T.IntegerType()),
    T.StructField("price", T.StringType()),
    T.StructField("qty", T.StringType()),
])


def fetch_depth_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    limit: int = 100,
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Order-book snapshot fan-out → typed ladder rows
    (symbol, ts, update_id, side, level, price, qty) — the nested
    bids/asks arrays flattened to one row per level, best level = 0."""
    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        if bucket:
            bucket.acquire()
        snap = api.depth(symbol, limit)
        rows = [
            (symbol, snap["T"], snap["u"], side, lvl, px, qty)
            for side, ladder in (("bid", snap["bids"]), ("ask", snap["asks"]))
            for lvl, (px, qty) in enumerate(ladder)
        ]
        yield pd.DataFrame(rows, columns=[f.name for f in DEPTH_WIRE_SCHEMA.fields])

    wire = _fan_out(spark, symbols, DEPTH_WIRE_SCHEMA, fetch_symbol, api_factory,
                    parallelism, rate_limit)
    return wire.select(
        "symbol",
        F.lit("binance").alias("exchange"),
        F.timestamp_millis("ts_ms").alias("timestamp"),
        "update_id",
        "side",
        "level",
        F.col("price").cast("double").alias("price"),
        F.col("qty").cast("double").alias("qty"),
    )


MARK_WIRE_FIELDS = [
    "markPrice", "bidIV", "askIV", "markIV", "delta", "theta", "gamma",
    "vega", "highPriceLimit", "lowPriceLimit", "riskFreeInterest",
]
MARK_WIRE_SCHEMA = T.StructType(
    [T.StructField("symbol", T.StringType())]
    + [T.StructField(f, T.StringType()) for f in MARK_WIRE_FIELDS]
)


def fetch_mark_price_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Mark price + greeks per option symbol, typed doubles."""
    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        if bucket:
            bucket.acquire()
        recs = api.mark_price(symbol)
        yield pd.DataFrame(
            [[r["symbol"]] + [r.get(f) for f in MARK_WIRE_FIELDS] for r in recs],
            columns=["symbol"] + MARK_WIRE_FIELDS,
        )

    wire = _fan_out(spark, symbols, MARK_WIRE_SCHEMA, fetch_symbol, api_factory,
                    parallelism, rate_limit)
    return wire.select(
        "symbol",
        F.lit("binance").alias("exchange"),
        *[F.col(f).try_cast("double").alias(f) for f in MARK_WIRE_FIELDS],
    )


OI_WIRE_SCHEMA = T.StructType([
    T.StructField("underlying", T.StringType()),
    T.StructField("expiration", T.StringType()),
    T.StructField("symbol", T.StringType()),
    T.StructField("sumOpenInterest", T.StringType()),
    T.StructField("sumOpenInterestUsd", T.StringType()),
    T.StructField("timestamp_ms", T.StringType()),
])


def fetch_open_interest_distributed(
    spark: SparkSession,
    underlying_expirations: list[tuple[str, str]] | DataFrame,
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Open interest per (underlyingAsset, expiration) pair — the
    fan-out key is the PAIR (one API call each), mirroring the
    reference's per-expiration loop."""
    if isinstance(underlying_expirations, DataFrame):
        pair_df = underlying_expirations.select(
            F.col(underlying_expirations.columns[0]).alias("underlying"),
            F.col(underlying_expirations.columns[1]).alias("expiration"),
        )
    else:
        pair_df = spark.createDataFrame(
            underlying_expirations, "underlying string, expiration string"
        )
    pair_df = pair_df.repartition(parallelism, "underlying", "expiration")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        api = api_factory()
        bucket = TokenBucket(*rate_limit) if rate_limit else None
        for pdf in batches:
            for und, exp in zip(pdf["underlying"], pdf["expiration"]):
                if bucket:
                    bucket.acquire()
                recs = api.open_interest(und, exp)
                yield pd.DataFrame({
                    "underlying": und,
                    "expiration": exp,
                    "symbol": [r["symbol"] for r in recs],
                    "sumOpenInterest": [r["sumOpenInterest"] for r in recs],
                    "sumOpenInterestUsd": [r["sumOpenInterestUsd"] for r in recs],
                    "timestamp_ms": [r["timestamp"] for r in recs],
                })

    wire = pair_df.mapInPandas(fetch, OI_WIRE_SCHEMA)
    return wire.select(
        "underlying",
        "expiration",
        "symbol",
        F.lit("binance").alias("exchange"),
        F.col("sumOpenInterest").cast("double").alias("sum_open_interest"),
        F.col("sumOpenInterestUsd").cast("double").alias("sum_open_interest_usd"),
        F.timestamp_millis(F.col("timestamp_ms").cast("long")).alias("timestamp"),
    )


TRADES_WIRE_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("trade_id", T.LongType()),
    T.StructField("price", T.StringType()),
    T.StructField("qty", T.StringType()),
    T.StructField("quoteQty", T.StringType()),
    T.StructField("time_ms", T.LongType()),
    T.StructField("side", T.StringType()),
])


def fetch_historical_trades_distributed(
    spark: SparkSession,
    symbols: list[str] | DataFrame,
    page_limit: int = 100,
    api_factory: Callable[[], object] = SyntheticBinanceApi,
    parallelism: int = 8,
    rate_limit: tuple[int, float] | None = None,
) -> DataFrame:
    """Historical trades with fromId cursoring (the T7 partition-local
    cursor pattern, same as kline pagination): each task walks its
    symbol's tape page by page until a short page."""
    def fetch_symbol(api, bucket, symbol: str) -> Iterator[pd.DataFrame]:
        cursor: int | None = None
        while True:
            if bucket:
                bucket.acquire()
            page = api.historical_trades(symbol, page_limit, cursor)
            if not page:
                break
            yield pd.DataFrame({
                "symbol": symbol,
                "trade_id": [r["id"] for r in page],
                "price": [r["price"] for r in page],
                "qty": [r["qty"] for r in page],
                "quoteQty": [r["quoteQty"] for r in page],
                "time_ms": [r["time"] for r in page],
                "side": [r["side"] for r in page],
            })
            # terminate ONLY on an empty page: a page shorter than the
            # REQUESTED limit may just mean the server clamped it (the
            # endpoint caps at 500), and treating that as end-of-tape
            # silently truncates
            cursor = page[-1]["id"] + 1

    wire = _fan_out(spark, symbols, TRADES_WIRE_SCHEMA, fetch_symbol, api_factory,
                    parallelism, rate_limit)
    return wire.select(
        "symbol",
        F.lit("binance").alias("exchange"),
        "trade_id",
        F.col("price").cast("double").alias("price"),
        F.col("qty").cast("double").alias("qty"),
        F.col("quoteQty").cast("double").alias("quote_qty"),
        F.timestamp_millis("time_ms").alias("time"),
        # wire side is '1' (buy) / '-1' (sell)
        F.when(F.col("side") == "1", F.lit("BUY")).otherwise(F.lit("SELL")).alias("side"),
    )
