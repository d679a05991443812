"""Seeded market generator: the only inputs the program sees.

A :class:`Market` is drawn from one integer seed. The seed picks the
symbol names, the history start, where the sustained premium
squeezes go and which bars are missing. Two views of the same
market are built from it:

* :class:`MarketApi` is a transport for the ``api_factory`` seam of
  ``sources.binance``. It serves Binance wire shapes (numerics as
  strings, epoch-ms ints) page by page from Spark's Python workers.
* :func:`seed_klines` / :func:`seed_funding` build the same rows as
  Spark expressions over ``spark.range`` for pre-seeding a warehouse
  through ``Warehouse.overwrite`` without paginating history.

Both views compute every price in integer ticks of 1e-8, so a bar
the transport re-serves is bit-identical to the one the seeder wrote:
the wire string ``"123.45678901"`` and the seeder's ``ticks / 1e8``
parse to the same double. Perp prices are spot prices scaled by
``1 + premium``. The premium is noise of at most 5e-4, except inside a
planted squeeze, where it drops by 3e-2 for ``bars`` minutes. That is
the shape the extreme detector (WMA-120 drop of 0.006 over 30 bars)
fires on exactly once. Noise alone can never fire it.
"""

from __future__ import annotations

import random
import string
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

MINUTE_MS = 60_000
FUNDING_MS = 8 * 3_600_000
TICK = 100_000_000  # price ticks per unit
PPM = 1_000_000
SQUEEZE_PPM = -30_000
NOISE_PPM = 500
SQUEEZE_PERIOD = 27  # hours (ticks) between two squeezes of one symbol
PAGE_LIMIT = 1000  # bars or funding records per transport page


def to_ms(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def dec(ticks: int) -> str:
    """Exact decimal string of a non-negative tick count."""
    return f"{ticks // TICK}.{ticks % TICK:08d}"


@dataclass(frozen=True)
class Span:
    """``bars`` one-minute bars of ``symbol`` from ``start``."""

    symbol: str
    start: datetime
    bars: int

    @property
    def start_ms(self) -> int:
        return to_ms(self.start)

    @property
    def end_ms(self) -> int:  # exclusive
        return self.start_ms + self.bars * MINUTE_MS


@dataclass(frozen=True)
class Market:
    seed: int
    symbols: tuple[str, ...]
    start: datetime  # first bar of the seeded history
    end: datetime  # last bar of the seeded history (inclusive)
    squeezes: tuple[Span, ...] = ()
    gaps: tuple[Span, ...] = ()  # missing bars, in spot and perp alike

    def base(self, symbol: str) -> int:
        return (1 + _crc(f"{self.seed}|{symbol}|base") % 50_000) * PPM

    def missing(self, symbol: str, ts_ms: int) -> bool:
        return any(
            g.symbol == symbol and g.start_ms <= ts_ms < g.end_ms for g in self.gaps
        )

    def premium_ppm(self, symbol: str, ts_ms: int) -> int:
        p = _crc(f"{self.seed}|{symbol}|{ts_ms}|p") % (2 * NOISE_PPM + 1) - NOISE_PPM
        if any(
            s.symbol == symbol and s.start_ms <= ts_ms < s.end_ms for s in self.squeezes
        ):
            p += SQUEEZE_PPM
        return p

    def spot_bar(self, symbol: str, ts_ms: int) -> tuple[int, int, int, int, int, int]:
        """(open, high, low, close, volume, trades) in ticks / units."""
        b = self.base(symbol)
        h = _crc(f"{self.seed}|{symbol}|{ts_ms}")
        o = b * (990_000 + (h >> 15) % 20_001) // PPM
        c = b * (990_000 + h % 20_001) // PPM
        return o, max(o, c) + b // 1000, min(o, c) - b // 1000, c, h % 97 + 1, h % 1000

    def perp_bar(self, symbol: str, ts_ms: int) -> tuple[int, int, int, int, int, int]:
        o, hi, lo, c, v, n = self.spot_bar(symbol, ts_ms)
        f = PPM + self.premium_ppm(symbol, ts_ms)
        return o * f // PPM, hi * f // PPM, lo * f // PPM, c * f // PPM, v, n

    def funding_ppm(self, symbol: str, ts_ms: int) -> int:
        return _crc(f"{self.seed}|{symbol}|{ts_ms}|f") % 2001 - 1000

    def bar_times(self, symbol: str, since: datetime, until: datetime) -> list[int]:
        """Epoch-ms of every bar the market holds in [since, until]."""
        lo = -(-to_ms(since) // MINUTE_MS) * MINUTE_MS
        return [
            t for t in range(lo, to_ms(until) + 1, MINUTE_MS) if not self.missing(symbol, t)
        ]


def _crc(s: str) -> int:
    return zlib.crc32(s.encode())


def _symbols(rng: random.Random, n: int) -> tuple[str, ...]:
    out: set[str] = set()
    while len(out) < n:
        base = "".join(rng.choices(string.ascii_uppercase, k=rng.choice((3, 4))))
        out.add(base + "USDT")
    return tuple(sorted(out))


def make_market(
    seed: int,
    n_symbols: int,
    days: int,
    history_squeezes: int = 0,
    gaps: int = 0,
    gap_clear_hours: int = 4,
) -> Market:
    """History of ``days`` × 1440 one-minute bars per symbol.

    ``history_squeezes`` squeezes and ``gaps`` missing-bar runs go
    inside the history, each on its own hour so no two interact:
    squeezes are at least one day apart per symbol (the detector's
    debounce), and gaps sit far from squeezes and from both ends; the
    last ``gap_clear_hours`` of the history hold no gap."""
    rng = random.Random(seed)
    symbols = _symbols(rng, n_symbols)
    start = datetime(2023, 1, 1) + timedelta(days=rng.randrange(365))
    end = start + timedelta(minutes=days * 1440 - 1)
    hours = days * 24
    # hour slots: 0..3 hold the WMA/LAG warm-up, the last slots are
    # left clear so every squeeze has finished before the history ends
    free = list(range(4, hours - 4))
    rng.shuffle(free)
    per_symbol: dict[str, list[int]] = {s: [] for s in symbols}
    squeezes = []
    for hour in free:
        if len(squeezes) == history_squeezes:
            break
        sym = symbols[len(squeezes) % n_symbols]
        if any(abs(hour - h) < 48 for h in per_symbol[sym]):
            continue
        per_symbol[sym].append(hour)
        squeezes.append(
            Span(sym, start + timedelta(hours=hour, minutes=rng.randrange(10)), 90)
        )
    taken = {int((s.start - start).total_seconds() // 3600) for s in squeezes}
    last_gap_hour = hours - gap_clear_hours
    gap_spans = []
    for hour in free:
        if len(gap_spans) == gaps:
            break
        if hour >= last_gap_hour or any(abs(hour - h) < 6 for h in taken):
            continue
        taken.add(hour)
        sym = rng.choice(symbols)
        gap_spans.append(
            Span(sym, start + timedelta(hours=hour, minutes=10 + rng.randrange(20)),
                 1 + rng.randrange(15))
        )
    return Market(seed, symbols, start, end, tuple(squeezes), tuple(gap_spans))


def tick_squeezes(market: Market, first_now: datetime, ticks: int) -> tuple[Span, ...]:
    """A squeeze in the hour of each of the first n ticks (n symbols),
    one symbol each, then none until tick 28, and so on: every tick a
    run times holds one, and a symbol squeezes once per 27 h at most,
    clear of the detector's one-day debounce."""
    rng = random.Random(market.seed * 7919 + 1)
    order = list(market.symbols)
    rng.shuffle(order)
    period = max(len(order), SQUEEZE_PERIOD)
    out = []
    for k in range(1, ticks + 1):
        slot = (k - 1) % period
        if slot < len(order):
            start = first_now + timedelta(hours=k - 1, minutes=1 + rng.randrange(15))
            out.append(Span(order[slot], start, 90))
    return tuple(out)


class MarketApi:
    """Transport for ``fetch_*_distributed(api_factory=...)``: pages
    of spot or perp klines and funding for one :class:`Market`.

    Like the exchange, a request starting before the market's first
    bar is served from that bar, so a 30-day backfill window over a
    younger market lands only the bars that exist.

    ``pages`` is an optional Spark accumulator counting the pages
    served (the transport runs in Python workers)."""

    def __init__(self, market: Market, kind: str, pages=None):
        self.market = market
        self.kind = kind
        self.pages = pages

    def klines(self, symbol: str, interval: str, start_ms: int, end_ms: int) -> list[list]:
        if interval != "1m":
            raise ValueError(f"market serves 1m bars, not {interval!r}")
        m = self.market
        bar = m.perp_bar if self.kind == "PERPETUAL" else m.spot_bar
        ts = max(-(-start_ms // MINUTE_MS) * MINUTE_MS, to_ms(m.start))
        out = []
        while ts <= end_ms and len(out) < PAGE_LIMIT:
            if not m.missing(symbol, ts):
                o, h, lo, c, v, n = bar(symbol, ts)
                out.append([
                    ts, dec(o), dec(h), dec(lo), dec(c), str(v), ts + MINUTE_MS - 1,
                    dec(c * v), n, str(v // 2), dec(c * (v // 2)), "0",
                ])
            ts += MINUTE_MS
        if self.pages is not None and out:
            self.pages.add(1)
        return out

    def funding(self, symbol: str, start_ms: int, end_ms: int) -> list[dict]:
        m = self.market
        ts = max(-(-start_ms // FUNDING_MS) * FUNDING_MS, to_ms(m.start))
        out = []
        while ts <= end_ms and len(out) < PAGE_LIMIT:
            f = m.funding_ppm(symbol, ts)
            out.append({
                "symbol": symbol,
                "fundingTime": ts,
                "fundingRate": f"{f / PPM:.8f}",
                # an empty markPrice on some records exercises the
                # coerce-and-fill path of the funding parser
                "markPrice": "" if f % 7 == 0 else dec(m.spot_bar(symbol, ts)[3]),
            })
            ts += FUNDING_MS
        if self.pages is not None and out:
            self.pages.add(1)
        return out


# ------------------------------------------------------- Spark seeders


def _in_spans(spans) -> str:
    terms = [
        f"(symbol = '{s.symbol}' AND ts_ms >= {s.start_ms} AND ts_ms < {s.end_ms})"
        for s in spans
    ]
    return " OR ".join(terms) if terms else "false"


def _grid(spark, market: Market, step_ms: int):
    """(symbol, base, ts_ms) for every symbol × grid point of the history."""
    from pyspark.sql import functions as F

    lo = -(-to_ms(market.start) // step_ms) * step_ms
    n = (to_ms(market.end) - lo) // step_ms + 1
    syms = spark.createDataFrame(
        [(s, market.base(s)) for s in market.symbols], "symbol string, base bigint"
    )
    times = spark.range(0, n, 1, max(1, min(64, n // 50_000))).select(
        (F.lit(lo) + F.col("id") * step_ms).alias("ts_ms")
    )
    return times.crossJoin(F.broadcast(syms))


def seed_klines(spark, market: Market, kind: str):
    """The market's 1m klines over its history as typed kline rows —
    the same values :class:`MarketApi` serves, built in Spark."""
    grid = _grid(spark, market, MINUTE_MS)
    grid = grid.filter(f"NOT ({_in_spans(market.gaps)})")
    h = f"crc32(cast(concat_ws('|', '{market.seed}', symbol, cast(ts_ms AS string)) AS binary))"
    hp = (
        f"crc32(cast(concat_ws('|', '{market.seed}', symbol, cast(ts_ms AS string), 'p')"
        " AS binary))"
    )
    bars = grid.selectExpr(
        "symbol", "ts_ms", "base",
        f"base * (990000 + shiftright({h}, 15) % 20001) div 1000000 AS o",
        f"base * (990000 + {h} % 20001) div 1000000 AS c",
        f"{h} % 97 + 1 AS v",
        f"{h} % 1000 AS n",
        f"1000000 + {hp} % {2 * NOISE_PPM + 1} - {NOISE_PPM}"
        f" + CASE WHEN {_in_spans(market.squeezes)} THEN {SQUEEZE_PPM} ELSE 0 END AS f",
    ).selectExpr(
        "symbol", "ts_ms", "o", "c", "v", "n", "f",
        "greatest(o, c) + base div 1000 AS h",
        "least(o, c) - base div 1000 AS l",
    )
    if kind == "PERPETUAL":
        bars = bars.selectExpr(
            "symbol", "ts_ms", "v", "n",
            *[f"{x} * f div 1000000 AS {x}" for x in ("o", "h", "l", "c")],
        )
    px = lambda e: f"CAST({e} AS double) / CAST({TICK} AS double)"  # noqa: E731
    return bars.selectExpr(
        "symbol",
        "'binance' AS exchange",
        f"'{kind}' AS type",
        "'1m' AS interval",
        "timestamp_millis(ts_ms) AS timestamp",
        f"timestamp_millis(ts_ms + {MINUTE_MS - 1}) AS close_time",
        f"{px('o')} AS open",
        f"{px('h')} AS high",
        f"{px('l')} AS low",
        f"{px('c')} AS close",
        "CAST(v AS double) AS volume",
        f"{px('c * v')} AS quote_volume",
        "CAST(v div 2 AS double) AS taker_buy_volume",
        f"{px('c * (v div 2)')} AS taker_buy_quote_volume",
        "CAST(n AS int) AS trades_count",
    )


def seed_funding(spark, market: Market):
    """The market's 8h funding rows over its history, built in Spark."""
    grid = _grid(spark, market, FUNDING_MS)
    h = f"crc32(cast(concat_ws('|', '{market.seed}', symbol, cast(ts_ms AS string)) AS binary))"
    hf = (
        f"crc32(cast(concat_ws('|', '{market.seed}', symbol, cast(ts_ms AS string), 'f')"
        " AS binary))"
    )
    return grid.selectExpr(
        "symbol", "ts_ms", f"{hf} % 2001 - 1000 AS f",
        f"base * (990000 + {h} % 20001) div 1000000 AS c",
    ).selectExpr(
        "symbol",
        "'binance' AS exchange",
        "'PERPETUAL' AS type",
        "timestamp_millis(ts_ms) AS fundingTime",
        f"CAST(f AS double) / CAST({PPM} AS double) AS fundingRate",
        f"CASE WHEN f % 7 = 0 THEN 0.0D ELSE CAST(c AS double) / CAST({TICK} AS double) END"
        " AS markPrice",
    )
