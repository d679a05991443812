"""The workloads: what each sets up, one operation, and the checks
its outputs must pass.

Every workload drives the public API only (``Pipeline``,
``Warehouse``, ``plans``, ``stream_extreme_alerts``) and feeds it only
generated inputs (:mod:`perfbench.market`) through the ``api_factory``
seam and ``Warehouse.overwrite``.
"""

from __future__ import annotations

import random
import sys
import time
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta
from functools import partial

from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline
from binancedatapipeline_spark.plans import extreme_cases, premium_wma, validate_klines
from binancedatapipeline_spark.plans.premium import WMA_WINDOW
from binancedatapipeline_spark.streaming.jobs import stream_extreme_alerts
from binancedatapipeline_spark.warehouse import Warehouse

from perfbench import market as mk
from perfbench.stats import median, tail
from perfbench.trace import Tracer, TracedWarehouse, WriteStats, trace_pipeline

SPOT, PERP = catalog.BN_SPOT_KLINES, catalog.BN_PERP_KLINES
PREMIUM, ALERTS = catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS
KLINE_PK = list(SPOT.primary_keys)
GAP_HOURS = 1.5 / 60  # a missing 1m bar makes a spacing of ≥ 2 minutes


@dataclass
class OpResult:
    """One operation of a workload: ``latency_s`` is what the
    end-to-end metric measures; ``attempted``/``failed`` count the
    unit ops inside it (table updates, alert stages, queries)."""

    latency_s: float
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def build_pipeline(spark, root: str, market: mk.Market, pages):
    """The CLI's table set over the generated market: spot tables
    through a spot transport, perp klines through a perp transport,
    one fetch task per core."""
    cores = spark.sparkContext.defaultParallelism
    spot = standard_jobs(list(market.symbols), "1m",
                         partial(mk.MarketApi, market, "SPOT", pages), cores)
    perp = standard_jobs(list(market.symbols), "1m",
                         partial(mk.MarketApi, market, "PERPETUAL", pages), cores)
    jobs = {j.spec.name: j for j in spot}
    jobs[PERP.name] = next(j for j in perp if j.spec is PERP)
    failures: list[str] = []
    pipe = Pipeline(spark, root,
                    notify=lambda m: failures.append(m) if m.startswith("failed") else None)
    for job in jobs.values():
        pipe.register(job)
    return pipe, failures


def kline_check(wh, market: mk.Market, until: datetime) -> list[str]:
    """Every kline table holds exactly the market's bars, PKs unique."""
    expected = sum(len(market.bar_times(s, market.start, until)) for s in market.symbols)
    errors = []
    for spec in (SPOT, PERP):
        row = wh.read(spec).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in KLINE_PK]).alias("pk"),
            F.max("timestamp").alias("hi"),
        ).first()
        if (row["n"], row["pk"]) != (expected, expected) or row["hi"] != until:
            errors.append(f"{spec.name}: {row['n']} rows / {row['pk']} PKs up to "
                          f"{row['hi']}, expected {expected} up to {until}")
    return errors


def premium_check(actual, expected) -> list[str]:
    """Row-for-row equality of two bn_premium relations (WMA to 1e-9)."""
    key = ["symbol", "timestamp"]
    a = actual.select(*key, F.col("premium").alias("p"), F.col("wma120_premium").alias("w"))
    e = expected.select(*key, F.col("premium").alias("ep"),
                        F.col("wma120_premium").alias("ew"))
    bad = a.join(e, key, "full_outer").filter(
        F.col("p").isNull() | F.col("ep").isNull()
        | (F.abs(F.col("p") - F.col("ep")) > 1e-12)
        | (F.col("w").isNull() != F.col("ew").isNull())
        | (F.abs(F.col("w") - F.col("ew")) > 1e-9)
    )
    n_bad, n = bad.count(), actual.count()
    return [f"bn_premium: {n_bad} of {n} rows differ from a full recompute"] if n_bad else []


def squeeze_of(market: mk.Market, symbol: str, ts: datetime):
    ms = mk.to_ms(ts)
    for s in market.squeezes:
        if s.symbol == symbol and s.start_ms <= ms < s.end_ms:
            return s
    return None


class Workload:
    name = ""
    WARMUP_OPS = 1  # untimed operations after set-up, counted in setup_s
    MIN_OPS = 1  # timed operations even when --seconds runs out first

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.root = f"{work}/wh"
        self.stats = WriteStats()
        self.fetched: dict = {}
        self.pages = spark.sparkContext.accumulator(0)
        self.pages_by_op: dict = {}

    def setup(self) -> OpResult | None:
        """Build the warehouse the operations run against; returns the
        unit ops it attempted, when it runs any."""
        raise NotImplementedError

    def op(self) -> OpResult:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Descriptions of every failed output check."""
        raise NotImplementedError

    def op_p50_s(self, results) -> float:
        """The end-to-end ``op_p50_s``: median latency of the untraced
        operations."""
        return median([r.latency_s for r in results if not r.extra.get("traced")])

    def issue_metrics(self, results) -> dict:
        """The workload's own end-to-end figures, printed by name."""
        return {}

    def warehouses(self):
        """(warehouse, specs) pairs whose layout the trace reports."""
        return []

    def count_pages(self, before: int) -> None:
        if self.tracer.op is not None:
            self.pages_by_op[self.tracer.op] = self.pages.value - before


# ------------------------------------------------------------ hourly_tick


class HourlyTick(Workload):
    """A deployment's life: backfill an empty warehouse through the
    pipeline (the set-up), then run hourly ticks back to back."""

    name = "hourly_tick"
    # the tick window's premium warm-up (2 h) and the klines' late-data
    # re-fetch (2 h) must not cross a gap: a windowed WMA-120 over a
    # gap differs from the full-history one by design
    SYMBOLS, DAYS, GAP_CLEAR_HOURS, MAX_TICKS = 10, 1, 6, 60

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        base = mk.make_market(self.seed, self.SYMBOLS, self.DAYS, gaps=3,
                              gap_clear_hours=self.GAP_CLEAR_HOURS)
        self.market = replace(base, squeezes=mk.tick_squeezes(base, base.end, self.MAX_TICKS))
        self.messages: list[str] = []
        self.stage, self.ckpt = f"{self.root}_stream/in", f"{self.root}_stream/ckpt"
        self.backfill: dict = {}

    def setup(self) -> OpResult:
        """Backfill: empty warehouse → dims, klines and funding landed
        by ``update_all``, then ``refresh_premium`` over the history."""
        m, tr = self.market, self.tracer
        pages0 = self.pages.value
        self.pipe, self.failures = build_pipeline(self.spark, self.root, m, self.pages)
        if tr.enabled:
            trace_pipeline(self.pipe, tr, self.stats, self.fetched)
        self.wh = self.pipe.warehouse
        self.k, self.now = 0, m.end
        t0 = time.perf_counter()
        with tr.span("pipeline.update_all"):
            res = self.pipe.update_all(m.end)
        t1 = time.perf_counter()
        failed = self._log_failures(res)
        try:
            with tr.span("plans.premium_wma", via="refresh_premium"):
                self.pipe.refresh_premium(m.start, m.end)
        except Exception as e:  # noqa: BLE001 — a failed refresh is a failed op
            log(f"hourly_tick: refresh_premium failed: {e!r}")
            failed += 1
        t2 = time.perf_counter()
        rows = sum(v for v in res.values() if v > 0)
        self.backfill = {"backfill_s": t2 - t0, "ingest_rows_per_s": rows / (t1 - t0)}
        self.count_pages(pages0)
        return OpResult(t2 - t0, len(res) + 1, failed)

    def op(self) -> OpResult:
        self.k += 1
        prev, now = self.now, self.market.end + timedelta(hours=self.k)
        pages0 = self.pages.value
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.update_all"):
            res = self.pipe.update_all(now)
        failed = self._log_failures(res)
        try:
            self.alert_stage(prev + timedelta(minutes=1), now)
        except Exception as e:  # noqa: BLE001 — a failed stage is a failed op
            log(f"hourly_tick: alert stage failed at {now}: {e!r}")
            failed += 1
        latency = time.perf_counter() - t0
        self.now = now
        self.count_pages(pages0)
        return OpResult(latency, len(res) + 1, failed,
                        {"failed_tables": sum(1 for v in res.values() if v < 0)})

    def _log_failures(self, res: dict) -> int:
        """``update_all`` returns −1 for a table whose update raised."""
        for msg in self.failures:
            log(f"hourly_tick: {msg}")
        self.failures.clear()
        return sum(1 for v in res.values() if v < 0)

    def alert_stage(self, start: datetime, now: datetime) -> None:
        """The tick's premium rows over ``read_between`` windows, fed to
        the availableNow alert stream (same checkpoint every tick)."""
        tr, wh, spark = self.tracer, self.wh, self.spark
        with tr.span("plans.premium_wma") as ps:
            since = start - timedelta(minutes=WMA_WINDOW)
            prem = premium_wma(wh.read_between(PERP, since=since, until=now),
                               wh.read_between(SPOT, since=since, until=now),
                               str(start), str(now))
            prem.write.mode("append").parquet(self.stage)
        if ps is not None:
            with tr.span("trace.rows_out"):
                ps.attrs["rows"] = spark.read.schema(PREMIUM.schema).parquet(
                    self.stage).filter(F.col("timestamp") >= F.lit(start)).count()
        with tr.span("streaming.alert_stage"):
            q = stream_extreme_alerts(
                spark.readStream.schema(PREMIUM.schema).parquet(self.stage),
                wh.read(catalog.BN_PERP_SYMBOLS), wh, PREMIUM, ALERTS, self.ckpt,
                notify=self.messages.append, available_now=True,
            )
            try:
                if not q.awaitTermination(120):
                    raise TimeoutError("alert stage did not finish in 120 s")
            finally:
                q.stop()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    def issue_metrics(self, results) -> dict:
        ticks = [r.latency_s for r in results if not r.extra.get("traced")]
        t = tail(ticks)
        tail_s = ({"tick_tail_s": "n/a", "tick_tail_n": len(ticks)} if t is None else
                  dict(zip(("tick_tail_s", "tick_tail_pct", "tick_tail_n"), t)))
        return {**self.backfill, "tick_p50_s": median(ticks), **tail_s}

    def check(self) -> list[str]:
        m, wh = self.market, self.pipe.warehouse
        errors = kline_check(wh, m, self.now)
        n_funding = wh.read(catalog.BN_FUNDING_RATES).count()
        per_symbol = (mk.to_ms(self.now) - mk.to_ms(m.start)) // mk.FUNDING_MS + 1
        if n_funding != per_symbol * len(m.symbols):
            errors.append(f"bn_funding_rates: {n_funding} rows, "
                          f"expected {per_symbol * len(m.symbols)}")
        errors += oracle_premium_check(wh, m, m.symbols[0])
        stored = wh.read(PREMIUM).filter(F.col("timestamp") > F.lit(m.end))
        full = premium_wma(wh.read(PERP), wh.read(SPOT), str(m.start), str(self.now)).filter(
            F.col("timestamp") > F.lit(m.end))
        errors += premium_check(stored, full)
        ledger = wh.read(ALERTS).collect()
        due = [s for s in m.squeezes if s.start_ms + 30 * mk.MINUTE_MS <= mk.to_ms(self.now)]
        hits: dict = {}
        for r in ledger:
            s = squeeze_of(m, r["symbol"], r["fundingTime"])
            if s is None:
                errors.append(f"ledger: alert {r['symbol']} {r['fundingTime']} "
                              "outside every planted squeeze")
            else:
                hits[s] = hits.get(s, 0) + 1
            if r["notified"] is not True:
                errors.append(f"ledger: alert {r['symbol']} {r['fundingTime']} not notified")
        for s in due:
            if hits.get(s, 0) != 1:
                errors.append(f"ledger: squeeze {s.symbol} {s.start} alerted "
                              f"{hits.get(s, 0)} times, expected once")
        self.ledger_rows = len(ledger)
        return errors

    def warehouses(self):
        return [(self.wh, [SPOT, PERP, catalog.BN_FUNDING_RATES, PREMIUM, ALERTS])]


def oracle_premium(market: mk.Market, symbol: str):
    """(bar times, premium, WMA-120) of one symbol straight from the
    generator: premium = perp close / spot close − 1 over the bars both
    sides hold, WMA over the trailing 120 of them (pandas_ta
    semantics, NaN during warm-up)."""
    import numpy as np

    times = market.bar_times(symbol, market.start, market.end)
    prem = np.array([
        (market.perp_bar(symbol, t)[3] / mk.TICK) / (market.spot_bar(symbol, t)[3] / mk.TICK) - 1
        for t in times
    ])
    n = WMA_WINDOW
    wma = np.full(len(prem), np.nan)
    wma[n - 1:] = np.convolve(prem, np.arange(n, 0, -1), "valid") / (n * (n + 1) / 2)
    return times, prem, wma


def oracle_premium_check(wh, market: mk.Market, symbol: str) -> list[str]:
    """One symbol's stored bn_premium rows against the generator."""
    import numpy as np

    times, prem, wma = oracle_premium(market, symbol)
    rows = (wh.read(PREMIUM)
            .filter((F.col("symbol") == symbol) & (F.col("timestamp") <= F.lit(market.end)))
            .orderBy("timestamp").select("timestamp", "premium", "wma120_premium").collect())
    if [mk.to_ms(r["timestamp"]) for r in rows] != times:
        return [f"bn_premium {symbol}: {len(rows)} rows, expected {len(times)}"]
    got_p = np.array([r["premium"] for r in rows])
    got_w = np.array([np.nan if r["wma120_premium"] is None else r["wma120_premium"]
                      for r in rows])
    if not (np.allclose(got_p, prem, rtol=0, atol=1e-12)
            and np.allclose(got_w, wma, rtol=0, atol=1e-9, equal_nan=True)):
        return [f"bn_premium {symbol}: premium or WMA-120 differs from the generator"]
    return []


# -------------------------------------------------------------- analytics


class Analytics(Workload):
    """Analysts and dashboards over a stored history: LAG/LEAD/WMA
    queries and windowed reads; no sources, no writes."""

    name = "analytics"
    SYMBOLS, DAYS, WATCHLIST = 12, 5, 10
    # rounds keep speeding up over the first two; three timed rounds
    # give the median an outlier to drop
    WARMUP_OPS, MIN_OPS = 2, 3
    QUERIES = ("premium_query", "extreme_query", "gap_audit", "watchlist_read")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.market = mk.make_market(self.seed, self.SYMBOLS, self.DAYS,
                                     history_squeezes=2 * self.SYMBOLS, gaps=10)
        self.watchlist = sorted(
            random.Random(self.seed).sample(self.market.symbols, self.WATCHLIST))
        self.errors: list[str] = []

    def setup(self) -> None:
        """Seed the stored history in Spark (no sources, no pipeline)."""
        m, spark, root = self.market, self.spark, self.root
        wh = Warehouse(spark, root)
        wh.overwrite(SPOT, mk.seed_klines(spark, m, "SPOT"))
        wh.overwrite(PERP, mk.seed_klines(spark, m, "PERPETUAL"))
        wh.overwrite(PREMIUM, premium_wma(wh.read(PERP), wh.read(SPOT), str(m.start), str(m.end)))
        dims = next(j for j in standard_jobs(list(m.symbols), "1m")
                    if j.spec is catalog.BN_PERP_SYMBOLS)
        wh.overwrite(catalog.BN_PERP_SYMBOLS, dims.fetch(spark, m.end, m.end))
        self.wh = TracedWarehouse(wh, self.tracer, self.stats) if self.tracer.enabled else wh

    def op(self) -> OpResult:
        """One round: the four queries in turn, each checked."""
        latencies, failed = {}, 0
        for q in self.QUERIES:
            t0 = time.perf_counter()
            try:
                out = getattr(self, q)()
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                log(f"analytics: {q} failed: {e!r}")
                failed += 1
                continue
            latencies[q] = time.perf_counter() - t0
            errors = getattr(self, f"check_{q}")(out)
            self.errors += errors
            failed += bool(errors)
        return OpResult(sum(latencies.values()), len(self.QUERIES), failed, latencies)

    def op_p50_s(self, results) -> float:
        """A round's median as the sum of each query's median, so one
        slow query in one round does not move it."""
        return sum(self.issue_metrics(results).values())

    def issue_metrics(self, results) -> dict:
        untraced = [r for r in results if not r.extra.get("traced")]
        return {f"{q}_p50_s": median([r.extra[q] for r in untraced if q in r.extra])
                for q in self.QUERIES}

    def premium_query(self):
        m, wh, tr = self.market, self.wh, self.tracer
        with tr.span("plans.premium_wma") as s:
            prem = premium_wma(wh.read(PERP), wh.read(SPOT), str(m.start), str(m.end))
            out = prem.groupBy("symbol").agg(
                F.count(F.lit(1)).alias("n"), F.sum("premium").alias("p"),
                F.sum("wma120_premium").alias("w"),
            ).collect()
        _rows_out(s, sum(r["n"] for r in out))
        return out

    def extreme_query(self):
        with self.tracer.span("plans.extreme_cases") as s:
            out = extreme_cases(self.wh.read(PREMIUM),
                                self.wh.read(catalog.BN_PERP_SYMBOLS)).collect()
        _rows_out(s, len(out))
        return out

    def gap_audit(self):
        with self.tracer.span("plans.validate_klines") as s:
            out = validate_klines(self.wh.read(SPOT), interval_hours=GAP_HOURS).collect()
        _rows_out(s, len(out))
        return out

    def watchlist_read(self):
        """One dashboard refresh: the last 24 h of each watched symbol.
        The span covers the collects, so the scan is warehouse work."""
        m, wh = self.market, self.wh
        since = m.end - timedelta(hours=24)
        with self.tracer.span("warehouse.watchlist_read"):
            return {
                s: wh.read_between(SPOT, since=since, until=m.end)
                .filter(F.col("symbol") == s).select("timestamp", "close").collect()
                for s in self.watchlist
            }

    # ------------------------------------------------------- checks

    def check_premium_query(self, out) -> list[str]:
        m = self.market
        got = {r["symbol"]: r for r in out}
        want = {s: len(m.bar_times(s, m.start, m.end)) for s in m.symbols}
        if {s: r["n"] for s, r in got.items()} != want:
            return ["premium_query: row counts per symbol differ from the market"]
        if self._oracle_sums is None:
            _, prem, wma = oracle_premium(m, self.watchlist[0])
            self._oracle_sums = float(prem.sum()), float(wma[WMA_WINDOW - 1:].sum())
        p, w = self._oracle_sums
        r = got[self.watchlist[0]]
        if abs(r["p"] - p) > 1e-9 * max(1.0, abs(p)) or abs(r["w"] - w) > 1e-9 * max(1.0, abs(w)):
            return [f"premium_query: sums ({r['p']}, {r['w']}) != oracle ({p}, {w})"]
        return []

    _oracle_sums = None

    def check_extreme_query(self, out) -> list[str]:
        m = self.market
        newest = sorted(m.squeezes, key=lambda s: s.start, reverse=True)[:10]
        got = []
        for r in out:
            s = squeeze_of(m, r["symbol"], r["fundingTime"])
            if s is None or r["fundingTime"] > s.start + timedelta(minutes=30):
                return [f"extreme_query: event {r['symbol']} {r['fundingTime']} "
                        "is not the onset of a planted squeeze"]
            got.append(s)
        if got != newest:
            return [f"extreme_query: {len(got)} events, expected the {len(newest)} "
                    "newest planted squeezes newest first"]
        return []

    def check_gap_audit(self, out) -> list[str]:
        want = sorted(
            (g.symbol, g.start - timedelta(minutes=1), g.start + timedelta(minutes=g.bars))
            for g in self.market.gaps
        )
        got = sorted((r["symbol"], r["gap_start"], r["gap_end"]) for r in out)
        return [] if got == want else [f"gap_audit: {got} != planted {want}"]

    def check_watchlist_read(self, out) -> list[str]:
        m = self.market
        since = m.end - timedelta(hours=24)
        for s, rows in out.items():
            times = m.bar_times(s, since, m.end)
            if sorted(mk.to_ms(r["timestamp"]) for r in rows) != times:
                return [f"watchlist_read {s}: {len(rows)} rows, expected {len(times)}"]
        return []

    def check(self) -> list[str]:
        return self.errors

    def warehouses(self):
        return [(self.wh, [SPOT, PERP, PREMIUM])]


def _rows_out(span, n: int) -> None:
    if span is not None:
        span.attrs["rows"] = n


WORKLOADS = {w.name: w for w in (HourlyTick, Analytics)}
