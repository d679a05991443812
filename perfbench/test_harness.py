"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The first group needs no Spark: tail-percentile selection and failure
accounting. The second starts a small local session: the generator's
two views agree bar for bar, and a corrupted warehouse fails its
check.
"""

from __future__ import annotations

import os
from datetime import timedelta
from functools import partial

import pytest

from perfbench import market as mk
from perfbench.stats import failures, tail
from perfbench.trace import Tracer


# ------------------------------------------------------------ statistics


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90.0, 100)
    assert tail(list(range(1, 1001))) == (990, 99.0, 1000)
    assert tail(list(range(1, 21))) == (10, 50.0, 20)


def test_tail_needs_enough_samples():
    assert tail([2.0] * 19) == (2.0, 50.0, 19)  # the 9th of 19 has ten above it
    assert tail([2.0] * 18) is None
    assert tail([]) is None


# --------------------------------------------------- failure accounting


class _Acc:
    value = 0


class _Pipe:
    def __init__(self, result):
        self.result = result

    def update_all(self, now):
        return dict(self.result)


def _tick(result, stage_error=None):
    from perfbench.workloads import HourlyTick

    wl = HourlyTick.__new__(HourlyTick)
    wl.tracer = Tracer(enabled=False)
    wl.pipe, wl.failures, wl.pages, wl.pages_by_op = _Pipe(result), [], _Acc(), {}
    wl.market = mk.make_market(1, 10, 1)
    wl.k, wl.now = 0, wl.market.end

    def alert_stage(start, now):
        if stage_error is not None:
            raise stage_error

    wl.alert_stage = alert_stage
    return wl


def test_update_all_minus_one_counts_as_failed():
    r = _tick({"a": 10, "b": -1, "c": 0}).op()
    assert (r.attempted, r.failed, r.extra["failed_tables"]) == (4, 1, 1)


def test_alert_stage_exception_counts_as_failed():
    r = _tick({"a": 10, "b": -1}, RuntimeError("boom")).op()
    assert (r.attempted, r.failed) == (3, 2)


def test_failures_sum_unit_ops():
    from perfbench.workloads import OpResult

    assert failures([OpResult(1, 6, 0), OpResult(1, 6, 3)]) == (12, 3)


# ------------------------------------------------------------- generator


def test_market_is_a_function_of_the_seed():
    a, b = mk.make_market(5, 12, 3, 6, 4), mk.make_market(5, 12, 3, 6, 4)
    assert a == b and a != mk.make_market(6, 12, 3, 6, 4)
    assert len(a.squeezes) == 6 and len(a.gaps) == 4 and len(set(a.symbols)) == 12


def test_transport_skips_missing_bars_and_pages():
    m = mk.make_market(3, 10, 1, gaps=1)
    g = m.gaps[0]
    api = mk.MarketApi(m, "SPOT")
    page = api.klines(g.symbol, "1m", g.start_ms - 5 * mk.MINUTE_MS,
                      g.start_ms + 2 * mk.PAGE_LIMIT * mk.MINUTE_MS)
    times = [row[0] for row in page]
    assert len(page) == mk.PAGE_LIMIT and g.start_ms not in times
    assert times[5] == g.end_ms


def test_every_early_tick_squeezes_clear_of_the_debounce():
    m = mk.make_market(3, 10, 1)
    spans = mk.tick_squeezes(m, m.end, 54)
    ticks = [(s.start - m.end) // timedelta(hours=1) + 1 for s in spans]
    assert ticks == [*range(1, 11), *range(28, 38)]
    assert len({s.symbol for s in spans[:10]}) == 10
    starts: dict = {}
    for s in spans:
        starts.setdefault(s.symbol, []).append(s.start)
    assert all(b - a > timedelta(hours=26)
               for xs in starts.values() for a, b in zip(xs, xs[1:]))


def test_squeeze_moves_perp_premium():
    m = mk.make_market(3, 10, 2, history_squeezes=1)
    s = m.squeezes[0]
    inside = m.premium_ppm(s.symbol, s.start_ms)
    outside = m.premium_ppm(s.symbol, s.start_ms - mk.MINUTE_MS)
    assert inside <= mk.SQUEEZE_PPM + mk.NOISE_PPM and abs(outside) <= mk.NOISE_PPM


# ------------------------------------------------------------------ Spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import ROOT

    os.environ["PYTHONPATH"] = ROOT
    from binancedatapipeline_spark.session import get_session

    s = get_session(master="local[2]", shuffle_partitions=2, app_name="perfbench-selftest",
                    extra_conf={"spark.driver.memory": "1g",
                                "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_seeder_matches_transport(spark):
    from binancedatapipeline_spark.sources.binance import (
        fetch_funding_rates_distributed, fetch_klines_distributed, parse_kline_records)

    m = mk.make_market(9, 10, 1, history_squeezes=1, gaps=1)
    syms = sorted({m.squeezes[0].symbol, m.gaps[0].symbol})
    lo, hi = mk.to_ms(m.start), mk.to_ms(m.end)
    for kind in ("SPOT", "PERPETUAL"):
        api = partial(mk.MarketApi, m, kind)
        got = parse_kline_records(
            fetch_klines_distributed(spark, syms, lo, hi, "1m", api_factory=api, parallelism=2),
            kind, "1m")
        want = mk.seed_klines(spark, m, kind).filter(f"symbol IN {tuple(syms)}")
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    got = fetch_funding_rates_distributed(
        spark, syms, lo, hi, api_factory=partial(mk.MarketApi, m, "PERPETUAL"), parallelism=2)
    want = mk.seed_funding(spark, m).filter(f"symbol IN {tuple(syms)}")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_corrupted_warehouse_fails_its_check(spark, tmp_path):
    from binancedatapipeline_spark.warehouse import Warehouse
    from perfbench.workloads import PERP, SPOT, kline_check

    m = mk.make_market(4, 10, 1, gaps=2)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spot = mk.seed_klines(spark, m, "SPOT")
    wh.overwrite(SPOT, spot)
    wh.overwrite(PERP, mk.seed_klines(spark, m, "PERPETUAL"))
    assert kline_check(wh, m, m.end) == []
    wh.overwrite(SPOT, spot.unionByName(spot.limit(1)))  # a duplicated PK
    assert any("bn_spot_klines" in e for e in kline_check(wh, m, m.end))
    wh.overwrite(SPOT, spot.filter(spot.timestamp < m.end - timedelta(minutes=1)))
    assert any("bn_spot_klines" in e for e in kline_check(wh, m, m.end))
