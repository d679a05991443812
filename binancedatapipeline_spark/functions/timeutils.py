"""Scalar time helpers mirroring the reference's conversions.

The Binance wire format is epoch-milliseconds; storage is tz-naive
UTC timestamps (pd.to_datetime(unit='ms'),
crypto_data_pipeline_duckdb.py:1069-1070); display occasionally
converts to Asia/Shanghai (duckdb:1762). All are thin wrappers over
built-in JVM functions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_ms_to_ts(col: Column | str) -> Column:
    """Epoch milliseconds -> TimestampType (UTC session)."""
    return F.timestamp_millis(F.col(col) if isinstance(col, str) else col)


def ts_to_epoch_ms(col: Column | str) -> Column:
    """TimestampType -> epoch milliseconds (LongType)."""
    return F.unix_millis(F.col(col) if isinstance(col, str) else col)


def minutes_between(start: Column, end: Column) -> Column:
    """Minute-boundary crossings from start to end — exact
    DATEDIFF('minute', a, b) semantics
    (crypto_data_pipeline_duckdb.py:1748): DuckDB counts boundary
    crossings, so 00:00:59 → 00:01:00 is 1 whole minute while
    00:00:00 → 00:00:59 is 0. floor-divide each endpoint to its
    minute index, then subtract."""
    return (
        F.floor(F.unix_timestamp(end) / 60) - F.floor(F.unix_timestamp(start) / 60)
    ).cast("bigint")


def tz_display(col: Column | str, tz: str = "Asia/Shanghai") -> Column:
    """UTC-naive timestamp shifted for display (duckdb:1762)."""
    return F.from_utc_timestamp(F.col(col) if isinstance(col, str) else col, tz)


_INTERVAL_UNIT_MS = {
    "s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000,
    "w": 604_800_000,
    # a month has no fixed length: 31 days is the longest one, so a
    # warm-up of n monthly bars never comes up short
    "M": 31 * 86_400_000,
}


def interval_ms(interval: str) -> int:
    """A Binance kline interval (``"1m"``, ``"1h"``, ``"8h"``,
    ``"1d"``, …) → bar length in epoch milliseconds."""
    try:
        return int(interval[:-1]) * _INTERVAL_UNIT_MS[interval[-1]]
    except (KeyError, ValueError, IndexError):
        raise ValueError(f"not a kline interval: {interval!r}") from None


def parse_duration(text: str):
    """``"60 days"`` / ``"1 day 12 hours"`` → ``datetime.timedelta``,
    or None when any unit is not timedelta-expressible (months/years
    have no fixed length — callers needing those fall back to a
    Spark-side ``interval`` expression). Accepts the unit vocabulary
    of Spark's day-time intervals, singular or plural."""
    from datetime import timedelta

    parts = text.split()
    if len(parts) < 2 or len(parts) % 2:
        return None
    kwargs: dict[str, float] = {}
    for value, unit in zip(parts[::2], parts[1::2]):
        unit = unit.lower()
        if not unit.endswith("s"):
            unit += "s"
        if unit not in {
            "weeks", "days", "hours", "minutes", "seconds",
            "milliseconds", "microseconds",
        }:
            return None
        try:
            kwargs[unit] = kwargs.get(unit, 0.0) + float(value)
        except ValueError:
            return None
    try:
        return timedelta(**kwargs)
    except (OverflowError, ValueError):
        # beyond timedelta's range, or NaN — not expressible, same as
        # an unknown unit; callers fall back rather than crash
        return None
