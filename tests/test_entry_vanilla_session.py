"""Pin the entry contract: every registry query must ANALYZE and
EXECUTE under a *default-config* SparkSession, not just under this
repo's tuned session (binancedatapipeline_spark.session disables parquet
NTZ inference; a vanilla session does not — it reads events.ts as
TIMESTAMP_NTZ, and unix_millis() rejects that at analysis time).

Also pins TZ-environment independence: the same queries run in a
subprocess with TZ=America/New_York must produce byte-identical results
(JVM-side string fingerprints, so the comparison can't be polluted by
Python's process-local timestamp conversion) — `_load` pins the session
TZ to UTC, so a non-UTC machine must not shift NTZ casts or
date_trunc buckets.

Runs in subprocesses so the default sessions can't inherit anything
from the shared pytest session fixture.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# queries whose results depend on timestamp semantics — fingerprinted
# across TZ environments
TS_SENSITIVE = [
    "window_lag_extreme",
    "window_lead_gaps",
    "wma20",
    "asof_join",
]

_SCRIPT = """
import hashlib, json, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Default config on purpose: no UTC pin, no NTZ-inference override, no
# shuffle-partition tuning — the point is to mimic the driver harness.
spark = (
    SparkSession.builder.master("local[8]")
    .appName("vanilla-session-contract")
    .getOrCreate()
)
import __spark_entry__ as entry_mod

sf_dir = %(sf_dir)r
failures = {}
for name, fn in entry_mod.queries().items():
    try:
        fn(spark, sf_dir).limit(1).collect()
    except Exception as exc:  # noqa: BLE001 - report every query's error
        failures[name] = f"{type(exc).__name__}: {exc}"[:300]
entry_df = entry_mod.entry(spark)
try:
    entry_df.limit(1).collect()
except Exception as exc:  # noqa: BLE001
    failures["__entry__"] = f"{type(exc).__name__}: {exc}"[:300]

fingerprints = {}
for name in %(ts_sensitive)r:
    try:
        df = entry_mod.queries()[name](spark, sf_dir)
        # stringify JVM-side (session TZ, which _load pins to UTC) so
        # the fingerprint is independent of the Python process TZ
        rows = df.select(
            [F.col(c).cast("string").alias(c) for c in sorted(df.columns)]
        ).collect()
        canon = sorted(tuple("<null>" if v is None else v for v in r) for r in rows)
        fingerprints[name] = hashlib.md5(repr(canon).encode()).hexdigest()
    except Exception as exc:  # noqa: BLE001
        failures[f"fp:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
print("VANILLA_RESULT:" + json.dumps({"failures": failures, "fp": fingerprints}))
spark.stop()
"""


def _run(tz: str | None) -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_VANILLA_SF", "/root/testdata/sf0.001")
    env = dict(os.environ)
    if tz is not None:
        env["TZ"] = tz
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {
            "repo": REPO, "sf_dir": sf_dir, "ts_sensitive": TS_SENSITIVE,
        }],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
        env=env,
    )
    marker = "VANILLA_RESULT:"
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith(marker)), None
    )
    assert line is not None, (
        f"subprocess (TZ={tz}) died before reporting\n"
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )
    return json.loads(line[len(marker):])


def test_all_queries_run_under_default_session_and_any_tz():
    utc = _run(None)
    assert utc["failures"] == {}, (
        f"queries broken under a vanilla session: {utc['failures']}"
    )
    ny = _run("America/New_York")
    assert ny["failures"] == {}, (
        f"queries broken under a non-UTC-TZ vanilla session: {ny['failures']}"
    )
    assert utc["fp"] == ny["fp"], (
        "timestamp-sensitive results drift with the driver machine TZ: "
        f"{ {k: (utc['fp'].get(k), ny['fp'].get(k)) for k in set(utc['fp']) | set(ny['fp']) if utc['fp'].get(k) != ny['fp'].get(k)} }"
    )


def test_table_cache_evicts_dead_sessions_and_restores_nanos_conf(spark):
    """Round 11 hygiene pins: (a) `_t`'s memo evicts entries keyed to a
    stopped session's applicationId on the next insert (a long-lived
    process cycling sessions must not grow the cache without bound);
    (b) loading `events` leaves the session-global nanosAsLong conf
    exactly as found when the footer is NOT nanos (it used to flip it
    permanently for every later parquet read)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    app_id = spark.sparkContext.applicationId
    # an earlier test may have memoized events already; drop it so the
    # load below is a fresh insert (the eviction point)
    E._TABLE_CACHE.pop((app_id, sf, "events"), None)
    E._TABLE_CACHE[("dead-app-id", sf, "orders")] = E._t(spark, sf, "orders")
    ev = E._t(spark, sf, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # conf restored (current testdata is micros, so the flag must not stick)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) == prior
    # the dead-session entry was evicted by the live session's insert
    assert ("dead-app-id", sf, "orders") not in E._TABLE_CACHE
    assert all(k[0] == app_id for k in E._TABLE_CACHE)
    # events still executes end-to-end with the conf restored
    assert ev.count() > 0
