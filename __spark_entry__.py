"""Query contract over the sf* testdata: DuckDB differentials of the
engine's market operators.

``queries()`` exposes one DataFrame-producing callable per operator the
market path runs — the extreme-cases LAG detector, LEAD gap audit,
trailing WMA, as-of join, keep-last dedup and the margin-asset CTE
shape — each expressed on the generic ``events``/TPC-H testdata
tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL for each.
Both sides alias every computed column identically and round derived
doubles to 6 decimals so an order-insensitive value comparison is
stable across engines. ``entry(spark)`` is the premium-pipeline shape
(hourly rollup, trailing WMA, LAG change detection) as one plan.

Implementation lives in ``binancedatapipeline_spark``; this module
only wires table loads to plans.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from binancedatapipeline_spark.operators.asof import asof_join  # noqa: E402
from binancedatapipeline_spark.operators.dedup import dedup_keep_last  # noqa: E402
from binancedatapipeline_spark.operators.wma import with_wma  # noqa: E402


_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, memoizing the DataFrame handle per session so
    repeated queries don't re-read parquet footers for schema.

    Keyed on applicationId (not id(spark)): CPython recycles object
    ids after GC, which could resurrect DataFrames bound to a dead
    session. Entries keyed to any OTHER applicationId are evicted on
    insert — only one SparkContext can be live per process, so a
    different appId always means a stopped session whose DataFrame
    handles are dead weight (a long-lived process cycling sessions
    would otherwise grow the cache without bound)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    for k in [k for k in _TABLE_CACHE if k[0] != app_id]:
        del _TABLE_CACHE[k]
    df = _load(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The entry contract must hold under the DRIVER's session, not just
    # this repo's (session.py already disables NTZ inference for its own
    # sessions). A default-config session reads the testdata's naive
    # timestamp[us] columns as TIMESTAMP_NTZ, which unix_millis & co.
    # reject at analysis time — so disable inference here too, before
    # every read, and belt-and-braces cast any NTZ column that still
    # slips through. Pin the session TZ to UTC as well: the testdata is
    # naive-UTC and the DuckDB oracle is TZ-naive, so on a non-UTC
    # driver machine an unpinned session would shift every NTZ cast and
    # date_trunc/hour bucket (same drift class that broke round 3).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # older driver builds stored TIMESTAMP(NANOS), which Spark's
        # reader rejects; read nanos as long and convert (floor-truncate
        # to micros, matching DuckDB's read behavior). The conf is
        # needed at SCAN time too (the vectorized reader maps the
        # physical type through it), so it can only be restored when
        # the footer turns out NOT to be nanos — on current testdata
        # (micros) the session conf is left exactly as found instead
        # of being flipped permanently for every later parquet read.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def _r6(col):
    return F.round(col, 6)


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's premium-pipeline shape on the events
    stream — hourly micro-batch rollup per user, trailing WMA, and
    LAG-based change detection, all in one lazy plan."""
    sf_dir = "/root/testdata/sf0.001"
    events = _t(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r6(F.sum("value")).alias("sum_value"),
        )
    )
    wma = with_wma(hourly, "sum_value", 6, ["user_id"], "hour", "wma6_value")
    w = Window.partitionBy("user_id").orderBy("hour")
    return (
        wma.withColumn("prev_wma", F.lag("wma6_value", 3).over(w))
        .withColumn("wma_change", _r6(F.col("wma6_value") - F.col("prev_wma")))
        .withColumn("wma6_value", _r6("wma6_value"))
        .withColumn("prev_wma", _r6("prev_wma"))
    )


# ---------------------------------------------------------------- market operators


def q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: deterministic keep-last dedup (latest event per
    user+type, event_id as tiebreak)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = dedup_keep_last(ev, ["user_id", "event_type"], "__ord")
    return out.select("user_id", "event_type", "ts", "event_id", _r6("value").alias("value"))


def q_window_lag_extreme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/P8: the extreme-cases detector shape on events — offset
    LAG, change filter, then debounce spacing among survivors."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prepared = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.lag("value", 3).over(w).alias("prev_value"),
    ).withColumn("value_change", F.col("value") - F.col("prev_value"))
    extremes = prepared.filter(F.col("value_change") < -300)
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    extremes = extremes.withColumn(
        "ms_since_prev",
        F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts", 1).over(w2)),
    )
    return (
        extremes.filter(
            F.col("ms_since_prev").isNull() | (F.col("ms_since_prev") > 3_600_000)
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            _r6("value").alias("value"),
            _r6("prev_value").alias("prev_value"),
            _r6("value_change").alias("value_change"),
            "ms_since_prev",
        )
    )


def q_window_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: LEAD-based gap detection per user (validate_data shape)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts", 1).over(w)
    gap_min = (F.unix_millis(nxt) - F.unix_millis(F.col("ts"))) / 60000.0
    return (
        ev.select("user_id", F.col("ts").alias("gap_start"), nxt.alias("gap_end"),
                  _r6(gap_min).alias("gap_minutes"))
        .filter(F.col("gap_minutes") > 240)
    )


def q_wma20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: trailing linear-WMA(20) per user over event values."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = with_wma(
        ev.select("user_id", "event_id", "__ord", "ts", "value"),
        "value", 20, ["user_id"], "__ord", "wma20_value",
        exact_decimal="decimal(18,2)",
    )
    return out.select(
        "user_id", "event_id", "ts",
        _r6("value").alias("value"),
        _r6("wma20_value").alias("wma20_value"),
    )


def q_cte_margin_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+J2+A3+U2: the margin-asset derivation shape — per-supplier
    activity range, dim join, distinct, plus appended synthetic row."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    ranges = li.groupBy("l_suppkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    assets = (
        ranges.join(F.broadcast(s), ranges.l_suppkey == s.s_suppkey)
        .filter(~F.col("s_nationkey").isin(0, 1))
        .select(F.col("s_nationkey").alias("nation"), "first_ship", "last_ship")
        .distinct()
    )
    synthetic = assets.agg(
        F.lit(-1).alias("nation"),
        F.min("first_ship").alias("first_ship"),
        F.max("last_ship").alias("last_ship"),
    )
    return assets.unionByName(synthetic)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 generalized: true as-of join — each purchase matched with
    the user's latest prior (or simultaneous) view event."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("v_value")
    )
    out = asof_join(
        purchases, views, on=["user_id"],
        left_time="p_ts", right_time="v_ts", right_values=["v_value"],
    )
    return out.select(
        "user_id", "p_ts",
        _r6("p_value").alias("p_value"),
        F.col("v_ts_right").alias("matched_v_ts"),
        _r6("v_value").alias("v_value"),
    )


# ------------------------------------------------- timed by bench.py only


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    active users per day-offset. Not in ``queries()``: bench.py times
    it, and tests/test_retired_queries.py diff-tests it against
    DuckDB."""
    ev = _t(spark, sf_dir, "events")
    # collapse raw events to each user's distinct-day set first (one
    # shuffle, map-side partial collect_set bounded by calendar days),
    # derive the cohort day from the same set — no join, and the final
    # count is a plain count because (user, day) is already unique
    user_days = ev.groupBy("user_id").agg(
        F.collect_set(F.to_date("ts")).alias("__days")
    )
    return (
        user_days.select(
            F.array_min("__days").alias("cohort_day"),
            F.explode("__days").alias("day"),
        )
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: the order id carrying each priority's extreme
    price (deterministic argmax without a sort). Not in ``queries()``:
    bench.py times it, and tests/test_retired_queries.py diff-tests it
    against DuckDB."""
    o = _t(spark, sf_dir, "orders")
    # argmax as max-of-struct: lexicographic struct ordering carries the
    # key along with the extremum in one partial-agg-friendly pass; the
    # (price, key) / (price, -key) composites make ties deterministic
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max(F.struct("o_totalprice", "o_orderkey")).alias("__mx"),
            F.min(
                F.struct(
                    F.col("o_totalprice"),
                    (-F.col("o_orderkey")).alias("__negkey"),
                    F.col("o_orderkey"),
                )
            ).alias("__mn"),
        )
        .select(
            "o_orderpriority",
            F.col("__mx.o_orderkey").alias("max_price_order"),
            F.col("__mn.o_orderkey").alias("min_price_order"),
            _r6(F.col("__mx.o_totalprice")).alias("max_price"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_keep_last": q_dedup_keep_last,
        "window_lag_extreme": q_window_lag_extreme,
        "window_lead_gaps": q_window_lead_gaps,
        "wma20": q_wma20,
        "cte_margin_shape": q_cte_margin_shape,
        "asof_join": q_asof_join,
    }


# ---------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_keep_last": """
SELECT user_id, event_type, ts, event_id, round(value, 6) AS value
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
""",
        "window_lag_extreme": """
WITH prepared AS (
  SELECT user_id, ts, event_id, value,
         lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
  FROM events
),
extremes AS (
  SELECT *, value - prev_value AS value_change
  FROM prepared WHERE value - prev_value < -300
),
debounced AS (
  SELECT *,
         epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS ms_since_prev
  FROM extremes
)
SELECT user_id, ts, event_id, round(value, 6) AS value,
       round(prev_value, 6) AS prev_value,
       round(value_change, 6) AS value_change, ms_since_prev
FROM debounced
WHERE ms_since_prev IS NULL OR ms_since_prev > 3600000
""",
        "window_lead_gaps": """
SELECT user_id, ts AS gap_start,
       lead(ts, 1) OVER w AS gap_end,
       round((epoch_ms(lead(ts, 1) OVER w) - epoch_ms(ts)) / 60000.0, 6) AS gap_minutes
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY gap_minutes > 240
""",
        "wma20": """
WITH numbered AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_id, ts, round(value, 6) AS value,
       round(CASE WHEN count(value) OVER w = 20 THEN
         ((sum(value::DECIMAL(18,2) * rn) OVER w)::DOUBLE
          - (rn - 20) * (sum(value::DECIMAL(18,2)) OVER w)::DOUBLE) / 210.0
       END, 6) AS wma20_value
FROM numbered
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
        "cte_margin_shape": """
WITH ranges AS (
  SELECT l_suppkey, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_suppkey
),
assets AS (
  SELECT DISTINCT s.s_nationkey AS nation, r.first_ship, r.last_ship
  FROM ranges r INNER JOIN supplier s ON r.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey NOT IN (0, 1)
)
SELECT * FROM assets
UNION ALL
SELECT -1 AS nation, min(first_ship), max(last_ship) FROM assets
""",
        "asof_join": """
WITH purchases AS (
  SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, ts AS v_ts, value AS v_value FROM events WHERE event_type = 'view'
)
SELECT p.user_id, p.p_ts, round(p.p_value, 6) AS p_value,
       v.v_ts AS matched_v_ts, round(v.v_value, 6) AS v_value
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.p_ts >= v.v_ts
""",
    }
