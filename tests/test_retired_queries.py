"""Queries outside both registries stay verified here, verbatim
against DuckDB: the ones rotated out of the entry registry over time
(now in retired_queries.py) and the two __spark_entry__ queries that
bench.py still times (cohort_retention, arg_max)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
import retired_queries as retired

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("supplier", "lineitem", "documents", "events", "orders"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_retired_word_count_matches_duckdb(spark, con):
    got = _rows(retired.q_word_count(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                "SELECT tok AS token, count(*) AS n FROM (SELECT unnest("
                "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
                ") AS tok FROM documents) GROUP BY tok ORDER BY n DESC, tok LIMIT 20"
            ).fetchall(),
        )
    )
    assert got == exp and len(got) == 20


def test_retired_semi_join_matches_duckdb(spark, con):
    got = _rows(retired.q_semi_join(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                "SELECT s_suppkey, s_name, s_nationkey FROM supplier s "
                "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE "
                "l.l_suppkey = s.s_suppkey AND "
                "l.l_shipdate >= TIMESTAMP '2001-01-01')"
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_doc_rolling_fp_matches_duckdb(spark, con):
    # retired in round 8 (rotation for dsir_scores); oracle SQL kept
    # verbatim from the round-7 registry
    got = _rows(retired.q_doc_rolling_fp(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS nt
  FROM documents
)
SELECT doc_id,
       list_min(list_transform(range(1, greatest(length(nt) - 7, 1) + 1),
                i -> ('0x' || substr(md5(nt[i:i+7]), 1, 14))::BIGINT)) AS rolling_fp
FROM n
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_approx_distinct_matches_duckdb(spark, con):
    # retired in round 8 (rotation for sq8_topk); oracle SQL kept
    # verbatim from the round-7 registry. The full checkable contract
    # runs (no SPARK_GRAFT_SKETCH_ONLY): exact counts hash-verified,
    # sketch-within-5% boolean asserted TRUE
    got = _rows(retired.q_approx_distinct(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                "SELECT event_type, count(DISTINCT user_id) AS n_users_exact, "
                "count(*) AS n_events, TRUE AS approx_within_5pct "
                "FROM events GROUP BY event_type"
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_doc_rep_map_matches_duckdb(spark, con):
    # retired in round 8 (rotation for hist_quantiles); oracle SQL
    # kept verbatim from the round-8 registry
    got = _rows(retired.q_doc_rep_map(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT doc_id,
       CASE WHEN text IS NULL THEN doc_id
            ELSE min(doc_id) OVER (PARTITION BY md5(text)) END AS rep_id
FROM documents
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_scalar_datemath_matches_duckdb(spark, con):
    # retired in round 9 (rotation for doc_langid); oracle SQL kept
    # verbatim from the round-8 registry. Every conversion it gates
    # stays oracle-verified through still-registered queries (interval
    # arithmetic via join_theta, date_trunc via events_hourly_rollup,
    # date difference via window_lag_extreme)
    got = _rows(retired.q_scalar_datemath(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT event_id,
       epoch_ms(ts) AS ts_ms,
       ts + INTERVAL 5 DAY AS ts_plus5d,
       date_trunc('hour', ts) AS ts_hour,
       ts + INTERVAL 8 HOUR AS ts_cn
FROM events
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_pivot_matches_duckdb(spark, con):
    # retired in round 9 (rotation for blocklist_domains); oracle SQL
    # kept verbatim from the round-8 registry. The case-when aggregate
    # machinery stays oracle-gated through conditional_agg
    got = _rows(retired.q_pivot(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT l_returnflag,
       sum(l_quantity) FILTER (l_linestatus = 'F') AS qty_f,
       sum(l_quantity) FILTER (l_linestatus = 'O') AS qty_o
FROM lineitem GROUP BY l_returnflag
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_groupby_having_matches_duckdb(spark, con):
    # retired in round 10 (rotation for host_pagerank); oracle SQL
    # kept verbatim from the round-9 registry. The aggregate-then-
    # filter machinery stays oracle-gated through conditional_agg and
    # cte_margin_shape
    got = _rows(retired.q_groupby_having(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT user_id, event_type, count(*) AS n,
       round((sum(value::DECIMAL(18,2)))::DOUBLE / count(*), 6) AS avg_value
FROM events GROUP BY user_id, event_type HAVING count(*) >= 10
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_cohort_retention_matches_duckdb(spark, con):
    # retired in round 12 (50-slot restoration after the interrupted
    # build round grew the registry to 52 and pushed the last two
    # entries out of the driver's verification window); oracle SQL
    # kept verbatim from the round-11 registry. The collect_set/
    # explode/datediff aggregate machinery stays oracle-gated through
    # funnel and sessionize
    got = _rows(entry_mod.q_cohort_retention(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
WITH fd AS (
  SELECT user_id, min(ts)::DATE AS cohort_day FROM events GROUP BY user_id
)
SELECT fd.cohort_day, datediff('day', fd.cohort_day, e.ts::DATE) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN fd ON e.user_id = fd.user_id
GROUP BY 1, 2
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0


def test_retired_arg_max_matches_duckdb(spark, con):
    # retired in round 12 (same 50-slot restoration); oracle SQL kept
    # verbatim from the round-11 registry. The lexicographic-struct
    # extremum machinery stays oracle-gated through topk_per_group
    # and funnel's array mins
    got = _rows(entry_mod.q_arg_max(spark, SF))
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey DESC) AS rmin
  FROM orders
)
SELECT o_orderpriority,
       max(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_price_order,
       max(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_price_order,
       round(max(o_totalprice), 6) AS max_price
FROM r GROUP BY o_orderpriority
"""
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0
