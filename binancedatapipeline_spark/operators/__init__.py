"""Custom operators the reference needs that are not single Spark calls.

Each is a thin, tested composition of DataFrame primitives — no RDDs,
no Catalyst extensions. See individual modules for the reference
behavior each one reproduces.
"""

from binancedatapipeline_spark.operators.dedup import dedup_keep_first, dedup_keep_last
from binancedatapipeline_spark.operators.gaps import find_time_gaps
from binancedatapipeline_spark.operators.upsert import upsert
from binancedatapipeline_spark.operators.wma import with_wma
from binancedatapipeline_spark.operators.asof import asof_join

__all__ = [
    "dedup_keep_first",
    "dedup_keep_last",
    "find_time_gaps",
    "upsert",
    "with_wma",
    "asof_join",
]
