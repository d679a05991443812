"""SparkSession factory.

The reference pipeline stores timezone-naive-but-UTC timestamps
everywhere (crypto_data_pipeline_duckdb.py:908, 1616) — one wrong
session timezone would shift every join key, so the session is pinned
to UTC. Arrow is enabled for the pandas-kernel slow path, AQE for
runtime re-planning (skew joins, partition coalescing) on a real
cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores (and shuffle partitions): ``$SPARK_GRAFT_CPUS`` when
    set, else every core of the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else half of
    the host's physical memory, so the JVM never asks for more than
    the machine has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


def get_session(
    app_name: str = "binancedatapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return) the configured SparkSession.

    Defaults fit the host: ``local[<cores>]``, one shuffle partition
    per core, half the physical memory for the driver. AQE is on
    (runtime skew-join splitting and post-shuffle coalescing), the
    session timezone is UTC, and pandas kernels use Arrow transfers.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # store tz-naive-UTC; read parquet TIMESTAMP(isAdjustedToUTC=false)
        # as TimestampType (not NTZ) so event-time ops (watermarks) work —
        # with the session pinned to UTC the semantics are identical
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (Spark's legacy default) writes NO min/max statistics,
        # so timestamp filters can't skip row groups and the warehouse
        # manifest can't record file-level time bounds. TIMESTAMP_MICROS
        # is the modern annotated-INT64 form: footer stats appear, row-
        # group skipping works, and every engine (Spark/DuckDB/pyarrow)
        # reads it natively.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
