"""Storage-layout operators: compaction shrinks file counts without
losing rows; sorted writes produce disjoint per-file key ranges that
parquet min/max pruning can use."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trainingdata_spark.operators.layout import (
    compact_small_files,
    input_bytes,
    sorted_write,
    target_partitions,
)


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def test_target_partitions_math():
    assert target_partitions(0) == 1
    assert target_partitions(256 * 1024 * 1024) == 1
    assert target_partitions(256 * 1024 * 1024 + 1) == 2
    assert target_partitions(10 * 1024 * 1024, target_mb=1) == 10


def test_compact_shrinks_file_count(spark, tmp_path):
    src, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(0, 20_000).withColumn("v", F.rand(seed=7))
    df.repartition(64).write.parquet(src)  # fragmented: 64 tiny files
    assert len(_files(src)) == 64
    n = compact_small_files(spark, src, dest, target_mb=256)
    assert n == 1
    assert len(_files(dest)) == 1
    got = spark.read.parquet(dest)
    assert got.count() == 20_000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(20_000))


def test_compact_partitioned_layout(spark, tmp_path):
    src, dest = str(tmp_path / "frag_p"), str(tmp_path / "compact_p")
    df = (
        spark.range(0, 10_000)
        .withColumn("dt", (F.col("id") % 4).cast("string"))
        .withColumn("v", F.rand(seed=7))
    )
    df.repartition(32).write.parquet(src)
    compact_small_files(spark, src, dest, target_mb=256, partition_by=("dt",))
    # one file per hive partition directory
    for d in range(4):
        part_files = _files(os.path.join(dest, f"dt={d}"))
        assert len(part_files) == 1, f"dt={d}: {part_files}"
    assert spark.read.parquet(dest).count() == 10_000


def test_input_bytes_matches_fs(spark, tmp_path):
    src = str(tmp_path / "sized")
    spark.range(0, 1000).write.parquet(src)
    expected = sum(
        os.path.getsize(f) for f in _files(src)
    )
    assert input_bytes(spark, spark.read.parquet(src)) == expected


def test_sorted_write_disjoint_key_ranges(spark, tmp_path):
    dest = str(tmp_path / "clustered")
    df = (
        spark.range(0, 50_000)
        .withColumn("key", F.xxhash64("id") % 1000)  # unordered key
        .withColumn("v", F.rand(seed=7))
    )
    sorted_write(df, dest, sort_cols=("key",), n_files=8)
    files = _files(dest)
    assert len(files) == 8
    # footer min/max per file must be pairwise disjoint ranges
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # 'key'
            assert col.path_in_schema == "key"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file key ranges: {ranges}"
    # and the table is intact
    assert spark.read.parquet(dest).count() == 50_000


def test_sorted_write_prunes_row_groups(spark, tmp_path):
    """The payoff: a point-range filter on the cluster key reads a
    fraction of the files (verified via footer stats the way a scan
    planner would)."""
    dest = str(tmp_path / "pruned")
    df = spark.range(0, 50_000).withColumn("key", F.xxhash64("id") % 1000)
    sorted_write(df, dest, sort_cols=("key",), n_files=10)
    lo, hi = -50, 50  # ~10% of the key domain
    touched = 0
    for f in _files(dest):
        md = pq.ParquetFile(f).metadata
        col = md.row_group(0).column(1)
        fmin = min(
            md.row_group(rg).column(1).statistics.min
            for rg in range(md.num_row_groups)
        )
        fmax = max(
            md.row_group(rg).column(1).statistics.max
            for rg in range(md.num_row_groups)
        )
        if fmax >= lo and fmin <= hi:
            touched += 1
    assert touched <= 2  # 10 files, disjoint ranges: at most 2 overlap
    # correctness of the filtered read itself
    got = spark.read.parquet(dest).filter(F.col("key").between(lo, hi)).count()
    exp = df.filter(F.col("key").between(lo, hi)).count()
    assert got == exp


def _file_box(path: str, col_idx: dict[str, int]):
    md = pq.ParquetFile(path).metadata
    box = {}
    for name, idx in col_idx.items():
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        box[name] = (min(mins), max(maxs))
    return box


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: a selective filter on EITHER column must prune
    most files via footer stats — a single-key sort can only do this
    for its prefix column."""
    n, files = 100_000, 16
    df = (
        spark.range(0, n)
        .withColumn("x", (F.xxhash64("id") % 1000 + 1000) % 1000)
        .withColumn("y", (F.xxhash64("id", F.lit(1)) % 1000 + 1000) % 1000)
        .withColumn("v", F.rand(seed=3))
    )
    from trainingdata_spark.operators.layout import zorder_write

    zdest = str(tmp_path / "zorder")
    zorder_write(df, zdest, cols=("x", "y"), n_files=files)
    zfiles = _files(zdest)
    assert len(zfiles) == files
    # schema: id, x, y, v -> column indexes 1 and 2
    idx = {"x": 1, "y": 2}

    def touched(fs, col, lo, hi):
        k = 0
        for f in fs:
            fmin, fmax = _file_box(f, idx)[col]
            if fmax >= lo and fmin <= hi:
                k += 1
        return k

    # ~10%-of-domain band on each dimension independently
    tx = touched(zfiles, "x", 0, 99)
    ty = touched(zfiles, "y", 0, 99)
    assert tx <= files // 2, f"x-band touched {tx}/{files}"
    assert ty <= files // 2, f"y-band touched {ty}/{files}"

    # contrast: x-sorted layout prunes x hard but cannot prune y
    sdest = str(tmp_path / "xsorted")
    sorted_write(df, sdest, sort_cols=("x",), n_files=files)
    sfiles = _files(sdest)
    assert touched(sfiles, "x", 0, 99) <= 3
    assert touched(sfiles, "y", 0, 99) == files  # no y locality at all
    assert tx + ty < touched(sfiles, "x", 0, 99) + touched(sfiles, "y", 0, 99)

    # content intact
    assert spark.read.parquet(zdest).count() == n


def test_zorder_key_equidepth_on_skew(spark):
    """Quantile bucketing: a heavily skewed column still spreads over
    the rank range (equi-width would collapse it)."""
    from trainingdata_spark.operators.layout import zorder_key

    df = spark.range(0, 10_000).withColumn(
        "skew", F.when(F.col("id") % 100 == 0, F.col("id") * 1000.0).otherwise(
            (F.col("id") % 50).cast("double")
        )
    ).withColumn("u", F.col("id").cast("double"))
    keyed = zorder_key(df, ("skew", "u"), bits=4)
    n_distinct = keyed.select("__z").distinct().count()
    assert n_distinct >= 64  # 8-bit z-space meaningfully populated
