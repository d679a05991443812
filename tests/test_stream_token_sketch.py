"""Streaming Count-Min maintenance: per-batch sketches PK-upserted
into per-batch date partitions so retries replace (not double-count)
and each tick rewrites one partition; stored state carries the
checkpoint's query id so a NEW checkpoint (whose source replays
everything) rebuilds instead of folding two lineages together."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.streaming import (
    batch_token_sketch,
    compact_corpus_sketch,
    read_corpus_sketch,
    stream_token_sketch,
)
from trainingdata_spark.textops.sketch import cms_build, cms_estimate
from binancedatapipeline_spark.warehouse import Warehouse

SKETCH_SPEC = TableSpec(
    name="tok_sketch",
    primary_keys=("batch_ds", "batch_id", "row", "bucket"),
    schema=T.StructType([
        T.StructField("batch_ds", T.DateType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("stream_id", T.StringType()),
    ]),
    kind="fact",
    partition_date_source="batch_ds",
)

CHUNKS = [
    [(1, "alpha beta alpha gamma"), (2, "beta beta delta")],
    [(3, "alpha epsilon"), (4, "gamma gamma gamma zeta")],
    [(5, "delta alpha beta")],
]


def _stage_chunks(spark, stage, chunks, schema="doc_id long, text string"):
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        time.sleep(1.05)  # distinct mtimes: FileStreamSource orders by timestamp


def _run_stream(spark, stage, wh, ckpt, depth=4, width=2048, seen=None):
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_token_sketch(
        stream, wh, SKETCH_SPEC,
        checkpoint_dir=ckpt,
        depth=depth, width=width,
        on_batch=(lambda bid, n: seen.append((bid, n))) if seen is not None else None,
    )
    assert q.awaitTermination(300), "stream did not finish"
    return q


def test_folded_stream_sketch_equals_batch_build(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, CHUNKS)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    seen = []
    _run_stream(spark, stage, wh, str(tmp_path / "ckpt"), seen=seen)
    assert len(seen) == 3
    folded = read_corpus_sketch(wh, SKETCH_SPEC)

    all_rows = [r for rows in CHUNKS for r in rows]
    corpus = spark.createDataFrame(all_rows, "doc_id long, text string")
    toks = corpus.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    batch = cms_build(toks, "tok", depth=4, width=2048)

    got = {(r.row, r.bucket): r.cnt for r in folded.collect()}
    exp = {(r.row, r.bucket): r.cnt for r in batch.collect()}
    assert got == exp

    # and the folded relation is a first-class sketch: exact estimates
    keys = spark.createDataFrame([("alpha",), ("gamma",), ("zeta",)], "tok string")
    est = {r.tok: r.est for r in cms_estimate(folded, keys, "tok").collect()}
    assert est == {"alpha": 4, "gamma": 4, "zeta": 1}

    # per-batch date partitioning is live: one ds directory per batch
    parts = wh.partition_files(SKETCH_SPEC.name)
    assert sorted(parts) == ["1970-01-01", "1970-01-02", "1970-01-03"]


def test_batch_replay_replaces_not_doubles(spark, tmp_path):
    """The foreachBatch retry contract: re-upserting a batch's sketch
    under the same batch_id must leave the fold unchanged."""
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, CHUNKS)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run_stream(spark, stage, wh, str(tmp_path / "ckpt"))
    before = {(r.row, r.bucket): r.cnt
              for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}

    # replay batch 0 exactly as the handler would
    sid = wh.read(SKETCH_SPEC).select("stream_id").limit(1).collect()[0][0]
    sk0 = batch_token_sketch(
        spark.createDataFrame(CHUNKS[0], "doc_id long, text string"),
        batch_id=0, stream_id=sid, depth=4, width=2048,
    )
    wh.upsert(SKETCH_SPEC, sk0)

    after = {(r.row, r.bucket): r.cnt
             for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}
    assert after == before


def test_new_checkpoint_rebuilds_instead_of_mixing(spark, tmp_path):
    """A fresh checkpoint re-reads the whole source with batch ids
    restarting at 0. Folding those beside the old lineage's batches
    would double-count; the stored stream_id triggers a rebuild, so
    the final fold equals a single clean run."""
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, CHUNKS)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run_stream(spark, stage, wh, str(tmp_path / "ckptA"))
    once = {(r.row, r.bucket): r.cnt
            for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}

    # same table, brand-new checkpoint: source replays all 3 files
    _run_stream(spark, stage, wh, str(tmp_path / "ckptB"))
    again = {(r.row, r.bucket): r.cnt
             for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}
    assert again == once  # rebuilt, not doubled or mixed


def test_compaction_preserves_counts_and_allows_more_batches(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, CHUNKS[:2])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run_stream(spark, stage, wh, str(tmp_path / "ckpt"))
    before = {(r.row, r.bucket): r.cnt
              for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}

    compact_corpus_sketch(wh, SKETCH_SPEC)  # stream is stopped: safe
    stored = wh.read(SKETCH_SPEC)
    assert stored.select("batch_id").distinct().collect()[0][0] == -1
    mid = {(r.row, r.bucket): r.cnt
           for r in read_corpus_sketch(wh, SKETCH_SPEC).collect()}
    assert mid == before  # fold is exactly preserved

    # later batches keep accruing beside the compacted base
    sid = stored.select("stream_id").limit(1).collect()[0][0]
    sk2 = batch_token_sketch(
        spark.createDataFrame(CHUNKS[2], "doc_id long, text string"),
        batch_id=2, stream_id=sid, depth=4, width=2048,
    )
    wh.upsert(SKETCH_SPEC, sk2)
    keys = spark.createDataFrame([("alpha",), ("delta",)], "tok string")
    folded = read_corpus_sketch(wh, SKETCH_SPEC)
    est = {r.tok: r.est for r in cms_estimate(folded, keys, "tok").collect()}
    assert est == {"alpha": 4, "delta": 2}


def test_geometry_guard_refuses_mismatched_state(spark, tmp_path):
    """Stored cells in one hash geometry + a restart configured with
    another must fail loudly, not fold garbage. (Same checkpoint, so
    the stream_id matches and rebuild does NOT kick in.)"""
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, CHUNKS[:1])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run_stream(spark, stage, wh, str(tmp_path / "ckpt"), depth=4, width=2048)

    # more input, SAME checkpoint, different geometry
    spark.createDataFrame([(9, "omega")], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(stage)
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_token_sketch(
        stream, wh, SKETCH_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        depth=5, width=4096,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    try:
        q.awaitTermination(300)
        exc = q.exception()
        assert exc is not None and "geometry" in str(exc)
    except StreamingQueryException as e:
        assert "geometry" in str(e)


# ------------------------------------------------------- HLL streaming

from trainingdata_spark.streaming import stream_distinct_sketch  # noqa: E402
from trainingdata_spark.textops.sketch import hll_build, hll_estimate, hll_merge  # noqa: E402

HLL_SPEC = TableSpec(
    name="user_hll",
    primary_keys=("day",),
    schema=T.StructType([
        T.StructField("day", T.StringType()),
        T.StructField("hll", T.BinaryType()),
    ]),
    kind="fact",
)

EVENTS = [
    [("d1", "u1"), ("d1", "u2"), ("d2", "u1")],
    [("d1", "u2"), ("d1", "u3"), ("d2", "u9")],
    [("d2", "u1"), ("d2", "u7")],
]


def _run_hll_stream(spark, stage, wh, ckpt):
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_distinct_sketch(
        stream, wh, HLL_SPEC,
        checkpoint_dir=ckpt,
        key_col="user", group_cols=("day",),
    )
    assert q.awaitTermination(300), "stream did not finish"


def test_stream_hll_counts_and_full_replay_idempotence(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, EVENTS, schema="day string, user string")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run_hll_stream(spark, stage, wh, str(tmp_path / "ckptA"))
    est = {r.day: r.n_distinct
           for r in hll_estimate(wh.read(HLL_SPEC), ("day",)).collect()}
    # d1 saw u1,u2,u3; d2 saw u1,u9,u7 — tiny sets: HLL is exact here
    assert est == {"d1": 3, "d2": 3}

    # the SET-semantics payoff: a whole re-ingest from a fresh
    # checkpoint (every batch re-merged into existing state) changes
    # nothing — no lineage machinery needed, unlike the token sketch
    _run_hll_stream(spark, stage, wh, str(tmp_path / "ckptB"))
    est2 = {r.day: r.n_distinct
            for r in hll_estimate(wh.read(HLL_SPEC), ("day",)).collect()}
    assert est2 == est

    # single-batch retry: same story
    sk0 = hll_build(
        spark.createDataFrame(EVENTS[0], "day string, user string"),
        "user", group_cols=("day",),
    )
    merged = hll_merge(wh.read(HLL_SPEC), sk0, group_cols=("day",))
    wh.overwrite(HLL_SPEC, merged)
    est3 = {r.day: r.n_distinct
            for r in hll_estimate(wh.read(HLL_SPEC), ("day",)).collect()}
    assert est3 == est


# ------------------------------------------------------ histogram streaming

from trainingdata_spark.streaming import (  # noqa: E402
    read_corpus_hist,
    stream_hist_sketch,
)
from trainingdata_spark.textops.sketch import hist_build, hist_quantile  # noqa: E402

HIST_SPEC = TableSpec(
    name="len_hist",
    primary_keys=("batch_ds", "batch_id", "bin"),
    schema=T.StructType([
        T.StructField("batch_ds", T.DateType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("lo", T.DoubleType()),
        T.StructField("hi", T.DoubleType()),
        T.StructField("bins", T.IntegerType()),
        T.StructField("stream_id", T.StringType()),
    ]),
    kind="fact",
    partition_date_source="batch_ds",
)

VALS = [
    [(1, 3.0), (2, 7.5), (3, 42.0)],
    [(4, 15.0), (5, 7.5), (6, -2.0)],   # -2 -> underflow bin
    [(7, 99.0), (8, 250.0)],            # 250 -> overflow bin
]


def test_stream_hist_fold_equals_batch_build_and_quantiles(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, VALS, schema="id long, v double")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_hist_sketch(
        stream, wh, HIST_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="v", lo=0.0, hi=100.0, bins=20,
    )
    assert q.awaitTermination(300), "stream did not finish"

    folded = read_corpus_hist(wh, HIST_SPEC)
    all_vals = spark.createDataFrame(
        [r for rows in VALS for r in rows], "id long, v double"
    )
    batch = hist_build(all_vals, "v", 0.0, 100.0, 20)
    got = {r.bin: r.cnt for r in folded.collect()}
    exp = {r.bin: r.cnt for r in batch.collect()}
    assert got == exp
    # the fold is a first-class histogram: quantiles answer off it
    est = hist_quantile(folded, 0.5).collect()[0].q_est
    assert 0.0 <= est <= 100.0

    # per-batch partition layout
    parts = wh.partition_files(HIST_SPEC.name)
    assert sorted(parts) == ["1970-01-01", "1970-01-02", "1970-01-03"]


def test_stream_hist_edge_guard(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, VALS[:1], schema="id long, v double")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_hist_sketch(
        stream, wh, HIST_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="v", lo=0.0, hi=100.0, bins=20,
    )
    assert q.awaitTermination(300)

    spark.createDataFrame([(9, 1.0)], "id long, v double").coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q2 = stream_hist_sketch(
        stream2, wh, HIST_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="v", lo=0.0, hi=50.0, bins=20,  # different edges, same ckpt
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    try:
        q2.awaitTermination(300)
        exc = q2.exception()
        assert exc is not None and "bin edges" in str(exc)
    except StreamingQueryException as e:
        assert "bin edges" in str(e)


def test_stream_hist_replay_and_rebuild(spark, tmp_path):
    """The counting-state discipline holds for the histogram job too
    (structurally — both jobs share _stream_counting_state — but
    pinned here in its own right): replaying a batch's cells under
    its batch id leaves the fold unchanged, and a fresh checkpoint
    re-ingesting the same source rebuilds rather than double-counts."""
    from trainingdata_spark.streaming import _with_batch_cols
    from trainingdata_spark.textops.sketch import hist_build as _hb

    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, VALS, schema="id long, v double")
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = stream_hist_sketch(
            stream, wh, HIST_SPEC,
            checkpoint_dir=ckpt, value_col="v", lo=0.0, hi=100.0, bins=20,
        )
        assert q.awaitTermination(300)

    run(str(tmp_path / "ckptA"))
    once = {r.bin: r.cnt for r in read_corpus_hist(wh, HIST_SPEC).collect()}

    # batch-0 replay exactly as the handler would write it
    sid = wh.read(HIST_SPEC).select("stream_id").limit(1).collect()[0][0]
    sk0 = _with_batch_cols(
        _hb(spark.createDataFrame(VALS[0], "id long, v double"), "v", 0.0, 100.0, 20),
        0, sid,
    )
    wh.upsert(HIST_SPEC, sk0)
    assert {r.bin: r.cnt for r in read_corpus_hist(wh, HIST_SPEC).collect()} == once

    # fresh checkpoint over the same source: rebuilt, not doubled
    run(str(tmp_path / "ckptB"))
    assert {r.bin: r.cnt for r in read_corpus_hist(wh, HIST_SPEC).collect()} == once


def test_compact_corpus_hist_preserves_counts(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage_chunks(spark, stage, VALS, schema="id long, v double")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_hist_sketch(
        stream, wh, HIST_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_col="v", lo=0.0, hi=100.0, bins=20,
    )
    assert q.awaitTermination(300)
    before = {r.bin: r.cnt for r in read_corpus_hist(wh, HIST_SPEC).collect()}

    from trainingdata_spark.streaming import compact_corpus_hist

    compact_corpus_hist(wh, HIST_SPEC)  # stream stopped: safe
    stored = wh.read(HIST_SPEC)
    assert stored.select("batch_id").distinct().collect()[0][0] == -1
    assert {r.bin: r.cnt for r in read_corpus_hist(wh, HIST_SPEC).collect()} == before
    # the compacted fold still answers quantiles
    est = hist_quantile(read_corpus_hist(wh, HIST_SPEC), 0.5).collect()[0].q_est
    assert 0.0 <= est <= 100.0
