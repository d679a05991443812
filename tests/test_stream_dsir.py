"""Incremental DSIR fit (round 8): per-batch hashed-n-gram
conditional counts under the counting-state discipline — the streamed
fold must equal the one-shot batch fit exactly, survive compaction,
and feed score_importance identically."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.streaming import (
    compact_dsir_distribution,
    dsir_log_ratio_from_state,
    read_dsir_distribution,
    stream_dsir_fit,
)
from trainingdata_spark.textops import dsir
from binancedatapipeline_spark.warehouse import Warehouse

DIST_SPEC = TableSpec(
    name="dsir_dist",
    primary_keys=("batch_ds", "batch_id", "bucket"),
    schema=T.StructType([
        T.StructField("batch_ds", T.DateType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("r_n", T.LongType()),
        T.StructField("t_n", T.LongType()),
        T.StructField("buckets", T.IntegerType()),
        T.StructField("n_max", T.IntegerType()),
        T.StructField("stream_id", T.StringType()),
    ]),
    kind="fact",
    partition_date_source="batch_ds",
)

CHUNKS = [
    [(1, "alpha beta alpha gamma", True), (2, "beta beta delta", False)],
    [(3, "alpha epsilon", True), (4, "gamma gamma zeta", False)],
    [(5, "delta alpha beta", False)],
]
SCHEMA = "doc_id long, text string, is_target boolean"


def _stage(spark, stage):
    for rows in CHUNKS:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        time.sleep(1.05)  # distinct mtimes: FileStreamSource orders by ts


def _run(spark, stage, wh, ckpt):
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_dsir_fit(
        stream, wh, DIST_SPEC, ckpt, F.col("is_target"),
        buckets=256, n_max=2, available_now=True,
    )
    q.awaitTermination(120)


def test_streamed_fit_equals_batch_fit_and_survives_compaction(spark, tmp_path):
    stage = str(tmp_path / "in")
    _stage(spark, stage)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _run(spark, stage, wh, str(tmp_path / "c1"))

    docs = spark.read.parquet(stage)
    # the streamed fold == the one-shot conditional counts
    batch_lr, batch_default = dsir.fit_log_ratio(
        docs, F.col("is_target"), buckets=256
    )
    got_lr, got_default = dsir_log_ratio_from_state(wh, DIST_SPEC)
    assert abs(got_default - batch_default) < 1e-12
    a = dict(got_lr)  # driver pairs, same contract as fit_log_ratio
    b = dict(batch_lr)
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)

    # replaying the same data under the SAME checkpoint adds nothing
    _run(spark, stage, wh, str(tmp_path / "c1"))
    folded = {
        r["bucket"]: (r["r_n"], r["t_n"])
        for r in read_dsir_distribution(wh, DIST_SPEC).collect()
    }
    assert sum(v[0] for v in folded.values()) == sum(
        1 for _ in _all_grams(docs)
    )

    # compaction preserves counts exactly; scores built on the state
    # before/after agree with the batch fit
    compact_dsir_distribution(wh, DIST_SPEC)
    folded2 = {
        r["bucket"]: (r["r_n"], r["t_n"])
        for r in read_dsir_distribution(wh, DIST_SPEC).collect()
    }
    assert folded2 == folded
    lr2, d2 = dsir_log_ratio_from_state(wh, DIST_SPEC)
    s_batch = dsir.score_importance(docs, batch_lr, batch_default, buckets=256)
    s_state = dsir.score_importance(docs, lr2, d2, buckets=256)
    va = {r["doc_id"]: r["dsir_logw"] for r in s_batch.collect()}
    vb = {r["doc_id"]: r["dsir_logw"] for r in s_state.collect()}
    assert all(abs(va[k] - vb[k]) < 1e-9 for k in va)

    # a FRESH checkpoint (source replays everything) rebuilds rather
    # than folding two lineages together
    _run(spark, stage, wh, str(tmp_path / "c2"))
    folded3 = {
        r["bucket"]: (r["r_n"], r["t_n"])
        for r in read_dsir_distribution(wh, DIST_SPEC).collect()
    }
    assert folded3 == folded


def _all_grams(docs):
    rows = docs.select("text").collect()
    for r in rows:
        toks = r["text"].split()
        for t in toks:
            yield t
        if len(toks) >= 2:
            for i in range(len(toks) - 1):
                yield (toks[i], toks[i + 1])
        else:
            yield tuple(toks)  # degenerate bigram of a short doc
