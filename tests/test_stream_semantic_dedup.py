"""Streaming semantic dedup: micro-batches of vectors probe the
warehouse-stored cell-partitioned state — cross-batch near-dups
suppressed, replays idempotent."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.similarity import train_ivf_centroids
from trainingdata_spark.streaming import stream_semantic_dedup
from binancedatapipeline_spark.warehouse import Warehouse

DIM = 16

VECS_SPEC = TableSpec(
    name="vec_store",
    primary_keys=("vec_id",),
    schema=T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("cell", T.IntegerType()),
    ]),
    kind="fact",
)


def _vec(seed):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(DIM)
    return (v / np.linalg.norm(v)).tolist()


def _perturb(v, seed, eps=0.01):
    rng = np.random.default_rng(seed)
    out = np.array(v) + rng.standard_normal(DIM) * eps
    return (out / np.linalg.norm(out)).tolist()


def test_cross_batch_semantic_dedup(spark, tmp_path):
    v1, v2, v3 = _vec(1), _vec(2), _vec(3)
    chunks = [
        [(1, v1), (2, v2)],                       # batch 1: both novel
        [(10, _perturb(v1, 7)), (11, v3)],        # 10 dups batch-1's v1
        [(20, _perturb(v3, 8)), (21, _perturb(v2, 9))],  # both dup history
    ]
    stage = str(tmp_path / "in")
    schema = "vec_id long, embedding array<float>"
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(stage)
        time.sleep(1.05)

    # centroids trained once on the first chunk (frozen cell model)
    cent = train_ivf_centroids(
        spark.createDataFrame(chunks[0], schema), n_cells=2, sample_rows=10
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init_table(VECS_SPEC)
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    seen = []
    q = stream_semantic_dedup(
        stream, wh, VECS_SPEC, cent,
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.98,
        on_batch=lambda bid, n: seen.append(n),
    )
    q.awaitTermination(120)

    stored = wh.read(VECS_SPEC)
    ids = sorted(r["vec_id"] for r in stored.collect())
    assert ids == [1, 2, 11]      # near-dups 10, 20, 21 suppressed
    assert seen == [2, 1, 0]
    assert stored.filter(stored.cell.isNull()).count() == 0

    # replay with a fresh checkpoint: warehouse state unchanged
    stream2 = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q2 = stream_semantic_dedup(
        stream2, wh, VECS_SPEC, cent,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        threshold=0.98,
    )
    q2.awaitTermination(120)
    assert sorted(r["vec_id"] for r in wh.read(VECS_SPEC).collect()) == [1, 2, 11]


def test_spec_without_cell_column_rejected(spark, tmp_path):
    import pytest

    bad = TableSpec(
        name="bad_vecs",
        primary_keys=("vec_id",),
        schema=T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
        kind="fact",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="cell"):
        stream_semantic_dedup(stream, wh, bad, None, str(tmp_path / "ck"))
