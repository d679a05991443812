"""Incremental semantic dedup: vector batches probe the stored
cell-partitioned state — semantics mirror the text path's
incremental_near_dedup (history anchoring, stale-state exclusion,
exact-collapse, chain-through-dropped-batchmate)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from trainingdata_spark.similarity import (
    incremental_semantic_dedup,
    train_ivf_centroids,
    with_ivf_cell,
)

DIM = 16


def _vec(seed, scale=1.0):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(DIM) * scale
    return v / np.linalg.norm(v)


def _perturb(v, eps, seed):
    rng = np.random.default_rng(seed)
    out = np.array(v) + rng.standard_normal(DIM) * eps
    return out / np.linalg.norm(out)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _setup(spark):
    base = [(1, _vec(1)), (2, _vec(2)), (3, _vec(3)), (4, _vec(4))]
    stored = _df(spark, base)
    cent = train_ivf_centroids(stored, n_cells=2, sample_rows=10)
    stored_c = with_ivf_cell(stored, cent, "embedding", "cell")
    return base, stored_c, cent


def test_batch_dedups_against_history_and_within(spark):
    base, stored, cent = _setup(spark)
    v1 = dict(base)[1]
    novel = _vec(99)
    batch = _df(spark, [
        (10, _perturb(v1, 0.01, 7)),     # near-dup of stored 1 -> dropped
        (11, novel),                      # novel -> kept
        (12, _perturb(novel, 0.01, 8)),  # near-dup of batch-mate 11 -> dropped
        (13, _vec(77)),                   # novel -> kept
    ])
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    ids = sorted(r["vec_id"] for r in kept.collect())
    assert ids == [11, 13]
    assert "cell" in kept.columns  # ready to append to the store


def test_exact_twin_batch_stays_o_groups_and_keeps_min(spark):
    base, stored, cent = _setup(spark)
    twin = _vec(55)
    batch = _df(spark, [(i, twin) for i in range(100, 400)])
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    assert [r["vec_id"] for r in kept.collect()] == [100]


def test_replay_is_idempotent_via_stored_anchor(spark):
    base, stored, cent = _setup(spark)
    novel = _vec(42)
    batch = _df(spark, [(20, novel), (21, _perturb(novel, 0.01, 3))])
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    assert [r["vec_id"] for r in kept.collect()] == [20]
    # append survivor, replay the same batch: 20's unchanged stored
    # copy anchors the component -> nothing new selected
    stored2 = stored.unionByName(kept.select(*stored.columns))
    kept2 = incremental_semantic_dedup(batch, stored2, cent, threshold=0.98)
    assert kept2.count() == 0


def test_changed_reingest_stale_state_excluded(spark):
    base, stored, cent = _setup(spark)
    v1 = dict(base)[1]
    batch = _df(spark, [
        (1, _vec(500)),                 # id 1 re-ingested, CHANGED embedding
        (30, _perturb(v1, 0.01, 9)),    # near-dup of id 1's OLD embedding only
    ])
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    ids = sorted(r["vec_id"] for r in kept.collect())
    # 30 must survive (its only match is retired state); 1's new
    # embedding is novel and survives too
    assert ids == [1, 30]


def test_changed_reingest_still_deduped_against_others(spark):
    base, stored, cent = _setup(spark)
    v2 = dict(base)[2]
    batch = _df(spark, [(1, _perturb(v2, 0.01, 11))])  # now dups stored 2
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    assert kept.count() == 0


def test_stored_without_cell_column_is_assigned(spark):
    base, stored_c, cent = _setup(spark)
    stored_plain = stored_c.drop("cell")
    batch = _df(spark, [(40, _perturb(dict(base)[3], 0.01, 13))])
    kept = incremental_semantic_dedup(batch, stored_plain, cent, threshold=0.98)
    assert kept.count() == 0  # still caught against history


def test_double_batch_vs_float_store_anchor_still_holds(spark):
    """Review regression: a float64 (array<double>) batch against a
    float32 store must still byte-match its own unchanged re-ingest —
    the batch is cast to the store's element type before the anchor
    join."""
    base, stored, cent = _setup(spark)
    novel = _vec(42)
    b1 = _df(spark, [(20, novel)])  # float store path
    kept1 = incremental_semantic_dedup(b1, stored, cent, threshold=0.98)
    stored2 = stored.unionByName(kept1.select(*stored.columns))

    # replay as DOUBLE arrays (natural upstream dtype)
    dbl = spark.createDataFrame(
        [(20, [float(x) for x in novel]),
         (15, [float(x) for x in _perturb(novel, 0.01, 21)])],
        "vec_id long, embedding array<double>",
    )
    kept2 = incremental_semantic_dedup(dbl, stored2, cent, threshold=0.98)
    # 20's unchanged stored copy anchors the component: nothing kept —
    # in particular the smaller-id near-dup 15 must NOT be elected
    assert kept2.count() == 0


def test_null_and_ragged_embeddings_dropped_not_crash(spark):
    base, stored, cent = _setup(spark)
    rows = [
        (50, [float(x) for x in _vec(50)]),   # valid, novel
        (51, None),                            # null embedding
        (52, [1.0, 2.0]),                      # wrong dimension
        (53, []),                              # empty
    ]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = incremental_semantic_dedup(batch, stored, cent, threshold=0.98)
    assert sorted(r["vec_id"] for r in kept.collect()) == [50]


def test_stream_spec_composite_pk_rejected(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from binancedatapipeline_spark.catalog import TableSpec
    from trainingdata_spark.streaming import stream_semantic_dedup
    from binancedatapipeline_spark.warehouse import Warehouse

    bad = TableSpec(
        name="bad_pk_vecs",
        primary_keys=("vec_id", "cell"),
        schema=T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("cell", T.IntegerType()),
        ]),
        kind="fact",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="keyed"):
        stream_semantic_dedup(stream, wh, bad, None, str(tmp_path / "ck"))
