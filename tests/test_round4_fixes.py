"""Round-4 regression pins: the sketch-only bench gate and the
restored ngram singleton prune's equivalence."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import retired_queries as retired

SF = "/root/testdata/sf0.001"


def test_approx_distinct_sketch_only_gate(spark, monkeypatch):
    """SPARK_GRAFT_SKETCH_ONLY=1 (the bench path) must drop the exact
    countDistinct double-work; without it the full oracle-checkable
    contract stands."""
    # approx_distinct left the registry in round 8 (sq8_topk rotation)
    # but the gate contract lives on the retired query function
    monkeypatch.delenv("SPARK_GRAFT_SKETCH_ONLY", raising=False)
    full = retired.q_approx_distinct(spark, SF)
    assert "n_users_exact" in full.columns
    assert "approx_within_5pct" in full.columns

    monkeypatch.setenv("SPARK_GRAFT_SKETCH_ONLY", "1")
    sketch = retired.q_approx_distinct(spark, SF)
    assert sketch.columns == ["event_type", "n_users_approx", "n_events"]
    plan = sketch._jdf.queryExecution().optimizedPlan().toString()
    assert "count(distinct" not in plan.lower(), plan


def test_ngram_prune_emits_same_pairs_as_unpruned(spark):
    """The window prune must be output-invariant: singletons only ever
    produce self-matches, which id_a < id_b removes."""
    from trainingdata_spark.textops.dedup import ngram_jaccard_pairs

    docs = retired._t(spark, SF, "documents")
    pruned = ngram_jaccard_pairs(docs, min_jaccard=0.2)
    # reference shape: same front end, no prune (inline, mirrors
    # tools/bench_ngram_prune.no_prune)
    from trainingdata_spark.textops.dedup import _hash56, _shingle_array
    from trainingdata_spark.textops.analysis import tokens_col
    from trainingdata_spark.operators.spread import spread

    toks = tokens_col(F.col("text"))
    doc = spread(docs).select(F.col("doc_id"), toks.alias("__toks")).select(
        "doc_id",
        F.transform(F.array_distinct(_shingle_array(3)), _hash56).alias("__hs"),
    )
    shared = doc.select(
        F.col("doc_id"),
        F.size("__hs").alias("__n"),
        F.explode("__hs").alias("sh_hash"),
    )
    a = shared.select(F.col("doc_id").alias("id_a"), F.col("__n").alias("n_a"), "sh_hash")
    b = shared.select(F.col("doc_id").alias("id_b"), F.col("__n").alias("n_b"), "sh_hash")
    unpruned = (
        a.join(b, "sh_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )
    got = {tuple(r) for r in pruned.collect()}
    exp = {tuple(r) for r in unpruned.collect()}
    assert got == exp
