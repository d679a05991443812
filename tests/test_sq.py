"""SQ8 scalar quantization: round-trip error bound, top-k recall vs
exact, constant-dim/out-of-range edges, JVM-only plan pin."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from trainingdata_spark import similarity as sim


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    x = rng.normal(size=(400, 16)).astype(np.float64)
    x[:, 3] = 2.5  # a constant dimension
    rows = [(i, x[i].tolist()) for i in range(len(x))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), x


def test_roundtrip_error_within_half_step(spark, vectors):
    df, x = vectors
    params = sim.train_sq_params(df)
    mins, scales = params
    assert scales[3] == 0.0  # constant dim detected
    rec = sim.sq_decode(sim.sq_encode(df, params), params, out="recon")
    rows = rec.orderBy("vec_id").select("recon").collect()
    recon = np.array([r["recon"] for r in rows])
    err = np.abs(recon - x)
    # quantization error ≤ half a step per dimension (+fp slack)
    steps = np.array([s if s > 0 else 1.0 for s in scales])
    assert (err <= steps / 2 + 1e-9).all()
    assert np.allclose(recon[:, 3], 2.5)  # constant dim exact


def test_sq_topk_recall_vs_exact(spark, vectors):
    df, x = vectors
    params = sim.train_sq_params(df)
    enc = sim.sq_encode(df, params).drop("embedding")
    queries = spark.createDataFrame(
        [(i, x[i * 37].tolist()) for i in range(6)],
        "query_id long, query_vec array<double>",
    )
    exact = sim.cosine_topk(df, queries, k=10)
    approx = sim.sq_topk(enc, queries, params, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9  # SQ8 is near-lossless at these dims


def test_out_of_range_vectors_clamp(spark, vectors):
    df, _ = vectors
    params = sim.train_sq_params(df)
    wild = spark.createDataFrame(
        [(999, [1e6] * 16), (998, [-1e6] * 16)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["sq_code"] for r in sim.sq_encode(wild, params).collect()}
    assert all(c == 255 or i == 3 for i, c in enumerate(rows[999]))
    assert all(c == 0 for c in rows[998])


def test_sq_scan_is_jvm_only(spark, vectors):
    """The kernel="jvm" reference path must stay a pure-expression
    plan (no Python evaluation nodes): it is the differential anchor
    the round-12 Arrow kernel is pinned against, and the fallback for
    deployments that cannot cross the Python boundary."""
    df, x = vectors
    params = sim.train_sq_params(df)
    enc = sim.sq_encode(df, params).drop("embedding")
    queries = spark.createDataFrame(
        [(0, x[0].tolist())], "query_id long, query_vec array<double>"
    )
    plan = (
        sim.sq_topk(enc, queries, params, k=5, kernel="jvm")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sq_arrow_kernel_is_single_scan_map(spark, vectors):
    """The batch-default Arrow kernel scores in one MapInArrow over
    the encoded scan — no crossJoin, no per-row Python (round 12,
    guide §4.2); row-identical to the JVM path (pinned adversarially
    in tests/test_round12_opts.py, and here on the happy path)."""
    df, x = vectors
    params = sim.train_sq_params(df)
    enc = sim.sq_encode(df, params).drop("embedding")
    queries = spark.createDataFrame(
        [(0, x[0].tolist())], "query_id long, query_vec array<double>"
    )
    arrow = sim.sq_topk(enc, queries, params, k=5)  # auto → arrow on batch
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    got = sorted(tuple(r) for r in arrow.collect())
    exp = sorted(
        tuple(r)
        for r in sim.sq_topk(enc, queries, params, k=5, kernel="jvm").collect()
    )
    assert got == exp


def test_sq_roundtrip_bound_property(spark):
    """Hypothesis sweep: the half-step reconstruction bound holds for
    arbitrary value ranges, constant dimensions and extreme scales."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    dims = 5

    @given(
        rows=st.lists(
            st.lists(
                st.floats(
                    min_value=-1e6, max_value=1e6,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=dims, max_size=dims,
            ),
            min_size=2, max_size=12,
        )
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(rows):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
            "vec_id long, embedding array<double>",
        )
        params = sim.train_sq_params(df)
        mins, scales = params
        rec = sim.sq_decode(sim.sq_encode(df, params), params, out="recon")
        got = {r["vec_id"]: r["recon"] for r in rec.collect()}
        for i, v in enumerate(rows):
            for d in range(dims):
                step = scales[d] if scales[d] > 0 else 0.0
                tol = step / 2 + 1e-6 * max(abs(float(v[d])), 1.0)
                assert abs(got[i][d] - float(v[d])) <= tol

    run()
