"""Token-budget data selection and temperature mixture rates, checked
against exact Python references."""

from __future__ import annotations

import random

import pytest

from trainingdata_spark.textops.sampling import (
    mixture_sample,
    select_token_budget,
    temperature_mixture_rates,
)


def _scored(spark, n=400, seed=11):
    rng = random.Random(seed)
    rows = [
        (i, round(rng.uniform(0.0, 1.0), 6), rng.randrange(50, 150))
        for i in range(n)
    ]
    return rows, spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")


def _ref_exact(rows, budget):
    """Global-sort reference: best score first, ties on id."""
    kept, spent = [], 0
    for doc_id, score, nt in sorted(rows, key=lambda r: (-r[1], r[0])):
        if spent + nt > budget:
            break
        kept.append(doc_id)
        spent += nt
    return set(kept)


def test_exact_mode_matches_global_sort(spark):
    rows, df = _scored(spark)
    total = sum(r[2] for r in rows)
    for budget in (total // 10, total // 3, total - 1):
        got = {
            r["doc_id"]
            for r in select_token_budget(df, budget, exact=True).collect()
        }
        # the two-pass answer takes strictly-better bins fully, then a
        # prefix of the threshold bin; within the threshold bin the
        # cumulative rule is identical, so sets match exactly
        assert got == _ref_exact(rows, budget), budget


def test_approximate_mode_bounds(spark):
    rows, df = _scored(spark)
    total = sum(r[2] for r in rows)
    budget = total // 3
    got = select_token_budget(df, budget, exact=False).collect()
    spent = sum(r["n_tokens"] for r in got)
    assert spent <= budget
    # undershoot bounded by one bin (plus one doc straddling)
    max_bin = total / 1000 + 150
    exact_spent = sum(
        nt for i, s, nt in rows if i in _ref_exact(rows, budget)
    )
    assert exact_spent - spent <= max_bin + 150
    # kept docs are score-dominant: every kept doc scores at least as
    # high as every dropped doc, up to one bin of resolution
    # ((hi-lo)/n_buckets = ~0.001 on this corpus)
    kept_min = min(r["score"] for r in got)
    dropped = [s for i, s, nt in rows if i not in {r["doc_id"] for r in got}]
    assert kept_min >= max(dropped) - 0.002


def test_budget_larger_than_corpus_keeps_all(spark):
    rows, df = _scored(spark, n=50)
    assert select_token_budget(df, 10**9).count() == 50
    assert select_token_budget(df, 10**9, exact=True).count() == 50


def test_empty_corpus(spark):
    _, df = _scored(spark, n=1)
    empty = df.filter("doc_id < 0")
    assert select_token_budget(empty, 100).count() == 0


def test_temperature_rates(spark):
    rows = (
        [(i, "web") for i in range(900)]
        + [(900 + i, "books") for i in range(90)]
        + [(990 + i, "code") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    rates = temperature_mixture_rates(df, "domain", alpha=0.5)
    # dominant domain gets rate 1 is wrong — SMALLEST p^(alpha-1) is
    # the biggest domain; normalization puts max rate (smallest
    # domain) at 1.0
    assert rates["code"] == pytest.approx(1.0)
    assert rates["books"] == pytest.approx((90 / 1000) ** -0.5 / (10 / 1000) ** -0.5)
    assert rates["web"] < rates["books"] < rates["code"]
    # alpha=1 keeps natural proportions -> all rates 1
    flat = temperature_mixture_rates(df, "domain", alpha=1.0)
    assert all(v == pytest.approx(1.0) for v in flat.values())
    # feeds mixture_sample: kept fractions track the rates
    kept = mixture_sample(df, "domain", rates)
    counts = {r["domain"]: r["count"] for r in kept.groupBy("domain").count().collect()}
    assert counts["code"] == 10  # rate 1.0 keeps everything
    assert counts["web"] < 900 * rates["web"] * 1.5


def test_cap_per_group_quota(spark):
    from trainingdata_spark.textops.sampling import cap_per_group

    rows = (
        [(f"a{i}", "siteA", float(i)) for i in range(10)]
        + [(f"b{i}", "siteB", 1.0) for i in range(2)]
        + [("n0", None, 9.9)]
    )
    df = spark.createDataFrame(rows, "doc_id string, domain string, score double")
    out = cap_per_group(df, "domain", max_rows=3, order_col="score")
    got = sorted(r["doc_id"] for r in out.collect())
    # siteA keeps its 3 best scores (a9,a8,a7); siteB under quota; null passes
    assert got == ["a7", "a8", "a9", "b0", "b1", "n0"]
    assert "__rank" not in out.columns
    # deterministic without a score: lowest ids win
    out2 = cap_per_group(df, "domain", max_rows=2)
    got2 = sorted(r["doc_id"] for r in out2.collect())
    assert got2 == ["a0", "a1", "b0", "b1", "n0"]
