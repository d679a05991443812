"""Unigram LM scoring (the KenLM-filter analog): differential-tested
against a DuckDB oracle plus model-consistency properties."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from trainingdata_spark.textops.lm import (
    perplexity_filter,
    score_documents,
    unigram_model,
)

ROWS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "zzz qqq xxx unseen gibberish wals"),
    (4, "the the the the the the"),
    (5, "a brown fox and a lazy dog"),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_model_probabilities_sum_to_one(spark):
    m = unigram_model(_docs(spark), smoothing=0.5).collect()
    n_total = sum(r["n"] for r in m)
    v = len(m)
    mass = sum(math.exp(r["logp"]) for r in m)
    oov = 0.5 / (n_total + 0.5 * (v + 1))
    assert mass + oov == pytest.approx(1.0, abs=1e-9)


def test_model_matches_duckdb_oracle(spark):
    got = {r["token"]: (r["n"], r["logp"]) for r in unigram_model(_docs(spark)).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", ROWS)
    exp = con.execute("""
        WITH toks AS (
          SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS token
          FROM docs
        ), counts AS (
          SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token
        ), tot AS (SELECT sum(n) AS nt, count(*) AS vt FROM counts)
        SELECT token, n, ln((n + 0.5) / (nt + 0.5 * (vt + 1))) AS logp
        FROM counts, tot
    """).fetchall()
    assert len(exp) == len(got)
    for token, n, logp in exp:
        gn, glogp = got[token]
        assert gn == n
        assert glogp == pytest.approx(logp, abs=1e-12)


def test_scoring_matches_hand_computation(spark):
    docs = _docs(spark)
    m = unigram_model(docs, smoothing=0.5)
    model = {r["token"]: r["logp"] for r in m.collect()}
    n_total = sum(r["n"] for r in m.collect())
    oov = math.log(0.5 / (n_total + 0.5 * (len(model) + 1)))
    got = {r["doc_id"]: r for r in score_documents(docs, m).collect()}
    for doc_id, text in ROWS:
        toks = text.split()
        exp_avg = sum(model.get(t, oov) for t in toks) / len(toks)
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["avg_logp"] == pytest.approx(exp_avg, rel=1e-9)
        assert got[doc_id]["pseudo_ppl"] == pytest.approx(math.exp(-exp_avg), rel=1e-9)
    assert got[1]["n_oov"] == 0


def test_oov_counted_against_reference_model(spark):
    docs = _docs(spark)
    ref = docs.filter("doc_id <> 3")  # fit without the gibberish doc
    m = unigram_model(ref)
    got = {r["doc_id"]: r["n_oov"] for r in score_documents(docs, m).collect()}
    assert got[3] >= 5  # all-gibberish doc is almost entirely OOV
    assert got[1] == 0


def test_vocab_cap_keeps_most_frequent(spark):
    m = unigram_model(_docs(spark), vocab_size=3).collect()
    toks = {r["token"] for r in m}
    assert len(m) == 3 and "the" in toks  # 'the' dominates the corpus


def test_perplexity_filter_cuts_both_tails(spark):
    docs = _docs(spark)
    m = unigram_model(docs.filter("doc_id <> 3"))
    scored = score_documents(docs, m)
    ppl = {r["doc_id"]: r["pseudo_ppl"] for r in scored.collect()}
    # gibberish scores worst, degenerate repetition scores best
    assert ppl[3] == max(ppl.values())
    assert ppl[4] == min(ppl.values())
    kept = {
        r["doc_id"]
        for r in perplexity_filter(
            docs, m, max_ppl=ppl[3] - 1e-6, min_ppl=ppl[4] + 1e-6
        ).collect()
    }
    assert kept == {1, 2, 5}


def test_scoring_plan_broadcasts_model(spark):
    docs = _docs(spark)
    m = unigram_model(docs)
    plan = score_documents(docs, m)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_map_scorer_equals_groupby_scorer(spark):
    from trainingdata_spark.textops.lm import score_documents_map

    docs = _docs(spark)
    m = unigram_model(docs.filter("doc_id <> 3"), vocab_size=10)
    cols = ["doc_id", "n_tokens", "n_oov", "avg_logp", "pseudo_ppl"]
    a = {r["doc_id"]: r for r in score_documents(docs, m).select(*cols).collect()}
    b = {r["doc_id"]: r for r in score_documents_map(docs, m).select(*cols).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["n_tokens"] == b[k]["n_tokens"]
        assert a[k]["n_oov"] == b[k]["n_oov"]
        assert a[k]["avg_logp"] == pytest.approx(b[k]["avg_logp"], rel=1e-12)
