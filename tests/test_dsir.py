"""DSIR importance resampling: planted-domain separation, Gumbel
determinism, smoothing/unseen-bucket handling, scale-shape plan pins."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trainingdata_spark.textops import dsir

TARGET_VOCAB = [
    "market", "price", "volume", "asset", "trade", "index", "margin",
    "futures", "spot", "funding", "rate", "premium", "hedge", "basis",
]
JUNK_VOCAB = [
    "zzz", "click", "here", "free", "winner", "lottery", "casino",
    "pills", "xxx", "offer", "deal", "buy", "now", "spam",
]


def _doc(rng, vocab, n=30):
    return " ".join(rng.choice(vocab) for _ in range(n))


@pytest.fixture(scope="module")
def corpora(spark):
    rng = random.Random(7)
    raw = [(f"fin-{i}", _doc(rng, TARGET_VOCAB)) for i in range(200)] + [
        (f"junk-{i}", _doc(rng, JUNK_VOCAB)) for i in range(200)
    ]
    rng.shuffle(raw)
    target = [(f"t-{i}", _doc(rng, TARGET_VOCAB)) for i in range(60)]
    return (
        spark.createDataFrame(raw, ["doc_id", "text"]),
        spark.createDataFrame(target, ["doc_id", "text"]),
    )


def test_bucket_distribution_is_bounded(spark, corpora):
    raw, _ = corpora
    dist = dsir.bucket_distribution(raw, buckets=512)
    rows = dist.collect()
    assert 0 < len(rows) <= 512
    assert all(0 <= r["bucket"] < 512 for r in rows)
    # total mass = total n-gram count (uni + bi, empties dropped)
    n_tokens = 30
    assert sum(r["n"] for r in rows) == 400 * (n_tokens + n_tokens - 1)


def test_score_separates_planted_domains(spark, corpora):
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    scored = dsir.score_importance(raw, ratio, default, buckets=512)
    rows = scored.select("doc_id", "dsir_logw").collect()
    fin = [r["dsir_logw"] for r in rows if r["doc_id"].startswith("fin")]
    junk = [r["dsir_logw"] for r in rows if r["doc_id"].startswith("junk")]
    # complete separation on disjoint vocabularies
    assert min(fin) > max(junk)


def test_dsir_select_prefers_target_like(spark, corpora):
    raw, target = corpora
    picked = dsir.dsir_select(raw, target, k=100, buckets=512, exact=True)
    assert picked.count() == 100
    ids = [r["doc_id"] for r in picked.select("doc_id").collect()]
    fin = sum(1 for i in ids if i.startswith("fin"))
    assert fin >= 90  # Gumbel noise may admit a few junk docs, not many


def test_dsir_select_deterministic_and_seed_sensitive(spark, corpora):
    raw, target = corpora
    a = {r["doc_id"] for r in dsir.dsir_select(
        raw, target, k=50, buckets=512, seed=1, exact=True).collect()}
    b = {r["doc_id"] for r in dsir.dsir_select(
        raw, target, k=50, buckets=512, seed=1, exact=True).collect()}
    c = {r["doc_id"] for r in dsir.dsir_select(
        raw, target, k=50, buckets=512, seed=2, exact=True).collect()}
    assert a == b  # replay-identical
    assert a != c  # a different seed re-draws the Gumbel keys


def test_dsir_select_approx_path_close_to_k(spark, corpora):
    raw, target = corpora
    picked = dsir.dsir_select(raw, target, k=120, buckets=512, exact=False)
    n = picked.count()
    assert abs(n - 120) <= 20  # sketch-error tolerance at this tiny scale
    assert "dsir_logw" in picked.columns and "__key" not in picked.columns


def test_unseen_buckets_and_empty_text_are_defined(spark, corpora):
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    oddballs = spark.createDataFrame(
        [
            ("empty", ""),
            ("unseen", "xylophone quark zeppelin brontosaurus"),
            ("nulltext", None),
        ],
        ["doc_id", "text"],
    )
    rows = {
        row["doc_id"]: row["dsir_logw"]
        for row in dsir.score_importance(
            oddballs, ratio, default, buckets=512
        ).collect()
    }
    assert rows["empty"] == 0.0
    assert rows["nulltext"] == 0.0
    assert rows["unseen"] is not None  # smoothed 0/0 constant, not null


def test_scoring_plan_is_pure_projection(spark, corpora):
    """The literal path must score without ANY join or aggregation
    exchange — the m-row fit rides in as an array literal and each
    document is scored inside its own projection (the 100 TB shape:
    no corpus re-shuffle on doc_id). Asserted for both fit shapes:
    driver pairs under ``auto``, and a distributed table under the
    explicit ``literal`` opt-in."""
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    pairs = [(r_["bucket"], r_["log_ratio"]) for r_ in ratio.collect()]
    for fit, method in ((pairs, "auto"), (ratio, "literal")):
        plan = dsir.score_importance(
            raw, fit, default, buckets=512, method=method
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_auto_with_distributed_fit_is_lazy_join(spark, corpora):
    """``auto`` + a distributed ratio table must NOT run the fit at
    plan-construction time (the lazy-plan-builder contract): no Spark
    job may fire while building, and the plan is the broadcast-join
    form. Driver pairs stay the zero-job literal pick."""
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    sc = spark.sparkContext
    sc.setJobGroup("dsir-lazy-test", "plan construction must run no jobs")
    try:
        scored = dsir.score_importance(raw, ratio, default, buckets=512)
        plan = scored._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setJobGroup("", "")
    assert "BroadcastHashJoin" in plan
    assert list(sc.statusTracker().getJobIdsForGroup("dsir-lazy-test")) == []
    # and the lazy join scores agree with the eager literal ones
    lazy = {r_["doc_id"]: r_["dsir_logw"] for r_ in scored.collect()}
    lit = {
        r_["doc_id"]: r_["dsir_logw"]
        for r_ in dsir.score_importance(
            raw, ratio, default, buckets=512, method="literal"
        ).collect()
    }
    assert all(abs(lazy[k] - lit[k]) < 1e-9 for k in lazy)


def test_pairs_fit_builds_plan_with_zero_jobs(spark, corpora):
    """fit_log_ratio hands back driver pairs; score_importance must
    turn them into the literal plan without ANY cluster round-trip —
    no createDataFrame→collect bounce, no job at construction."""
    raw, _ = corpora
    pred = F.col("doc_id").startswith("fin")
    lr, default = dsir.fit_log_ratio(raw, pred, buckets=256)
    assert isinstance(lr, list) and all(len(p) == 2 for p in lr)
    sc = spark.sparkContext
    sc.setJobGroup("dsir-pairs-test", "pairs scoring plan must run no jobs")
    try:
        scored = dsir.score_importance(raw, lr, default, buckets=256)
        scored._jdf.queryExecution().executedPlan()
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("dsir-pairs-test")) == []
    # pairs are accepted as tuples, dicts, and through the join path
    as_dicts = [{"bucket": b, "log_ratio": v} for b, v in lr]
    a = {r_["doc_id"]: r_["dsir_logw"] for r_ in scored.collect()}
    b = {
        r_["doc_id"]: r_["dsir_logw"]
        for r_ in dsir.score_importance(
            raw, as_dicts, default, buckets=256, method="join"
        ).collect()
    }
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_scoring_join_fallback_broadcasts_ratio_table(spark, corpora):
    """The explicit join path (fits too wide for a literal) still
    broadcasts the m-row table — never a shuffle join or cartesian."""
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    plan = dsir.score_importance(
        raw, ratio, default, buckets=512, method="join"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scoring_literal_and_join_paths_agree(spark, corpora):
    raw, target = corpora
    t = dsir.bucket_distribution(target, buckets=512)
    r = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, r, buckets=512)
    lit_scores = {
        row["doc_id"]: row["dsir_logw"]
        for row in dsir.score_importance(
            raw, ratio, default, buckets=512, method="literal"
        ).collect()
    }
    join_scores = {
        row["doc_id"]: row["dsir_logw"]
        for row in dsir.score_importance(
            raw, ratio, default, buckets=512, method="join"
        ).collect()
    }
    assert set(lit_scores) == set(join_scores)
    assert all(
        abs(lit_scores[k] - join_scores[k]) < 1e-9 for k in lit_scores
    )


def test_k_at_least_n_returns_everything(spark, corpora):
    raw, target = corpora
    assert dsir.dsir_select(raw, target, k=10_000, buckets=512).count() == 400


def test_identical_target_and_raw_zero_weights(spark, corpora):
    """target == raw → every bucket's smoothed ratio is exactly 1 →
    all log-weights exactly 0; selection reduces to the deterministic
    Gumbel hash sample."""
    raw, _ = corpora
    t = dsir.bucket_distribution(raw, buckets=512)
    ratio, default = dsir.importance_log_ratio(t, t, buckets=512)
    scored = dsir.score_importance(raw, ratio, default, buckets=512)
    vals = [r["dsir_logw"] for r in scored.select("dsir_logw").collect()]
    assert all(abs(v) < 1e-12 for v in vals)


def test_md5_bucket_hash_mode_matches_xxhash_semantics(spark, corpora):
    """bucket_hash='md5' (the engine-portable mode the dsir_scores
    DuckDB oracle gates) must behave identically to the xxhash
    production path in everything but the bucket ids: same total gram
    mass, bounded support, and the identical-corpora zero-weight
    invariant."""
    raw, target = corpora
    for mode in ("md5", "xxhash"):
        t = dsir.bucket_distribution(raw, buckets=256, bucket_hash=mode)
        rows = t.collect()
        assert len(rows) <= 256
        assert all(0 <= r["bucket"] < 256 for r in rows)
    m_total = (
        dsir.bucket_distribution(raw, buckets=256, bucket_hash="md5")
        .agg(F.sum("n")).first()[0]
    )
    x_total = (
        dsir.bucket_distribution(raw, buckets=256, bucket_hash="xxhash")
        .agg(F.sum("n")).first()[0]
    )
    assert m_total == x_total  # same grams, different bucketing only

    t = dsir.bucket_distribution(raw, buckets=256, bucket_hash="md5")
    ratio, default = dsir.importance_log_ratio(t, t, buckets=256)
    scored = dsir.score_importance(
        raw, ratio, default, buckets=256, bucket_hash="md5"
    )
    assert all(
        abs(r["dsir_logw"]) < 1e-12
        for r in scored.select("dsir_logw").collect()
    )

    with pytest.raises(ValueError, match="bucket_hash"):
        dsir.hashed_ngram_buckets(raw, bucket_hash="sha1").collect()


def test_fit_log_ratio_one_pass_matches_two_relation_fit(spark, corpora):
    """fit_log_ratio (one corpus explode, conditional counts, bounded
    collect) must produce the same table and default as the general
    two-relation importance_log_ratio when the target is a subset
    predicate — and the scores built on either must agree."""
    raw, _ = corpora
    pred = F.col("doc_id").startswith("fin")
    t = dsir.bucket_distribution(raw.filter(pred), buckets=256)
    r = dsir.bucket_distribution(raw, buckets=256)
    lr2, d2 = dsir.importance_log_ratio(t, r, buckets=256)
    lr1, d1 = dsir.fit_log_ratio(raw, pred, buckets=256)  # driver pairs
    assert abs(d1 - d2) < 1e-12
    a = dict(lr1)
    b = {r_["bucket"]: r_["log_ratio"] for r_ in lr2.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)
    s1 = dsir.score_importance(raw, lr1, d1, buckets=256)
    s2 = dsir.score_importance(raw, lr2, d2, buckets=256)
    v1 = {r_["doc_id"]: r_["dsir_logw"] for r_ in s1.collect()}
    v2 = {r_["doc_id"]: r_["dsir_logw"] for r_ in s2.collect()}
    assert all(abs(v1[k] - v2[k]) < 1e-9 for k in v1)
