"""fastText-style quality classifier: planted separation, filter
behavior, null/empty handling, pure-map scoring shape."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trainingdata_spark.textops import quality_clf

GOOD = [
    "the", "history", "of", "science", "describes", "observation",
    "method", "theory", "evidence", "analysis", "published", "study",
]
BAD = [
    "click", "free", "winner", "casino", "pills", "xxx", "offer",
    "buy", "now", "limited", "deal", "cash",
]


def _doc(rng, vocab, n=25):
    return " ".join(rng.choice(vocab) for _ in range(n))


@pytest.fixture(scope="module")
def model_and_eval(spark):
    rng = random.Random(11)
    pos = spark.createDataFrame(
        [(f"p{i}", _doc(rng, GOOD)) for i in range(150)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(f"n{i}", _doc(rng, BAD)) for i in range(150)], ["doc_id", "text"]
    )
    model = quality_clf.train_quality_classifier(
        pos, neg, num_features=1 << 12, max_iter=25
    )
    hold = spark.createDataFrame(
        [(f"hp{i}", _doc(rng, GOOD), 1) for i in range(40)]
        + [(f"hn{i}", _doc(rng, BAD), 0) for i in range(40)],
        ["doc_id", "text", "truth"],
    )
    return model, hold


def test_classifier_separates_heldout(spark, model_and_eval):
    model, hold = model_and_eval
    scored = quality_clf.score_quality(hold, model)
    rows = scored.select("truth", "quality_prob").collect()
    good = [r["quality_prob"] for r in rows if r["truth"] == 1]
    bad = [r["quality_prob"] for r in rows if r["truth"] == 0]
    assert min(good) > 0.9 and max(bad) < 0.1  # disjoint vocab → easy
    assert all(0.0 <= p <= 1.0 for p in good + bad)


def test_quality_filter_keeps_good(spark, model_and_eval):
    model, hold = model_and_eval
    kept = quality_clf.quality_filter(hold, model, threshold=0.5)
    rows = kept.select("truth").collect()
    assert len(rows) == 40 and all(r["truth"] == 1 for r in rows)
    # keep_score=False drops the column, keeps the rows
    bare = quality_clf.quality_filter(hold, model, keep_score=False)
    assert "quality_prob" not in bare.columns and bare.count() == 40


def test_null_and_empty_text_score_the_prior(spark, model_and_eval):
    model, _ = model_and_eval
    odd = spark.createDataFrame(
        [("e", ""), ("nul", None)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_clf.score_quality(odd, model).collect()
    }
    assert rows["e"] is not None and rows["nul"] is not None
    assert rows["e"] == pytest.approx(rows["nul"])  # both = intercept prior


def test_scoring_is_deterministic_and_schema_clean(spark, model_and_eval):
    model, hold = model_and_eval
    a = quality_clf.score_quality(hold, model)
    b = quality_clf.score_quality(hold, model)
    assert a.columns == ["doc_id", "text", "truth", "quality_prob"]
    pa = {r["doc_id"]: r["quality_prob"] for r in a.collect()}
    pb = {r["doc_id"]: r["quality_prob"] for r in b.collect()}
    assert pa == pb


def test_scoring_plan_is_shuffle_free(spark, model_and_eval):
    model, hold = model_and_eval
    plan = (
        quality_clf.score_quality(hold, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure map stage over the corpus


def test_reserved_column_collision_rejected(spark, model_and_eval):
    model, hold = model_and_eval
    clash = hold.withColumn("prediction", F.lit(1.0))
    with pytest.raises(ValueError, match="collide"):
        quality_clf.score_quality(clash, model)


def test_save_load_roundtrip_scores_identically(spark, model_and_eval, tmp_path):
    """The normal deployment is train-once/score-many: the classifier
    must survive save()/load() (ADVICE r6 — private attributes on the
    LR model did not) and score bit-identically afterwards."""
    model, hold = model_and_eval
    path = str(tmp_path / "clf")
    model.save(path)
    loaded = quality_clf.QualityClassifier.load(spark, path)
    assert (loaded.num_features, loaded.n_max, loaded.text_col) == (
        model.num_features, model.n_max, model.text_col
    )
    a = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_clf.score_quality(hold, model).collect()
    }
    b = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_clf.score_quality(hold, loaded).collect()
    }
    assert a == b


def test_save_is_seam_aligned_kind_checked_and_immutable(spark, model_and_eval, tmp_path):
    """Round 11: the classifier rides the models.py seam — standard
    kind-checked model.json sidecar, immutable-artifact save, loud
    cross-kind load failure in BOTH directions."""
    from trainingdata_spark import models

    model, hold = model_and_eval
    path = str(tmp_path / "clf")
    meta = models.save_quality_classifier(model, path)
    assert meta["kind"] == "quality_classifier"
    # immutable unless overwrite=True — same contract as every save_*
    with pytest.raises(FileExistsError):
        model.save(path)
    models.save_quality_classifier(model, path, overwrite=True)

    loaded = models.load_quality_classifier(spark, path)
    assert (loaded.num_features, loaded.n_max, loaded.text_col) == (
        model.num_features, model.n_max, model.text_col
    )
    # wrong-kind loads fail at the sidecar, not as opaque reader errors
    with pytest.raises(ValueError, match="quality_classifier"):
        models.load_model(spark, path, "language_profiles")
    prof_path = str(tmp_path / "not_a_clf")
    models.save_model(
        spark.range(1).selectExpr("'en' lang", "'th' gram", "1.0 freq"),
        prof_path, kind="language_profiles",
    )
    with pytest.raises(ValueError, match="language_profiles"):
        quality_clf.QualityClassifier.load(spark, prof_path)


def test_load_accepts_pre_seam_layout(spark, model_and_eval, tmp_path):
    """Artifacts saved by the pre-round-11 layout (meta/ JSON relation,
    no model.json) still load and score identically."""
    model, hold = model_and_eval
    path = str(tmp_path / "legacy")
    model.model.write().overwrite().save(f"{path}/lr")
    spark.createDataFrame(
        [(int(model.num_features), int(model.n_max), model.text_col)],
        "num_features long, n_max int, text_col string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")

    loaded = quality_clf.QualityClassifier.load(spark, path)
    a = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_clf.score_quality(hold, model).collect()
    }
    b = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_clf.score_quality(hold, loaded).collect()
    }
    assert a == b


def test_load_on_non_model_path_fails_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="neither"):
        quality_clf.QualityClassifier.load(spark, str(tmp_path / "nope"))
