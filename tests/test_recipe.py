"""End-to-end training-corpus recipe: the composed chain must drop
exactly the planted junk and emit reproducible, well-formed chunks."""

from __future__ import annotations

from trainingdata_spark.textops.recipe import prepare_training_corpus

GOOD = " ".join(
    f"sentence{i} with natural flowing words continues here" for i in range(12)
)


def _corpus(spark):
    rows = [
        (1, GOOD + " alpha", "web"),
        (2, GOOD + " beta", "web"),          # near-dup of 1 (one-token delta)
        (3, "too short", "web"),             # shape-filtered
        (4, " ".join(f"chapter{i} about mountain climbing routes and gear" for i in range(12)), "books"),
        # high perplexity under the self-fit model: every token unique
        # (repetitive junk would score LOW — frequency is probability)
        (5, " ".join(f"zxq{i}gib" for i in range(40)), "web"),
        (6, GOOD + " alpha", "web"),         # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, domain string")


def test_full_recipe_funnel(spark):
    res = prepare_training_corpus(
        _corpus(spark),
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
        dedup_kwargs={"k": 16, "bands": 8},
        max_ppl=50.0,
        chunk_max_tokens=16,
        chunk_overlap=4,
    )
    stages = dict(res.audit)
    assert stages["input"] == 6
    assert stages["curate"] == 4          # drops 3 (shape) and 6 (exact dup)
    assert stages["near_dedup"] == 3      # collapses 2 into 1
    assert stages["lm_filter"] == 2       # drops the gibberish doc
    kept_ids = {r["doc_id"] for r in res.corpus.select("doc_id").distinct().collect()}
    assert kept_ids == {1, 4}
    # split labels ride through chunking
    assert "split" in res.corpus.columns
    assert all(r["split"] in ("train", "val", "test") for r in res.corpus.collect())
    # chunks well-formed
    rows = res.corpus.collect()
    assert stages["chunks"] == len(rows)
    assert all(1 <= r["chunk_tokens"] <= 16 for r in rows)
    # audit_df mirrors the funnel
    adf = {r["stage"]: r["rows"] for r in res.audit_df(spark).collect()}
    assert adf == stages


def test_recipe_is_reproducible(spark):
    kw = dict(
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
        dedup_kwargs={"k": 16, "bands": 8},
        max_ppl=50.0,
        chunk_max_tokens=16,
        chunk_overlap=4,
        shuffle_seed=9,
    )
    a = prepare_training_corpus(_corpus(spark), **kw).corpus.collect()
    b = prepare_training_corpus(_corpus(spark), **kw).corpus.collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_recipe_with_budget_and_mixture(spark):
    res = prepare_training_corpus(
        _corpus(spark),
        domain_col="domain",
        mixture_alpha=0.6,
        budget_tokens=70,
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
        dedup_kwargs={"k": 16, "bands": 8},
        max_ppl=50.0,
        chunk_max_tokens=16,
        chunk_overlap=4,
    )
    stages = dict(res.audit)
    assert "token_budget" in stages and "mixture" in stages
    assert stages["token_budget"] <= stages["lm_filter"]
    assert stages["mixture"] <= stages["token_budget"]
    assert "domain" in res.corpus.columns  # mixture col passes through
    res.release()  # drops the scored cache without error


def test_recipe_with_quality_span_and_dsir_stages(spark):
    from trainingdata_spark.textops.quality_clf import (
        train_quality_classifier,
    )

    # classifier: GOOD-style text vs spam-vocab junk
    spam = " ".join("click free winner casino pills offer".split() * 8)
    pos = spark.createDataFrame([(i, GOOD) for i in range(30)], "doc_id long, text string")
    neg = spark.createDataFrame([(i, spam) for i in range(30)], "doc_id long, text string")
    model = train_quality_classifier(pos, neg, num_features=1 << 12, max_iter=20)

    passage = " ".join(f"boiler{i} plate tokens repeated verbatim" for i in range(4))
    rows = [
        (1, GOOD + " alpha", "web"),
        (2, GOOD + " " + passage, "web"),       # carries the passage (first)
        (3, GOOD + " gamma " + passage, "web"),  # passage copy → span-cut
        (4, spam + " junky stuff here", "web"),  # classifier-filtered
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    res = prepare_training_corpus(
        docs,
        quality_model=model,
        span_window=8,
        dsir_target=spark.createDataFrame(
            [(100, GOOD)], "doc_id long, text string"
        ),
        dsir_k=3,
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
        dedup_kwargs={"k": 16, "bands": 8},
        max_ppl=None,
        chunk_max_tokens=32,
        chunk_overlap=4,
    )
    stages = dict(res.audit)
    assert stages["quality_clf"] == 3            # spam doc dropped
    assert "span_dedup" in stages and "dsir" in stages
    # the passage survives exactly once across the corpus
    joined = " || ".join(
        r["chunk_text"] for r in res.corpus.select("chunk_text").collect()
    )
    assert joined.count("boiler0 plate tokens") <= 1
    res.release()


def test_blocklist_rides_curate_kwargs_through_the_recipe(spark):
    """curate_kwargs={'blocklist': ...} flows through the recipe into
    curate's pre-kernel URL gate — no recipe-level plumbing needed."""
    other = " ".join(
        f"chapter{i} about mountain climbing routes and gear" for i in range(12)
    )
    rows = [
        (1, GOOD + " alpha", "https://fine.org/a"),
        (2, GOOD + " unique beta tail", "https://x.spam.example/p"),
        (3, other, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    blocklist = spark.createDataFrame([("spam.example",)], "domain string")
    res = prepare_training_corpus(
        docs,
        curate_kwargs={
            "min_line_words": 1,
            "gopher_overrides": {"min_words": 10},
            "blocklist": blocklist,
        },
        max_ppl=None,
        min_ppl=0.0,
    )
    kept_ids = {r["doc_id"] for r in res.corpus.select("doc_id").distinct().collect()}
    res.release()
    assert 2 not in kept_ids and {1, 3} <= kept_ids
    # the audit funnel's curate row already excludes the blocked doc
    audit = dict(res.audit)
    assert audit["curate"] == 2


def test_quality_model_double_specification_raises(spark):
    """quality_model via both the recipe stage and curate_kwargs would
    score and gate twice — refused loudly."""
    import pytest

    from trainingdata_spark.textops.recipe import (
        prepare_training_corpus,
    )

    docs = spark.createDataFrame([(1, "text")], "doc_id int, text string")
    with pytest.raises(ValueError, match="not both"):
        prepare_training_corpus(
            docs, quality_model=object(),
            curate_kwargs={"quality_model": object()},
        )
