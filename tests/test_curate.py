"""End-to-end corpus curation: one composed plan from raw docs to
split-assigned curated corpus, audit flags intact."""

from __future__ import annotations

from pyspark.sql import functions as F

from trainingdata_spark.textops.curate import (
    curate,
    curation_flags,
    curation_report,
)

GOOD_BODY = " ".join(f"word{i} sentence continues naturally here" for i in range(15))
CONTAM_SEED = "alpha beta gamma delta epsilon zeta eta theta"


def _corpus(spark):
    rows = [
        # 1: clean survivor
        (1, GOOD_BODY),
        # 2: same body after PII differences -> dedups against 1 is NOT
        #    true (different digest? no: PII tokens normalize identically)
        (2, GOOD_BODY),
        # 3: PII-bearing but otherwise good (unique tail)
        (3, GOOD_BODY + " unique tail three contact me at sam@example.com please do"),
        # 4: too short -> shape drop
        (4, "tiny document"),
        # 5: contains the benchmark 8-gram -> contaminated
        (5, GOOD_BODY + " unique tail five " + CONTAM_SEED + " trailing words"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _bench(spark):
    return spark.createDataFrame(
        [(100, CONTAM_SEED)], "doc_id int, text string"
    )


def test_flags_audit_every_row(spark):
    flags = curation_flags(_corpus(spark), _bench(spark), contamination_n=5)
    rows = {r["doc_id"]: r for r in flags.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}  # audit mode drops nothing
    assert rows[1]["keep_shape"] and not rows[1]["is_exact_dup"]
    # doc 2 is a byte-copy of doc 1 -> duplicate, canonical is min id
    assert rows[2]["is_exact_dup"] and not rows[1]["is_exact_dup"]
    assert rows[3]["n_pii"] == 1
    assert "<EMAIL>" in rows[3]["text_clean"]
    assert not rows[4]["keep_shape"]
    assert "too_few_words" in rows[4]["drop_reasons"]
    assert rows[5]["is_contaminated"] and not rows[1]["is_contaminated"]
    assert all(r["split"] in ("train", "val", "test") for r in rows.values())


def test_curate_keeps_only_survivors(spark):
    out = curate(_corpus(spark), _bench(spark), contamination_n=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert "<EMAIL>" in rows[3]["text"]  # curated text is the cleaned one
    assert "split" in out.columns
    assert "text_clean" not in out.columns


def test_curate_without_bench(spark):
    out = curate(_corpus(spark))
    assert set(r["doc_id"] for r in out.collect()) == {1, 3, 5}


def test_report_funnel_counts(spark):
    rep = curation_report(
        curation_flags(_corpus(spark), _bench(spark), contamination_n=5)
    ).collect()[0]
    assert rep["n_docs"] == 5
    assert rep["pii_spans"] == 1
    assert rep["shape_dropped"] == 1
    assert rep["exact_dups"] == 1
    assert rep["contaminated"] == 1
    assert rep["survivors"] == 2


def test_one_composed_plan_no_python_loops(spark):
    """The whole chain stays one lazy DataFrame: a single explain
    succeeds and contains the dedup aggregate and the broadcast
    decontamination probe."""
    flags = curation_flags(_corpus(spark), _bench(spark))
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan


def _bl_corpus(spark):
    rows = [
        (1, GOOD_BODY, "https://fine.org/a"),
        (2, GOOD_BODY + " unique tail two ok", "https://sub.spam.example/x"),
        (3, GOOD_BODY + " unique tail three ok", None),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, url string")


def test_blocklist_stage_in_audit_and_filter(spark):
    bl = spark.createDataFrame([("spam.example",)], "domain string")
    docs = _bl_corpus(spark)

    # AUDIT: every row survives, carrying the URL-filter verdict
    flags = curation_flags(docs, blocklist=bl, materialize=False)
    got = {r["doc_id"]: (r["is_blocked"], r["blocked_domain"]) for r in flags.collect()}
    assert got[1] == (False, None)
    assert got[2] == (True, "spam.example")
    assert got[3] == (False, None)  # URL-less rows are never blocked

    # the report counts the gate and excludes blocked rows from survivors
    rep = curation_report(flags).first()
    assert rep["blocked_domains"] == 1
    assert rep["survivors"] == 2

    # FILTER: blocked rows are dropped before the cleaning kernels
    kept = curate(docs, blocklist=bl, materialize=False)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    # without a blocklist the report has no blocked_domains column
    plain = curation_report(curation_flags(docs, materialize=False))
    assert "blocked_domains" not in plain.columns


def test_blocklist_kwargs_carry_category_into_audit(spark):
    from trainingdata_spark.textops.corpus_io import parse_blocklist_text

    bl = parse_blocklist_text(spark, "spam.example\n", category="adult")
    docs = _bl_corpus(spark)
    flags = curation_flags(
        docs, blocklist=bl, materialize=False,
        blocklist_kwargs={"category_col": "category"},
    )
    got = {r["doc_id"]: r["blocked_category"] for r in flags.collect()}
    assert got == {1: None, 2: "adult", 3: None}
    # the same kwargs dict drives the filter form without error
    kept = curate(
        docs, blocklist=bl, materialize=False,
        blocklist_kwargs={"category_col": "category"},
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def _lang_corpus(spark):
    en = (
        "this long paragraph talks about the weather and the seasons "
        "of the year in the most ordinary english words available today"
    )
    en2 = (
        "another passage describes how people walked to the house in "
        "the morning while the quick brown fox jumped over a lazy dog"
    )
    es = (
        "este parrafo largo habla sobre el tiempo y las estaciones "
        "del ano con las palabras espanolas mas comunes posibles hoy"
    )
    es2 = (
        "ella dijo que vendrian a la casa por la manana temprano con "
        "el perro perezoso y el zorro marron que salta sobre la mesa"
    )
    en3 = (
        "the committee agreed that the river near the village would "
        "flood again during the spring unless the old stone bridge and "
        "the earthen banks were repaired before the heavy rains arrived"
    )
    rows = [
        (1, f"{en}\n\n{en2}\n\n{en3}"),        # pure en, shape-passing
        (2, f"{es}\n\n{es2}"),                 # pure es
        (3, f"{en}\n\n{en2}\n\n{es}"),         # mixed, 2/3 en
        (4, "hi"),                              # unclassifiable
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _lang_profiles(spark):
    from trainingdata_spark.textops.langid import train_language_profiles

    train = spark.createDataFrame(
        [
            ("en", "the quick brown fox jumps over the lazy dog and the "
                   "weather of the year was ordinary in the morning house"),
            ("es", "el rapido zorro marron salta sobre el perro perezoso y "
                   "el tiempo del ano era comun por la manana en la casa"),
        ],
        ["lang", "text"],
    )
    return train_language_profiles(train, top_k=300)


def test_language_gate_audit_and_filter(spark):
    """The CCNet language gate (round 9): audit mode annotates
    majority/purity and the verdict without dropping; filter mode
    drops rejected-language rows before the cleaning kernels; the
    report counts the gate and excludes rejections from survivors."""
    docs = _lang_corpus(spark)
    profiles = _lang_profiles(spark)

    flags = curation_flags(
        docs, materialize=False, lang_profiles=profiles,
        lang_allow={"en"}, lang_min_fraction=0.9,
        lang_kwargs={"min_chars": 40},
    )
    got = {
        r["doc_id"]: (r["lang_majority"], r["is_lang_rejected"])
        for r in flags.collect()
    }
    assert got[1] == ("en", False)
    assert got[2] == ("es", True)          # not in the allow set
    assert got[3][0] == "en" and got[3][1]  # majority ok, purity 2/3 < 0.9
    assert got[4] == (None, True)           # unclassifiable rejects

    rep = curation_report(flags).first()
    assert rep["lang_rejected"] == 3
    assert rep["survivors"] == 1

    kept = curate(
        docs, materialize=False, lang_profiles=profiles,
        lang_allow={"en"}, lang_min_fraction=0.9,
        lang_kwargs={"min_chars": 40},
    )
    rows = kept.collect()
    assert [r["doc_id"] for r in rows] == [1]
    # the language columns survive as output annotation
    assert rows[0]["lang_majority"] == "en"
    assert rows[0]["lang_fraction"] == 1.0
    assert "is_lang_rejected" not in kept.columns


def test_language_gate_annotation_only_without_criteria(spark):
    """Profiles without allow/min_fraction: columns appear, nothing
    is rejected, survivors unaffected."""
    docs = _lang_corpus(spark)
    flags = curation_flags(
        docs, materialize=False, lang_profiles=_lang_profiles(spark),
        lang_kwargs={"min_chars": 40},
    )
    assert flags.filter(F.col("is_lang_rejected")).count() == 0
    assert {r["doc_id"]: r["lang_majority"] for r in flags.collect()}[2] == "es"


# --------------------------- supervised quality gate (round 11)


def _quality_model(spark):
    import random

    from trainingdata_spark.textops.quality_clf import (
        train_quality_classifier,
    )

    rng = random.Random(13)
    good_vocab = ["word0", "sentence", "continues", "naturally", "here",
                  "study", "evidence"]
    bad_vocab = ["casino", "pills", "winner", "click", "free", "offer"]
    doc = lambda v: " ".join(rng.choice(v) for _ in range(25))
    pos = spark.createDataFrame(
        [(f"p{i}", doc(good_vocab)) for i in range(60)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(f"n{i}", doc(bad_vocab)) for i in range(60)], ["doc_id", "text"]
    )
    return train_quality_classifier(pos, neg, num_features=1 << 10, max_iter=10)


def test_quality_gate_audit_and_filter(spark):
    """The supervised classifier stage: flags annotate every row with
    quality_prob/is_low_quality; curate drops sub-threshold rows and
    keeps the score column."""
    clf = _quality_model(spark)
    junk = ("casino pills winner click free offer casino pills winner "
            "click free offer casino pills winner click free offer "
            "casino pills winner click free offer casino pills winner "
            "click free offer casino pills winner click free offer")
    docs = _corpus(spark).union(
        spark.createDataFrame([(6, junk)], "doc_id int, text string")
    )
    flags = curation_flags(
        docs, _bench(spark), contamination_n=5,
        quality_model=clf, quality_threshold=0.5,
    )
    rows = {r["doc_id"]: r for r in flags.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}  # audit mode still drops nothing
    assert rows[6]["is_low_quality"] and rows[6]["quality_prob"] < 0.5
    assert not rows[1]["is_low_quality"]

    out = curate(
        docs, _bench(spark), contamination_n=5,
        quality_model=clf, quality_threshold=0.5,
    )
    kept = {r["doc_id"]: r for r in out.collect()}
    assert set(kept) == {1, 3}  # junk doc dropped by the quality gate
    assert "quality_prob" in out.columns
    assert "is_low_quality" not in out.columns


def test_quality_gate_annotation_only_without_threshold(spark):
    """Model but no threshold: scores ride along, nothing drops —
    the same contract as the language gate without criteria."""
    clf = _quality_model(spark)
    out = curate(
        _corpus(spark), _bench(spark), contamination_n=5, quality_model=clf,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 3}  # only the standard gates dropped rows
    assert all(r["quality_prob"] is not None for r in rows.values())
