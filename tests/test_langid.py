"""Trained n-gram language ID: profile training determinism,
held-out classification across six languages, miss-penalty edge
cases, broadcast plan pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trainingdata_spark.textops import langid

_TRAIN = {
    "en": [
        "the quick brown fox jumps over the lazy dog and runs away",
        "this is a sentence about the weather and the seasons of the year",
        "she said that they would come to the house in the morning",
        "we have been working on the project for three weeks now",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso y corre",
        "esta es una frase sobre el tiempo y las estaciones del ano",
        "ella dijo que vendrian a la casa por la manana temprano",
        "hemos estado trabajando en el proyecto durante tres semanas",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux",
        "ceci est une phrase sur le temps et les saisons de lannee",
        "elle a dit quils viendraient a la maison dans la matinee",
        "nous travaillons sur le projet depuis trois semaines deja",
    ],
    "de": [
        "der schnelle braune fuchs springt uber den faulen hund und rennt",
        "dies ist ein satz uber das wetter und die jahreszeiten des jahres",
        "sie sagte dass sie am morgen zum haus kommen wurden",
        "wir arbeiten seit drei wochen an dem projekt zusammen",
    ],
    "it": [
        "la rapida volpe marrone salta sopra il cane pigro e corre via",
        "questa e una frase sul tempo e le stagioni dellanno",
        "lei ha detto che sarebbero venuti a casa di mattina",
        "stiamo lavorando al progetto da tre settimane ormai",
    ],
    "pt": [
        "a rapida raposa marrom pula sobre o cachorro preguicoso e corre",
        "esta e uma frase sobre o tempo e as estacoes do ano",
        "ela disse que eles viriam para a casa de manha cedo",
        "estamos trabalhando no projeto ha tres semanas agora",
    ],
}

_HELDOUT = [
    ("h-en", "en", "they said the house would be ready in the morning"),
    ("h-es", "es", "dijo que la casa estaria lista por la manana"),
    ("h-fr", "fr", "ils ont dit que la maison serait prete dans la matinee"),
    ("h-de", "de", "sie sagten das haus wurde am morgen fertig sein"),
    ("h-it", "it", "hanno detto che la casa sarebbe pronta di mattina"),
    ("h-pt", "pt", "disseram que a casa estaria pronta de manha"),
]


def _train_df(spark):
    rows = [(lang, t) for lang, texts in _TRAIN.items() for t in texts]
    return spark.createDataFrame(rows, ["lang", "text"])


def test_char_ngrams_shape(spark):
    df = spark.createDataFrame([("ab",), ("",), (None,)], ["text"])
    got = df.select(langid.char_ngrams(F.col("text")).alias("g")).collect()
    # " ab " → bigrams [' a','ab','b '] + trigrams [' ab','ab ']
    assert got[0]["g"] == [" a", "ab", "b ", " ab", "ab "]
    assert all(len(g) in (2, 3) for g in got[0]["g"])
    # empty, whitespace-only and null text all yield NO grams (the
    # padding must not manufacture a "  " bigram that would all-miss-
    # tie to the alphabetically first language) — classified to NULL
    # downstream (no grams → no doc profile row → left-join NULL)
    assert got[1]["g"] == []
    assert got[2]["g"] == []
    ws = df.sparkSession.createDataFrame([("   ",)], ["text"]).select(
        langid.char_ngrams(F.col("text")).alias("g")).first()
    assert ws["g"] == []


def test_profiles_are_bounded_ranked_deterministic(spark):
    train = _train_df(spark)
    p1 = langid.train_language_profiles(train, top_k=200)
    p2 = langid.train_language_profiles(
        train.orderBy(F.rand(7)), top_k=200
    )  # row order must not matter
    rows1 = {(r["lang"], r["gram"]): r["rank"] for r in p1.collect()}
    rows2 = {(r["lang"], r["gram"]): r["rank"] for r in p2.collect()}
    assert rows1 == rows2
    langs = {k[0] for k in rows1}
    assert langs == set(_TRAIN)
    for lang in langs:
        ranks = sorted(v for k, v in rows1.items() if k[0] == lang)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 200


def test_classifies_heldout_sentences(spark):
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=300)
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in _HELDOUT], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["lang_id"]
        for r in langid.classify_language(docs, profiles).collect()
    }
    want = {i: lang for i, lang, _ in _HELDOUT}
    assert got == want


def test_empty_text_is_null_and_distance_column_present(spark):
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=300)
    docs = spark.createDataFrame(
        [("a", "the morning house"), ("b", ""), ("c", None)],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in langid.classify_language(docs, profiles).collect()}
    assert rows["a"]["lang_id"] == "en"
    assert rows["a"]["lang_id_dist"] is not None
    # empty AND null text classify to NULL, never to a spurious
    # alphabetically-first language
    assert rows["b"]["lang_id"] is None
    assert rows["c"]["lang_id"] is None


def test_profile_join_is_broadcast(spark):
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=100)
    docs = spark.createDataFrame([("a", "hello world")], ["doc_id", "text"])
    plan = (
        langid.classify_language(docs, profiles)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classify_evaluates_top_k_exactly_once(spark):
    """Round-9 replan pin: the per-row gram top-k (the dominant
    per-document cost — `zip_with` appears ONLY inside _runs_top_k)
    must occur exactly ONCE in the classify plan. The round-8 form
    fed it to two join branches (doc_profile + doc_sizes) and
    Catalyst does not dedupe common subtrees across branches, so the
    corpus was scanned and the top-k computed twice."""
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=100)
    docs = spark.createDataFrame([("a", "hello world")], ["doc_id", "text"])
    plan = (
        langid.classify_language(docs, profiles)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("zip_with") == 1, plan


def test_classify_with_empty_profiles_is_all_null(spark):
    profiles = spark.createDataFrame(
        [], "lang string, gram string, rank int"
    )
    docs = spark.createDataFrame([("a", "hello world")], ["doc_id", "text"])
    row = langid.classify_language(docs, profiles).first()
    assert row["lang_id"] is None and row["lang_id_dist"] is None


def test_max_chars_head_classification(spark):
    """max_chars must actually bound extraction to the HEAD: a
    document with a short English head and a long Spanish tail
    classifies 'en' under a head bound covering only the English
    part, and 'es' unbounded — a vacuous all-one-language fixture
    would pass even if max_chars were silently ignored."""
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=300)
    head_en = " ".join(_TRAIN["en"])  # ~240 chars of English...
    tail_es = " ".join(_TRAIN["es"]) * 40  # ...then ~9.5k chars of Spanish
    docs = spark.createDataFrame(
        [("mixed", head_en + " " + tail_es)], ["doc_id", "text"]
    )
    head = langid.classify_language(docs, profiles, max_chars=240).first()
    full = langid.classify_language(docs, profiles, max_chars=None).first()
    assert head["lang_id"] == "en"
    assert full["lang_id"] == "es"


def test_gram_extraction_is_linear_in_document_length(spark):
    """Canary for the two measured O(len²) traps (interpreted-lambda
    re-evaluation; positional substring's O(i) UTF-8 scan): a 300 KB
    document's grams must come out in seconds — each quadratic form
    took minutes-to-never at this size. Generous bound: ~10 s healthy
    even on a loaded host, vs ≥450 s for the broken shapes."""
    import time

    big = spark.createDataFrame([("word " * 60_000,)], ["text"])
    t0 = time.perf_counter()
    n = big.select(
        F.size(langid.char_ngrams(F.col("text"))).alias("n")
    ).first()["n"]
    took = time.perf_counter() - t0
    assert n == 2 * 300_000 - 1
    assert took < 180, f"gram extraction took {took:.0f}s — quadratic again?"


def test_doc_profile_stage_is_shuffle_free(spark):
    """The per-document profile (top-k ranked grams) must be computed
    inside the row: no Exchange, no Window, no aggregate in its plan —
    only the bounded top-k array ever leaves the row."""
    docs = spark.createDataFrame(
        [("a", "some text to profile right here")], ["doc_id", "text"]
    )
    tops = docs.select(
        "doc_id",
        langid._row_top_grams(langid.char_ngrams(F.col("text")), 300).alias("t"),
    )
    plan = tops._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_level_majority_and_purity(spark):
    """classify_language_paragraphs: a mixed EN/ES document reports
    the majority language with fraction < 1; a uniform document
    reports fraction 1; short fragments don't vote; doc with no
    qualifying paragraph classifies NULL."""
    train = _train_df(spark)
    profiles = langid.train_language_profiles(train, top_k=300)
    en = (
        "this long paragraph talks about the weather and the seasons "
        "of the year in the most ordinary english words available"
    )
    es = (
        "este parrafo largo habla sobre el tiempo y las estaciones "
        "del ano con las palabras espanolas mas comunes posibles"
    )
    rows = [
        (1, f"{en}\n\n{en} again and again\n\n{es}"),   # 2 en + 1 es
        (2, f"{es}\n\n{es} otra vez"),                  # pure es
        (3, "hi\n\nok"),                                # all too short
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["lang_majority"], r["lang_fraction"], r["n_paragraphs_classified"]
        )
        for r in langid.classify_language_paragraphs(
            df, profiles, min_chars=40
        ).collect()
    }
    assert out[1][0] == "en" and out[1][2] == 3
    assert out[1][1] == pytest.approx(2 / 3)
    assert out[2] == ("es", 1.0, 2)
    assert out[3] == (None, None, None)
    assert out[4] == (None, None, None)
