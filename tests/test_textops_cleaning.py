"""Cleaning operators: PII redaction, C4 line filtering, Gopher
repetition/shape filters. All expected values hand-computed."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trainingdata_spark.textops.cleaning import (
    clean_lines,
    gopher_filter,
    ngram_repetition,
    redact_pii,
    with_line_repetition,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestRedactPII:
    def test_email_ip_phone(self, spark):
        df = _docs(
            spark,
            [
                (1, "mail bob.smith+x@example.co.uk now"),
                (2, "server at 192.168.0.254 and also 999.1.1.1"),
                (3, "call (555) 123-4567 or +44 555-123-4567"),
                (4, "no pii here, just text 12345"),
            ],
        )
        out = {
            r["doc_id"]: (r["text"], r["n_pii"])
            for r in redact_pii(df).collect()
        }
        assert out[1] == ("mail <EMAIL> now", 1)
        # 999.1.1.1 is not a valid dotted quad -> untouched
        assert out[2] == ("server at <IP> and also 999.1.1.1", 1)
        assert out[3] == ("call <PHONE> or <PHONE>", 2)  # +44 prefix consumed
        assert out[4] == ("no pii here, just text 12345", 0)

    def test_card_requires_luhn(self, spark):
        df = _docs(
            spark,
            [
                # 4532015112830366 passes Luhn; 4532015112830367 fails
                (1, "pay 4532 0151 1283 0366 thanks"),
                (2, "ref 4532-0151-1283-0367 invoice"),
            ],
        )
        out = {r["doc_id"]: (r["text"], r["n_pii"]) for r in redact_pii(df).collect()}
        assert out[1] == ("pay <CARD> thanks", 1)
        assert out[2] == ("ref 4532-0151-1283-0367 invoice", 0)

    def test_out_col_keeps_original(self, spark):
        df = _docs(spark, [(1, "a@b.io")])
        row = redact_pii(df, out_col="text_redacted").collect()[0]
        assert row["text"] == "a@b.io"
        assert row["text_redacted"] == "<EMAIL>"


class TestCleanLines:
    def test_drops_boilerplate_and_short_lines(self, spark):
        text = "\n".join(
            [
                "This is a real sentence with content.",
                "ok",  # too short
                "Please enable JavaScript to continue viewing.",  # marker
                "Copyright 2020 all rights reserved everywhere.",  # marker
                "Another good line of real content here.",
            ]
        )
        row = clean_lines(_docs(spark, [(1, text)])).collect()[0]
        assert row["n_lines"] == 5
        assert row["n_lines_kept"] == 2
        assert row["text_clean"] == (
            "This is a real sentence with content.\n"
            "Another good line of real content here."
        )

    def test_terminal_punct_policy(self, spark):
        text = "A proper ending sentence.\nA dangling line without end"
        row = clean_lines(
            _docs(spark, [(1, text)]), require_terminal_punct=True
        ).collect()[0]
        assert row["n_lines_kept"] == 1
        assert row["text_clean"] == "A proper ending sentence."


class TestRepetition:
    def test_dup_line_frac(self, spark):
        text = "a b c\nd e f\na b c\na b c"
        row = with_line_repetition(_docs(spark, [(1, text)])).collect()[0]
        assert row["dup_line_frac"] == pytest.approx(0.5)  # 4 lines, 2 distinct

    def test_ngram_repetition(self, spark):
        # "x y x y x y" -> 2-grams: "x y","y x","x y","y x","x y"
        # top gram "x y" cnt=3 len=3 -> 9 / 11 chars
        df = _docs(spark, [(1, "x y x y x y"), (2, "all words differ here now")])
        out = {r["doc_id"]: r for r in ngram_repetition(df, n=2).collect()}
        assert out[1]["top_ngram_char_frac"] == pytest.approx(9 / 11, abs=1e-6)
        # dup grams: "x y"(3) 9 chars + "y x"(2) 6 chars -> capped at 1.0
        assert out[2]["top_ngram_char_frac"] < 0.5
        assert out[2]["dup_ngram_char_frac"] == 0.0

    def test_ngram_repetition_scales_shuffle_hashes(self, spark):
        # shuffle side carries xxhash64, never gram text
        plan = ngram_repetition(
            _docs(spark, [(1, "a b c")]), n=2
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in plan


class TestGopherFilter:
    def test_good_doc_kept(self, spark):
        words = " ".join(f"word{i} plain text continues" for i in range(20))
        row = gopher_filter(_docs(spark, [(1, words)])).collect()[0]
        assert row["keep"] is True
        assert row["drop_reasons"] == []

    def test_short_doc_dropped(self, spark):
        row = gopher_filter(_docs(spark, [(1, "tiny doc only")])).collect()[0]
        assert row["keep"] is False
        assert "too_few_words" in row["drop_reasons"]

    def test_bullet_doc_dropped(self, spark):
        text = "\n".join(f"- bullet item number {i} listed" for i in range(60))
        row = gopher_filter(_docs(spark, [(1, text)])).collect()[0]
        assert "bullet_lines" in row["drop_reasons"]

    def test_dup_lines_dropped(self, spark):
        text = "\n".join(["the same exact line repeats again"] * 60)
        row = gopher_filter(_docs(spark, [(1, text)])).collect()[0]
        assert "dup_lines" in row["drop_reasons"]

    def test_threshold_override(self, spark):
        row = gopher_filter(
            _docs(spark, [(1, "five words are enough now")]), min_words=5
        ).collect()[0]
        assert "too_few_words" not in row["drop_reasons"]


# ------------------------------------------------------- properties

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.lists(
    st.text(alphabet="abcdefghij", min_size=1, max_size=8), min_size=1, max_size=30
)
_pii = st.sampled_from([
    "bob@example.com",
    "x.y+z@mail.co",
    "10.0.0.1",
    "(555) 123-4567",
    "555-123-4567",
])


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(words=_words, pii=st.lists(_pii, max_size=3), seed=st.integers(0, 10**6))
def test_redaction_is_idempotent_and_complete(spark, words, pii, seed):
    """After one redaction pass no PII pattern matches remain, and a
    second pass is a no-op (n_pii == 0, text unchanged)."""
    import random

    from trainingdata_spark.textops.cleaning import redact_pii

    rng = random.Random(seed)
    toks = list(words)
    for p in pii:
        toks.insert(rng.randrange(len(toks) + 1), p)
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    once = redact_pii(df).collect()[0]
    assert once["n_pii"] >= len(pii)
    twice = redact_pii(
        spark.createDataFrame([(1, once["text"])], "doc_id int, text string")
    ).collect()[0]
    assert twice["n_pii"] == 0
    assert twice["text"] == once["text"]


class TestRepetitionFilter:
    def test_published_thresholds(self, spark):
        from trainingdata_spark.textops.cleaning import repetition_filter

        normal = " ".join(f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(20))
        loop2 = "spam ham " * 60                      # top 2-gram ~ everything
        loop7 = ("one two three four five six seven " * 20) + normal
        df = spark.createDataFrame(
            [(1, normal), (2, loop2), (3, loop7)], "doc_id int, text string"
        )
        out = {r["doc_id"]: r for r in repetition_filter(df).collect()}
        assert out[1]["keep_repetition"] is True
        assert out[1]["rep_drop_reasons"] == []
        assert out[2]["keep_repetition"] is False
        assert "top_2gram" in out[2]["rep_drop_reasons"]
        assert out[3]["keep_repetition"] is False
        assert "dup_7gram" in out[3]["rep_drop_reasons"]

    def test_trimmed_rule_set(self, spark):
        from trainingdata_spark.textops.cleaning import repetition_filter

        df = spark.createDataFrame([(1, "spam ham " * 60)], "doc_id int, text string")
        out = repetition_filter(
            df, top_ngram_max={2: 0.2}, dup_ngram_max={}
        ).collect()[0]
        assert out["rep_drop_reasons"] == ["top_2gram"]
