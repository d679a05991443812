"""Duplicate-span removal (substring-level dedup): keep-first
semantics, span merging, within-doc repeats, short-doc passthrough."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trainingdata_spark.textops import spans

# a 12-token shared passage; tests use window=8 so it yields 5
# overlapping windows that must merge into one maximal span
PASSAGE = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"


def _uniq(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        ("a", f"{_uniq('ax', 10)} {PASSAGE} {_uniq('ay', 10)}"),
        ("b", f"{_uniq('bx', 4)} {PASSAGE} {_uniq('by', 6)}"),
        ("c", f"{PASSAGE} {_uniq('cz', 9)}"),
        ("short", "tiny doc"),
        ("clean", _uniq("qq", 40)),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_spans_found_in_copies_not_first(spark, corpus):
    found = spans.duplicate_spans(corpus, window=8).collect()
    by_doc = {}
    for r in found:
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    # doc "a" holds the lexicographically-first occurrence → exempt
    assert "a" not in by_doc
    # copies get ONE merged maximal span covering the 12-token passage
    assert by_doc["b"] == [(5, 16)]
    assert by_doc["c"] == [(1, 12)]
    assert "short" not in by_doc and "clean" not in by_doc


def test_removal_keeps_one_copy(spark, corpus):
    out = spans.remove_duplicate_spans(corpus, window=8)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert PASSAGE in texts["a"]  # first occurrence survives
    assert PASSAGE not in texts["b"] and PASSAGE not in texts["c"]
    # surrounding unique tokens untouched
    assert texts["b"].split() == (_uniq("bx", 4) + " " + _uniq("by", 6)).split()
    assert texts["c"].split() == _uniq("cz", 9).split()
    # untouched docs pass through byte-identical
    assert texts["short"] == "tiny doc"
    assert texts["clean"] == _uniq("qq", 40)


def test_within_doc_repeat_removed_once(spark):
    doc = f"{PASSAGE} {_uniq('mid', 5)} {PASSAGE}"
    df = spark.createDataFrame([("solo", doc)], ["doc_id", "text"])
    out = spans.remove_duplicate_spans(df, window=8)
    text = out.collect()[0]["text"]
    assert text.count("alpha bravo") == 1  # second occurrence cut
    assert text.split()[:12] == PASSAGE.split()
    assert "mid0" in text


def test_keep_first_false_erases_all(spark, corpus):
    out = spans.remove_duplicate_spans(corpus, window=8, keep_first=False)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    for d in ("a", "b", "c"):
        assert PASSAGE not in texts[d]


def test_output_col_preserves_original(spark, corpus):
    out = spans.remove_duplicate_spans(corpus, window=8, output_col="cleaned")
    row = {r["doc_id"]: r for r in out.collect()}["b"]
    assert PASSAGE in row["text"] and PASSAGE not in row["cleaned"]


def test_shuffle_carries_hashes_not_text(spark, corpus):
    plan = (
        spans.duplicate_spans(corpus, window=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_incremental_matches_full_when_order_follows_ids(spark, corpus):
    """Ingest in id order → incremental keep-first == the one-shot
    min(id, pos) rule; spans per doc identical."""
    b1 = corpus.filter(F.col("doc_id").isin("a", "short"))
    b2 = corpus.filter(~F.col("doc_id").isin("a", "short"))
    s1, idx1 = spans.incremental_duplicate_spans(
        b1, spans.span_index(b1, window=8).limit(0), window=8
    )
    s2, idx2 = spans.incremental_duplicate_spans(b2, idx1, window=8)
    inc = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in s1.collect() + s2.collect()
    }
    full = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans.duplicate_spans(corpus, window=8).collect()
    }
    assert inc == full
    # the union of batch index rows IS the full-corpus index
    union_idx = {
        (r["h"], r["first_id"], r["first_pos"])
        for r in idx1.collect() + idx2.collect()
    }
    full_idx = {
        (r["h"], r["first_id"], r["first_pos"])
        for r in spans.span_index(corpus, window=8).collect()
    }
    assert union_idx == full_idx


def test_incremental_replay_is_idempotent(spark, corpus):
    """Re-ingesting a batch after its index rows landed must NOT flag
    the canonical copies for removal — only the genuine duplicates."""
    s1, idx1 = spans.incremental_duplicate_spans(
        corpus, spans.span_index(corpus, window=8).limit(0), window=8
    )
    first = {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in s1.collect()
    }
    s2, idx2 = spans.incremental_duplicate_spans(corpus, idx1, window=8)
    replay = {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in s2.collect()
    }
    assert replay == first  # same removals, canonical copies untouched
    assert idx2.count() == 0  # nothing new to index


def test_incremental_cross_batch_copy_removed(spark):
    b1 = spark.createDataFrame(
        [("orig", f"{_uniq('h', 3)} {PASSAGE}")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame(
        [("copy", f"{PASSAGE} {_uniq('t', 5)}"), ("fresh", _uniq("f", 30))],
        ["doc_id", "text"],
    )
    s1, idx1 = spans.incremental_duplicate_spans(
        b1, spans.span_index(b1, window=8).limit(0), window=8
    )
    assert s1.count() == 0  # nothing duplicated yet
    s2, _ = spans.incremental_duplicate_spans(b2, idx1, window=8)
    found = {(r["doc_id"], r["span_start"], r["span_end"]) for r in s2.collect()}
    assert found == {("copy", 1, 12)}
    cleaned = spans.apply_span_removal(b2, s2, "doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    assert PASSAGE not in texts["copy"] and texts["fresh"] == _uniq("f", 30)
