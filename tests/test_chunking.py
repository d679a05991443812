"""Context-length document chunking: coverage, overlap, and edge
cases, checked against a pure-Python reference implementation."""

from __future__ import annotations

import pytest

from trainingdata_spark.textops.packing import chunk_documents


def _ref_chunks(text: str, max_tokens: int, overlap: int):
    toks = text.split()
    step = max_tokens - overlap
    starts = list(range(0, max(len(toks) - overlap, 1), step))
    return [
        (" ".join(toks[s : s + max_tokens]), min(len(toks) - s, max_tokens))
        for s in starts
    ]


def _run(spark, texts, max_tokens, overlap):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(
        df, max_tokens=max_tokens, overlap=overlap
    ).collect()
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_text"], r["chunk_tokens"])
        )
    return out


def test_matches_reference_on_varied_lengths(spark):
    texts = [
        " ".join(f"t{i}" for i in range(n))
        for n in (1, 7, 8, 9, 15, 16, 17, 24, 100)
    ]
    got = _run(spark, texts, max_tokens=8, overlap=3)
    for i, t in enumerate(texts):
        assert got[i] == _ref_chunks(t, 8, 3), f"doc {i}"


def test_short_doc_is_single_chunk(spark):
    got = _run(spark, ["only four little tokens"], max_tokens=512, overlap=64)
    assert got[0] == [("only four little tokens", 4)]


def test_consecutive_chunks_share_overlap(spark):
    text = " ".join(f"w{i}" for i in range(20))
    got = _run(spark, [text], max_tokens=10, overlap=4)
    chunks = [c.split() for c, _ in got[0]]
    for a, b in zip(chunks, chunks[1:]):
        assert a[-4:] == b[:4]
    # full coverage, in order
    merged = chunks[0] + [w for c in chunks[1:] for w in c[4:]]
    assert merged == text.split()


def test_zero_overlap_partitions_exactly(spark):
    text = " ".join(f"w{i}" for i in range(25))
    got = _run(spark, [text], max_tokens=10, overlap=0)
    assert [t for _, t in got[0]] == [10, 10, 5]
    assert " ".join(c for c, _ in got[0]) == text


def test_whitespace_normalized(spark):
    got = _run(spark, ["a   b\t c \n d"], max_tokens=8, overlap=2)
    assert got[0] == [("a b c d", 4)]


def test_invalid_overlap_raises(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)
