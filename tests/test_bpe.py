"""Distributed BPE training vs a pure-Python reference implementation
(same algorithm, same tie-break) plus encode-side properties."""

from __future__ import annotations

from collections import Counter

from trainingdata_spark.textops.bpe import (
    EOW,
    apply_bpe,
    bpe_vocab,
    train_bpe,
    word_counts,
)

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wide wider widest new low"),
    (4, "low low low newer wide"),
]


def _ref_train(rows, num_merges, min_pair_count=2):
    """Sennrich-style reference trainer on word counts."""
    wc = Counter()
    for _, text in rows:
        wc.update(text.split())
    vocab = {tuple(list(w) + [EOW]): n for w, n in wc.items()}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        # max count, ties lexicographically smallest
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def _docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_word_counts(spark):
    got = {r["word"]: r["n"] for r in word_counts(_docs(spark)).collect()}
    exp = Counter()
    for _, t in CORPUS:
        exp.update(t.split())
    assert got == dict(exp)


def test_merges_match_reference(spark):
    got = train_bpe(_docs(spark), num_merges=12)
    exp = _ref_train(CORPUS, num_merges=12)
    assert got == exp
    assert len(got) >= 8  # the corpus supports a real merge sequence
    # vocab units are the merge products
    assert bpe_vocab(got)[0] == got[0][0] + got[0][1]


def test_early_stop_on_min_pair_count(spark):
    got = train_bpe(_docs(spark), num_merges=500, min_pair_count=3)
    exp = _ref_train(CORPUS, num_merges=500, min_pair_count=3)
    assert got == exp
    assert len(got) < 500  # stopped early, not at the cap


def test_apply_bpe_roundtrip_and_compression(spark):
    docs = _docs(spark)
    merges = train_bpe(docs, num_merges=12)
    out = {r["doc_id"]: r for r in apply_bpe(docs, merges).collect()}
    for doc_id, text in CORPUS:
        toks = out[doc_id]["bpe_tokens"]
        # lossless: concatenating subwords reproduces the text sans spaces
        assert "".join(toks) == text.replace(" ", "")
        assert out[doc_id]["n_bpe_tokens"] == len(toks)
        # learned merges compress: fewer units than characters
        assert len(toks) < sum(len(w) for w in text.split())
    # frequent whole words become single units
    assert "low" in out[1]["bpe_tokens"]


def test_apply_with_empty_merges_is_chars(spark):
    docs = spark.createDataFrame([(1, "ab c")], "doc_id long, text string")
    toks = apply_bpe(docs, []).first()["bpe_tokens"]
    assert toks == ["a", "b", "c"]
