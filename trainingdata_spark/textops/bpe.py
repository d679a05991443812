"""Distributed BPE tokenizer training — learn a byte-pair-encoding
merge list from the corpus itself, the way training-data pipelines
derive their tokenizer from the data they curate.

The classic observation (Sennrich et al. 2016; every practical BPE
trainer since) is that training never needs the token STREAM — only
the word-frequency table, which is orders of magnitude smaller than
the corpus. The Spark split follows that line exactly:

- ``word_counts``: the only corpus-scale stage — one explode + one
  map-side-combined groupBy. 100 TB of text reduces to a vocab-sized
  (word, count) relation here, and everything after operates on that.
- ``train_bpe``: the merge loop runs ON THE DRIVER over the collected
  (capped) word-count table, exactly like reference BPE trainers.
  The earlier distributed loop paid 2 Spark jobs PER MERGE (argmax
  collect + pandas-UDF rewrite) — fine at num_merges=100, a
  non-starter at a real 32k-merge vocab (~64k jobs). The relation it
  iterated on was vocab-sized anyway, so the sequential part belongs
  in-process: pair counts and a pair→words inverted index are
  maintained incrementally (only words containing the merged pair
  are rewritten each round — the Sennrich learn_bpe structure), with
  a lazy-deletion heap for the argmax. Cluster cost is ONE corpus
  reduction + one bounded collect, independent of num_merges.
- ``apply_bpe``: corpus-scale again but embarrassingly parallel — a
  pandas UDF closure over the frozen merge ranks, one map stage.

Determinism: pair-count ties break lexicographically on the pair, so
the merge list is a pure function of the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.operators.spread import spread
from trainingdata_spark.textops.analysis import tokens_col

# marks end-of-word so merges never cross word boundaries; chosen from
# the Unicode private-use area to stay out of real text
EOW = "\ue000"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over whitespace tokens — the corpus-scale reduction
    every other stage runs on."""
    return (
        spread(df)
        .select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_word(syms: list[str], a: str, b: str, merged: str) -> list[str]:
    """Left-greedy rewrite [..., a, b, ...] -> [..., a+b, ...] — the
    standard BPE rewrite; overlapping runs resolve left-first, the
    same way apply_bpe's encode loop and the SQL oracle do."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_pair_count: int = 2,
    max_vocab_words: int = 500_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(a, b), ...]; stops early when no adjacent
    pair reaches ``min_pair_count`` (weighted by word frequency).

    Cluster side: ONE map-side-combined word-count reduction — 100 TB
    of text becomes a |distinct words|-sized relation, collected once
    (bounded by ``max_vocab_words``: if the corpus has more distinct
    words, only the most frequent are kept, dropping a vanishing tail
    of hapax mass). Driver-memory sizing is dominated by the WORKING
    STATE, not the raw strings: each word becomes a Python list of
    1-char strings plus EOW (~0.5–1 KB for a 10-char word), and the
    pair-count table / inverted index hold multiple dict+set entries
    per distinct adjacent pair occurrence — budget ~1–2 KB per
    distinct word, so 500k word types ≈ 0.5–1 GB of driver heap (2M
    would be multiple GB). BPE merge quality saturates far below 2M
    types — the frequency-ranked cap drops only hapax-tail mass that
    min_pair_count would exclude from merges anyway — so the default
    stays small; raise it only with a driver sized to match.
    Driver side: the inherently sequential merge loop, maintained
    incrementally — a weighted pair-count table, a pair -> word-ids
    inverted index so each merge rewrites ONLY the words containing
    the merged pair, and a lazy-deletion max-heap for the argmax.
    Per-merge cost is O(occurrences of the merged pair), independent
    of both corpus and vocab size, so num_merges=32000 is minutes,
    not the ~64k Spark jobs of the old per-merge distributed loop.

    Ties break on the lexicographically smallest pair, so the merge
    list is a pure function of the corpus (and identical to the old
    distributed trainer's output — pinned by tests/test_bpe.py)."""
    import heapq
    from collections import Counter, defaultdict

    from pyspark.storagelevel import StorageLevel

    # persist the reduced relation so the cap probe + collect read one
    # materialization — without it the ONLY corpus-scale stage (the
    # word-count explode+groupBy) would execute twice
    base = word_counts(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        wc = base
        if base.count() > max_vocab_words:
            wc = base.orderBy(F.desc("n"), F.asc("word")).limit(max_vocab_words)
        words: list[tuple[list[str], int]] = [
            (list(r["word"]) + [EOW], r["n"]) for r in wc.collect()
        ]
    finally:
        base.unpersist()

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (syms, n) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += n
            where[p].add(wi)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        negc, p = heapq.heappop(heap)
        c = pair_counts.get(p, 0)
        if c != -negc:
            continue  # stale heap entry; the current count was re-pushed
        if c < min_pair_count:
            break
        a, b = p
        merged = a + b
        merges.append(p)
        touched: set[tuple[str, str]] = set()
        for wi in list(where.get(p, ())):
            syms, n = words[wi]
            old = Counter(zip(syms, syms[1:]))
            new_syms = _merge_word(syms, a, b, merged)
            words[wi] = (new_syms, n)
            new = Counter(zip(new_syms, new_syms[1:]))
            for q in old.keys() | new.keys():
                d = new.get(q, 0) - old.get(q, 0)
                if d:
                    pair_counts[q] += d * n
                    touched.add(q)
                if new.get(q, 0) == 0:
                    where[q].discard(wi)
                else:
                    where[q].add(wi)
        for q in touched:
            if pair_counts[q] <= 0:
                pair_counts.pop(q, None)
                where.pop(q, None)
            else:
                heapq.heappush(heap, (-pair_counts[q], q))
    return merges


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The subword units the merge list produces (merge results in
    order; base characters are implicit)."""
    return [a + b for a, b in merges]


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    keep_eow: bool = False,
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list — adds
    ``out_col`` (array of subword strings) and ``n_bpe_tokens``.
    Pure map stage: the merge ranks are a plain closure shipped with
    the task, applied per word by an Arrow-batched pandas UDF (the
    standard greedy lowest-rank-first BPE encode loop).

    ``keep_eow=False`` (default) strips the end-of-word marker for a
    human-readable, text-concatenation-lossless stream. Building a
    token→id table from :func:`bpe_vocab` (whose word-final units
    carry the marker, as trained) needs ``keep_eow=True`` — with the
    marker stripped, a word-final unit would conflate with the
    identical word-internal unit and lose the boundary distinction
    standard BPE preserves."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    # natural-language words repeat constantly; the greedy merge loop
    # is O(len²) per word, so memoize per distinct word (round 11,
    # guide §4.2/§4.5: make the per-batch Python work cheap, keep the
    # state across batches). Defined OUTSIDE the UDF body so the cache
    # rides the task closure and persists across every Arrow batch of
    # the task (inside, it would reset per batch); a plain dict, not
    # functools.lru_cache, because cloudpickle cannot serialize the
    # lru wrapper. Size-capped; returns tuples so a caller can't
    # mutate a cached entry. Measured 2.0× on a repeated-word corpus
    # (20k docs × 120 words: 1.51 s → 0.75 s noop-sink encode).
    cache: dict = {}

    def enc_word(word: str) -> tuple:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + [EOW]
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms[best : best + 2] = [syms[best] + syms[best + 1]]
        res = tuple(syms)
        if len(cache) < 65536:
            cache[word] = res
        return res

    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        def one(text) -> list[str]:
            out: list[str] = []
            for w in (text or "").split():
                units = enc_word(w)
                if not keep_eow:
                    units = [s.replace(EOW, "") for s in units]
                out.extend(units)
            return [s for s in out if s]

        return texts.map(one)

    return spread(df).withColumn(out_col, encode(F.col(text_col))).withColumn(
        "n_bpe_tokens", F.size(out_col)
    )
