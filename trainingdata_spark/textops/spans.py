"""Substring-level duplicate-span removal — the sequence-level
complement to document-level dedup (the public method: Lee et al.
2021, "Deduplicating Training Data Makes Language Models Better",
which removes every repeated ≥50-token span; they build suffix
arrays offline, we express the same contract relationally).

Pipeline shape, and the 100 TB accounting:

1. **Window hashes** — per document, one 64-bit hash per token
   window of length ``window`` (per-row JVM ``transform``; no
   explode yet). O(tokens × window) character work, all inside
   codegen.
2. **Find repeats** — posexplode to (doc, pos, h), count occurrences
   per h. The shuffle carries (hash, count) partials — map-side
   combined, digest-only, no text moves.
3. **Keep-first exemption** — the canonical occurrence of each
   repeated hash (min (doc, pos)) is NOT removed, so shared passages
   survive exactly once in the corpus instead of vanishing from it;
   every other occurrence becomes a removal span.
4. **Merge + cut** — per document, overlapping removal windows merge
   into maximal spans (one LAG window over the doc's own spans), and
   the tokens they cover are dropped by a per-row array filter.

The INCREMENTAL form (:func:`span_index` +
:func:`incremental_duplicate_spans`) is the ingest shape: the stored
index keeps one row per distinct window hash with its canonical
first-INGESTED occurrence, a batch probes it with one equi-join on
the hash, and replay is idempotent (a re-ingested canonical is
recognized, not removed). The index is O(distinct corpus windows) ≈
one row per corpus token position — hash + id + pos only, no text;
that footprint is inherent to exact substring dedup (Lee et al. pay
it as a suffix array) and is the price of probing all history in
O(batch).

Only hashes and positions ever shuffle; document text stays columnar
in place until the final per-row rewrite. Matches are 64-bit-hash
equality, not byte equality — a collision (≈2⁻⁶⁴ per window pair)
removes a non-duplicate span; at training-data scale this is the
standard accepted trade (MinHash/LSH pipelines make the same one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trainingdata_spark.operators.spread import spread
from trainingdata_spark.textops.analysis import tokens_col

SPAN_SEED = 6151  # fixed odd prime, same discipline as dsir/minhash


def _window_hash_array(window: int, toks_col: str = "__toks") -> F.Column:
    """Per-row array of window hashes: element i (0-based) hashes
    tokens [i+1, i+window] (1-based slice). Documents shorter than
    ``window`` produce an empty array — too short to participate.
    (The empty case needs an explicit branch: ``sequence(1, 0)``
    DESCENDS in Spark rather than yielding an empty sequence.)"""
    return F.expr(
        f"case when size({toks_col}) < {window} then array() "
        f"else transform(sequence(1, size({toks_col}) - {window - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice({toks_col}, i, {window})), {SPAN_SEED})) end"
    )


def _window_occurrences(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, pos, h): every window occurrence, 1-based positions.

    Round 11: windows come from the native ``regexp_extract_all``
    shingle kernel (``_shingle_regex_raw`` — empty array for
    documents shorter than ``window``, exactly the
    ``_window_hash_array`` contract), and the xxhash64 moves AFTER
    the posexplode, where it runs as a codegen'd per-row projection
    instead of an interpreted per-element lambda. Hash input strings
    are identical (differential-pinned in tests/test_round11_opts.py
    against the HOF reference kernel)."""
    from trainingdata_spark.textops.dedup import _shingle_regex_raw

    return (
        spread(df.select(id_col, text_col))
        .select(
            id_col,
            F.posexplode(
                _shingle_regex_raw(window, F.col(text_col))
            ).alias("pos0", "__sh"),
        )
        .select(
            F.col(id_col),
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64(F.col("__sh"), F.lit(SPAN_SEED)).alias("h"),
        )
    )


def _merge_windows_to_spans(
    dup: DataFrame, id_col: str, window: int
) -> DataFrame:
    """(id, span_start, span_end): merge overlapping/adjacent removal
    windows into maximal spans — windows at pos p, p' overlap when
    p' − p < window (they share tokens); the classic gaps-and-islands
    LAG over each doc's own positions.

    No distinct: every caller feeds one row per (id, pos) occurrence
    by construction — occ has one row per window position and each
    join side carries exactly one row per hash — so deduplicating
    here would only add a full extra shuffle of the removal set
    (round-7 measurement: −0.2s at sf0.1, one exchange fewer in the
    plan)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup.select(id_col, "pos")
        .withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > window))
            .cast("int"),
        )
        .withColumn("__grp", F.sum("__new").over(w))
    )
    return islands.groupBy(id_col, "__grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + window - 1).alias("span_end"),
    ).drop("__grp")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    keep_first: bool = True,
) -> DataFrame:
    """(id, span_start, span_end): maximal 1-based token spans covered
    by windows whose hash repeats anywhere in the corpus (across OR
    within documents). With ``keep_first`` the lexicographically-first
    occurrence (min (doc id, position) per hash) is exempt — dedup
    keeps one copy of the passage, it does not erase it from the
    corpus."""
    occ = _window_occurrences(df, id_col, text_col, window)
    # Per-hash repeat count and canonical first occurrence as WINDOW
    # aggregates over one hash-partitioned pass (round 11). The former
    # shape aggregated counts separately and joined them back to occ:
    # that tokenized + window-hashed the corpus TWICE (Catalyst does
    # not dedupe the shared occ subtree across the self-join), ran the
    # min(struct) through a pair of corpus-sorted SortAggregates
    # (struct buffers are not hash-aggregable), and — the scale
    # defect — put the repeated-hash relation on the BROADCAST side,
    # which is corpus-sized in the worst case and capped at 8 GB.
    # Here: ONE corpus scan, ONE exchange of (id, pos, h) on h, one
    # hash-only sort; both aggregates share the single Window exec.
    # Identical dup multiset, pinned by the unchanged oracle. Skew
    # note: a pathologically hot window hash serializes its partition
    # in either shape (the old broadcast join merely hid it until the
    # broadcast cap); salting is deliberately not applied because the
    # canonical-first filter needs the whole hash group together.
    w = Window.partitionBy("h")
    dup = (
        occ.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn(
            "__first", F.min(F.struct(F.col(id_col), F.col("pos"))).over(w)
        )
        .filter(F.col("__n") >= 2)
    )
    if keep_first:
        dup = dup.filter(
            ~(
                (F.col(id_col) == F.col("__first")[id_col])
                & (F.col("pos") == F.col("__first")["pos"])
            )
        )
    return _merge_windows_to_spans(dup, id_col, window)


def apply_span_removal(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    output_col: str | None = None,
) -> DataFrame:
    """Rewrite ``text_col`` (or ``output_col``) dropping the tokens
    covered by ``spans`` (a (id, span_start, span_end) relation) —
    one left join of the collected span sets back onto the corpus,
    then a per-row array filter; documents with no spans pass
    through byte-identical."""
    out_col = output_col or text_col
    packed = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = tokens_col(F.col(text_col))
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i"))),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    cleaned = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    return (
        df.join(packed, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(cleaned),
        )
        .drop("__spans")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    keep_first: bool = True,
    output_col: str | None = None,
) -> DataFrame:
    """One-shot detect + cut over a whole corpus (see
    :func:`duplicate_spans` / :func:`apply_span_removal`)."""
    spans = duplicate_spans(df, id_col, text_col, window, keep_first)
    return apply_span_removal(df, spans, id_col, text_col, output_col)


# ------------------------------------------------- incremental ingest


def span_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
) -> DataFrame:
    """The persistable window-hash index of a corpus: ONE row per
    distinct window hash — (h, first_id, first_pos), the canonical
    occurrence future batches must not remove. Store it bucketed by
    ``h`` so incremental probes join without reshuffling history.
    For a corpus already ingested in batches, the index is exactly
    the union of every batch's ``new_index_rows``."""
    occ = _window_occurrences(df, id_col, text_col, window)
    return occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("f")
    ).select(
        "h", F.col(f"f.{id_col}").alias("first_id"), F.col("f.pos").alias("first_pos")
    )


def incremental_duplicate_spans(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    broadcast_probe: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Duplicate spans for an INCREMENTAL batch against all stored
    history: returns ``(spans, new_index_rows)``.

    - A batch window whose hash is in the index is a removal — UNLESS
      it IS the index's canonical occurrence (same id and position):
      that exemption is what makes replay idempotent, a re-ingested
      batch does not destroy the copy the first ingest kept.
    - A hash new to the index but repeated within the batch keeps its
      batch-first occurrence and removes the rest.
    - ``new_index_rows`` holds the batch-first occurrence of every
      hash the index has not seen; append it for the next batch.

    Keep-first is therefore FIRST-INGESTED order (the ingest-time
    semantics), where the one-shot :func:`duplicate_spans` uses min
    (id, pos) — the two agree whenever ingest order follows id order.

    Cost (``broadcast_probe=True``, the ingest default): the batch's
    DISTINCT hash set is broadcast and the index streams through an
    inner map-side join — history is SCANNED once but never
    SHUFFLED or sorted; everything downstream joins against the
    (batch-sized) matched set. The round-7 growth measurement is the
    reason this is not a plain left join: at a 64M-row index the
    shuffle-join probe took 63.5s for a 5k-doc batch where the
    broadcast probe holds the scan-only slope (FLAGSHIP "ingest
    growth curves"). The broadcast is one long per distinct batch
    hash (~8 MB per 1M hashes) — for bulk REPLAYS with huge batches
    set ``broadcast_probe=False`` to fall back to the shuffle join,
    which is cheaper when the batch is no smaller than history."""
    occ = _window_occurrences(batch, id_col, text_col, window)
    batch_counts = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__bf"),
    )
    idx = index.select("h", "first_id", "first_pos")
    if broadcast_probe:
        # matched ⊆ batch hash set: the only index rows the batch can
        # touch — produced WITHOUT shuffling the index
        idx = idx.join(F.broadcast(batch_counts.select("h")), "h")
        probed = occ.join(batch_counts, "h").join(F.broadcast(idx), "h", "left")
    else:
        probed = occ.join(batch_counts, "h").join(idx, "h", "left")
    known = F.col("first_id").isNotNull()
    is_canonical = known & (
        (F.col(id_col) == F.col("first_id")) & (F.col("pos") == F.col("first_pos"))
    )
    is_batch_first = ~known & (
        (F.col(id_col) == F.col("__bf")[id_col])
        & (F.col("pos") == F.col("__bf")["pos"])
    )
    dup = probed.filter(
        (known & ~is_canonical) | (~known & (F.col("__n") >= 2) & ~is_batch_first)
    )
    spans = _merge_windows_to_spans(dup, id_col, window)
    # anti-join against the SAME broadcast subplan as the probe (not a
    # re-pruned copy) so AQE serves it from a ReusedExchange — one
    # index scan total
    anti_side = F.broadcast(idx) if broadcast_probe else idx
    new_rows = (
        batch_counts.join(anti_side, "h", "left_anti")
        .select(
            "h",
            F.col(f"__bf.{id_col}").alias("first_id"),
            F.col("__bf.pos").alias("first_pos"),
        )
    )
    return spans, new_rows
