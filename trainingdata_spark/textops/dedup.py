"""Document deduplication at scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Design notes for 100 TB:

- Exact dedup hashes the text once (md5) and groupBys the 16-byte
  digest, never the raw text — the shuffle carries digests, not
  documents.
- MinHash: explode word shingles ONCE, md5-hash each shingle ONCE,
  then derive the k signature hashes as affine permutations
  ``(a_i * h + b_i) mod P`` (P = 2^31-1) of that single base hash —
  the classic universal-hash MinHash family. k mins aggregate in one
  groupBy — one shuffle total, map-side partial min, and the per-row
  cost is one md5 + k multiply-adds instead of k md5s.
- LSH banding buckets signature slices so candidate generation is a
  self-equi-join on (band, band_hash) — the classic
  shingle→minhash→band→bucket-join pipeline; no O(n²) cross join.
- n-gram Jaccard runs on an inverted index (shingle → doc list):
  pairs sharing a shingle are generated by a self-join on the
  shingle hash, then |A∩B| / (|A|+|B|-|A∩B|). Only co-shingled
  pairs are ever materialized.
- SimHash uses a 32-bit md5-derived token hash and an explode over
  bit positions — pure relational algebra, no UDF. (At extreme
  scale you'd fuse the bit loop into a pandas_udf; the relational
  form is kept because it is oracle-testable and still one shuffle.)

The seeded hash is ``conv(substr(md5(s || '#' || seed),1,14),16,10)``
— 56 bits, byte-identical in DuckDB ('0x'||…)::BIGINT, making every
operator here differential-testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from trainingdata_spark.operators.spread import spread
from trainingdata_spark.textops.analysis import tokens_col


def _hash56(col) -> F.Column:
    """56-bit deterministic hash of a string column via md5.

    Used wherever the hash VALUE is part of the differential-testable
    contract (MinHash signatures): a SQL oracle can recompute md5
    bit-identically. Spot-measured ~30% slower than xxhash64 on the
    shingle kernels, so operators whose outputs are only counts /
    similarities use :func:`_hash64x` instead."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 14), 16, 10).cast("bigint")


def _hash64x(col) -> F.Column:
    """xxhash64 of a string column — the fast internal hash for
    operators where hashes never leave the plan (Jaccard counts,
    decontamination hits). Deterministic (fixed seed 42), but NOT
    oracle-reproducible, so never emit it."""
    return F.xxhash64(col)


def _shingle_array(n: int, toks_col: str = "__toks") -> F.Column:
    """Array of word n-gram shingle strings (with multiplicity) from a
    token-array column — the higher-order-function form (interpreted:
    Spark evaluates the lambda's slice+concat expression tree per
    element). Kept as the reference for
    :func:`_shingle_regex_array`'s differential and for callers that
    already hold a token array that is NOT plain
    whitespace-tokenized text."""
    return F.expr(
        f"transform(sequence(1, greatest(size({toks_col}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks_col}, i, {n})))"
    )


def _shingle_regex_array(n: int, text) -> F.Column:
    """Word n-gram shingle array straight from the TEXT column — one
    native ``regexp_extract_all`` instead of the interpreted
    per-element ``transform`` walk of :func:`_shingle_array` (round
    11: the lambda interpreter, not the string work, dominated every
    shingle kernel's profile). The pattern consumes the single space
    before each token (``(?:^| )``) and captures the next ``n``
    space-separated tokens by lookahead, so every overlapping shingle
    is emitted exactly once, in document order, with multiplicity —
    identical to ``_shingle_array(n, tokens_col(text))`` on every
    input (differential-pinned in tests/test_round11_opts.py,
    including the fewer-than-n-tokens fallback, empty text, NULL
    text, and supplementary-plane code points — the consumed-space
    anchor only ever matches at real token starts, so the UTF-16
    code-unit scan cannot split surrogate pairs the way a bare
    lookahead would). NULL text coalesces to ``""`` because that is
    what the HOF form computes: ``size(NULL)`` is NULL, ``greatest``
    skips it, and ``concat_ws`` over the NULL slice yields ``''`` —
    so NULL, empty, and whitespace-only text all shingle to
    ``[""]``."""
    norm = F.coalesce(
        F.trim(F.regexp_replace(text, r"\s+", " ")), F.lit("")
    )
    if n == 1:
        return F.split(norm, " ")
    ext = _shingle_regex_raw(n, text)
    # fewer than n tokens: one whole-text shingle (the
    # ``greatest(size - n + 1, 1)`` guard of the HOF form)
    return F.when(F.size(ext) > 0, ext).otherwise(F.array(norm))


def _shingle_regex_raw(n: int, text) -> F.Column:
    """Bare native n-token shingle extraction: every overlapping
    word n-gram in document order with multiplicity, and an EMPTY
    array when the text has fewer than ``n`` tokens (no whole-text
    fallback — the contract window-hash consumers need, where a
    too-short document participates with zero windows). NULL text →
    empty array. Same normalization and pattern as
    :func:`_shingle_regex_array`."""
    norm = F.coalesce(
        F.trim(F.regexp_replace(text, r"\s+", " ")), F.lit("")
    )
    pat = "(?:^| )(?=(" + " ".join(["[^ ]+"] * n) + "))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


# Affine-permutation MinHash family over the prime field P = 2^31-1:
# h_i(x) = (A[i] * (hash56(x) mod P) + B[i]) mod P. Coefficients are
# fixed odd primes so Spark and any SQL oracle compute bit-identical
# signatures. a*(h%P) <= 65537 * 2^31 < 2^63: no 64-bit overflow.
MINHASH_P = 2_147_483_647
MINHASH_A = [2971, 5923, 7907, 9973, 12007, 14081, 16063, 18013,
             20011, 22003, 24001, 26003, 28001, 30011, 32003, 34019,
             36007, 38011, 40009, 42013, 44017, 46021, 48023, 50021,
             52021, 54001, 56003, 58013, 60013, 62003, 64007, 65537]
MINHASH_B = [1013, 3023, 5039, 7043, 11057, 13063, 17077, 19081,
             23087, 29101, 31121, 37139, 41141, 43151, 47161, 53171,
             59183, 61211, 67219, 71233, 73241, 79259, 83267, 89281,
             97283, 101293, 103307, 107309, 109313, 113327, 127331, 131339]


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: md5 digest, canonical
    (min) id, and the duplicate count. One shuffle on the digest."""
    digest = F.md5(F.col(text_col).cast("binary"))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    ``distinct=False`` skips the dedup shuffle — correct for
    consumers like MinHash where min(multiset) == min(set)."""
    out = df.select(
        F.col(id_col),
        F.explode(_shingle_regex_array(n, F.col(text_col))).alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    keep_cols: tuple[str, ...] = (),
    spread_input: bool = True,
) -> DataFrame:
    """(id, *keep_cols, sig: array<bigint> of length k).

    Entirely per-row — no explode, NO SHUFFLE: the shingle array is
    hashed once per row, and each of the k signature slots is an
    ``array_min`` over an affine permutation of those hashes (min over
    a multiset ignores multiplicity, so the per-row array form equals
    the exploded-groupBy form exactly). A signature build over 100 TB
    is therefore a pure map stage. The intermediate ``__h`` column is
    referenced k times but computed once — CollapseProject refuses to
    inline non-cheap multiply-referenced aliases.

    ``spread_input=False`` skips the narrow-input repartition probe
    (which reads ``df.rdd`` and is therefore illegal on a streaming
    DataFrame) — the map stage itself is streaming-safe."""
    assert k <= len(MINHASH_A)
    passthru = [F.col(c) for c in keep_cols]
    src = spread(df) if spread_input else df
    hashed = src.select(
        id_col,
        *passthru,
        F.transform(
            _shingle_regex_array(n, F.col(text_col)),
            lambda s: _hash56(s) % F.lit(MINHASH_P),
        ).alias("__h"),
    )
    # the k permuted mins as ONE SQL expression string: a single
    # Py4J call + one JVM-side parse instead of ~6k Column-API
    # round-trips (plan construction was costing more than execution)
    mins = ", ".join(
        f"array_min(transform(__h, h -> ({MINHASH_A[i]}L * h + {MINHASH_B[i]}L) % {MINHASH_P}L))"
        for i in range(k)
    )
    return hashed.select(id_col, *passthru, F.expr(f"array({mins})").alias("sig"))


def band_structs(k: int, bands: int, sig_col: str = "sig") -> list[F.Column]:
    """The LSH band keys of a MinHash signature column: one
    struct(band, bh) per band, where bh is the md5 of the band's
    signature slice — shared by the batch candidate-pair join and the
    streaming near-dedup (pure per-row expressions)."""
    assert k % bands == 0
    rows = k // bands
    out = []
    for b in range(bands):
        piece = F.expr(
            f"array_join(transform(slice({sig_col}, {b * rows + 1}, {rows}), x -> cast(x as string)), ',')"
        )
        out.append(
            F.struct(F.lit(b).alias("band"), F.md5(piece.cast("binary")).alias("bh"))
        )
    return out


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) that collide in at
    least one LSH band of the MinHash signature. One banding scheme
    serves every LSH consumer: this is a self-join of
    :func:`band_index` output, so the stored incremental index and
    batch candidate generation can never drift apart."""
    idx = band_index(df, id_col, text_col, n, k, bands)
    return _band_pairs(idx, idx).filter(F.col("id_a") < F.col("id_b"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
    materialize: bool = False,
    prune: str = "auto",
    prune_threshold: int = 150_000,
    collapse_exact: bool = False,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity via an inverted index —
    only pairs sharing ≥1 shingle are generated.

    ``collapse_exact=True`` routes through the round-6 collapse front
    end (:func:`_ngram_jaccard_pairs_collapsed`): documents with
    identical shingle SETS reduce to one representative before the
    explode/self-join, and member-level pairs are reconstructed
    afterwards — identical output (differential-tested). MEASURED
    NEGATIVE RESULT, default stays False: unlike the cluster-output
    dedup (L27), the member-level pair OUTPUT is itself Θ(m²) per
    exact group, so the collapse can only trim shuffle constants —
    and its extra exchanges cost more at every measured shape
    (sf0.1 ~6%-dup corpus: 1.43s plain vs 2.22s collapsed; planted
    50-deep twins: 1.47 vs 2.53; adversarial 500-deep: 1.37 vs
    1.52). Kept for corpora where the pair-agg shuffle, not the
    output, is the binding constraint (shingle-heavy docs at depth
    ≫500) and as the differential oracle for the collapse algebra.

    Plan shape (the 100 TB story):

    1. ONE projection builds each doc's distinct-shingle hash array
       and its size — tokenize/md5 run exactly once per document.
    2. One explode → (id, n, sh_hash); both self-join sides are the
       SAME subplan, so Spark's ReuseExchange serves the second side
       from the first side's shuffle files — the shingle kernel runs
       exactly once (verified by a plan regression test) and the full
       exploded relation crosses the network exactly once.
    3. Pair counts carry n_a/n_b through the groupBy as grouping
       columns — no size-lookup re-joins afterwards.

    Singleton shingles (the majority in a real corpus) ARE pre-pruned
    with a count-over-window on ``sh_hash``: the window's
    sort+exchange on sh_hash is exactly the partitioning the self-join
    needs, so the prune rides the shuffle the join pays anyway and
    drops ~94%% of rows before the merge. Measured three ways at two
    scales (tools/bench_ngram_prune.py, singleton-dominated corpus,
    best-of-N with round-robin passes):

        50k docs : no_prune 8.86s | window_prune 5.91s | agg_semi 14.03s
        250k docs: no_prune 29.2s | window_prune 33.0s | agg_semi 41.6s
                   (250k run burst-polluted; 2-16x pass-level outliers)

    window_prune wins clearly at small/mid scale (and at the sf0.1
    driver bench: 1.5s vs 2.5s for no-prune), converges with no_prune
    at 250k (sort cost grows n log n while merge savings stay linear),
    and the ``groupBy(sh_hash).count()`` + semi-join variant is always
    worst — the aggregate subtree stops sharing the probe side's
    exchange, so the tokenize kernel runs twice. Identical pair
    output for all three (cross-checked in the bench).

    ``prune`` selects the mode: ``"window"`` / ``"none"`` force it;
    ``"auto"`` (default) probes ``df.count()`` — metadata-cheap on a
    parquet-backed corpus; pass an explicit mode when the corpus is an
    expensive derived plan — and uses the window prune only below
    ``prune_threshold`` docs (default 150k, between the measured 50k
    clear-win and the 250k convergence point above).

    Total: one exploded-relation shuffle + one pair-agg shuffle, one
    read of the corpus. ``materialize=True`` additionally persists
    the exploded shingle relation (MEMORY_AND_DISK) — useful when a
    caller derives several separate actions from it, where exchange
    reuse can't cross the action boundary.

    Columns: id_a, id_b, n_common, n_a, n_b, jaccard."""
    if prune not in ("auto", "window", "none"):
        raise ValueError(f"prune must be auto|window|none, got {prune!r}")
    if prune == "auto":
        prune = "window" if df.count() <= prune_threshold else "none"
    if collapse_exact:
        return _ngram_jaccard_pairs_collapsed(
            df, id_col, text_col, n, min_jaccard, prune
        )
    doc = spread(df).select(
        id_col,
        F.transform(
            F.array_distinct(_shingle_regex_array(n, F.col(text_col))), _hash64x
        ).alias("__hs"),
    )
    shared = doc.select(
        F.col(id_col),
        F.size("__hs").alias("__n"),
        F.explode("__hs").alias("sh_hash"),
    )
    if prune == "window":
        shared = (
            shared.withColumn(
                "__c", F.count(F.lit(1)).over(Window.partitionBy("sh_hash"))
            )
            .filter(F.col("__c") >= 2)
            .drop("__c")
        )
    if materialize:
        shared = shared.persist(StorageLevel.MEMORY_AND_DISK)
    a = shared.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "sh_hash"
    )
    b = shared.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "sh_hash"
    )
    out = (
        a.join(b, "sh_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


def _ngram_jaccard_pairs_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_jaccard: float,
    prune: str,
) -> DataFrame:
    """Exact-collapse front end for :func:`ngram_jaccard_pairs` — the
    L27 move applied to the pairwise-Jaccard query (round 6).

    Key insight: pair output depends ONLY on each document's distinct
    shingle SET, so the collapse key is the shingle array itself
    (md5 of the joined hash sequence — byte-identical texts always
    produce identical arrays, so this collapses at least as much as
    the text-digest collapse). Groups with identical sets reduce to
    one representative (min id) BEFORE the explode/self-join — the
    stage that goes quadratic in group depth on twin-heavy corpora —
    and member-level pairs are reconstructed afterwards:

    - cross-group pairs: every member×member combination of the two
      groups inherits the rep pair's n_common/n_a/n_b/jaccard (their
      shingle sets are identical to their reps'), reordered so
      id_a < id_b with sizes swapped to match;
    - intra-group pairs: jaccard exactly 1.0 with
      n_common = n_a = n_b = the group's shingle count — emitted only
      for groups with ≥1 shingle (empty/null-text docs never pair in
      the uncollapsed plan either, so the all-empty group is skipped).

    Differential-tested equal to the uncollapsed plan, including on
    planted deep twin groups (tests/test_round6_fixes.py). Shuffle
    budget: +1 array-carrying exchange for the collapse window and
    +3 joins for the reconstruction, against an explode/self-join/
    pair-agg pipeline that runs on representatives only. NOTE the
    measured outcome (see ngram_jaccard_pairs): because the member-
    level OUTPUT is itself quadratic in group depth, the collapse
    does not win at any measured corpus shape — the reconstruction
    joins re-pay what the rep-only self-join saves. The win L27 gets
    from the same front end comes from its output being CLUSTERS
    (linear in members); this function keeps the machinery available
    and correctness-pinned, default off."""
    doc = spread(df).select(
        id_col,
        F.transform(
            F.array_distinct(_shingle_regex_array(n, F.col(text_col))), _hash64x
        ).alias("__hs"),
    )
    keyed = doc.select(
        F.col(id_col),
        F.coalesce(F.size("__hs"), F.lit(0)).alias("__n"),
        "__hs",
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform("__hs", lambda x: x.cast("string")), ","
                ),
                F.lit("\x00null"),
            ).cast("binary")
        ).alias("__key"),
    )
    members = keyed.withColumn(
        "__rep", F.min(id_col).over(Window.partitionBy("__key"))
    )

    # pair pipeline over representatives only (same shape as the
    # uncollapsed plan, including the size-switched window prune)
    shared = members.filter(F.col(id_col) == F.col("__rep")).select(
        F.col(id_col), F.col("__n"), F.explode("__hs").alias("sh_hash")
    )
    if prune == "window":
        shared = (
            shared.withColumn(
                "__c", F.count(F.lit(1)).over(Window.partitionBy("sh_hash"))
            )
            .filter(F.col("__c") >= 2)
            .drop("__c")
        )
    a = shared.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "sh_hash"
    )
    b = shared.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "sh_hash"
    )
    rep_pairs = (
        a.join(b, "sh_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )

    # reconstruct member-level pairs through the rep map
    mem = members.select(F.col(id_col).alias("__mid"), "__rep")
    swap = F.col("__ma") < F.col("__mb")
    cross = (
        rep_pairs.join(
            mem.select(F.col("__rep").alias("id_a"), F.col("__mid").alias("__ma")),
            "id_a",
        )
        .join(
            mem.select(F.col("__rep").alias("id_b"), F.col("__mid").alias("__mb")),
            "id_b",
        )
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "n_common",
            F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_a"),
            F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_b"),
            "jaccard",
        )
    )
    g = members.filter(F.col("__n") >= 1).select(
        "__rep", F.col(id_col).alias("__mid"), "__n"
    )
    intra = (
        g.alias("x")
        .join(g.alias("y"), "__rep")
        .filter(F.col("x.__mid") < F.col("y.__mid"))
        .select(
            F.col("x.__mid").alias("id_a"),
            F.col("y.__mid").alias("id_b"),
            F.col("x.__n").cast("long").alias("n_common"),
            F.col("x.__n").alias("n_a"),
            F.col("x.__n").alias("n_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = cross.unionByName(intra)
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


def band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The persistable LSH index of a corpus: one (band, bh, id) row
    per document per band — what an ingest pipeline stores (bucketed
    by (band, bh) in the warehouse) so future batches can probe the
    FULL corpus history without ever re-signing it. Pure map stage
    over the corpus (signatures are per-row)."""
    sig = minhash_signatures(df, id_col, text_col, n, k)
    return sig.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*band_structs(k, bands))).alias("bk"),
    ).select(F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"), "id")


def _band_pairs(idx_a: DataFrame, idx_b: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) sharing any (band, bh) across two band
    indexes — the one candidate-generation join every LSH consumer
    here shares."""
    a = idx_a.select("band", "bh", F.col("id").alias("id_a"))
    b = idx_b.select("band", "bh", F.col("id").alias("id_b"))
    return (
        a.join(b, on=["band", "bh"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate candidates for an INCREMENTAL batch against the
    stored corpus: returns ``(pairs, new_index_rows)`` where pairs are
    (id_new, id_other) — id_other from the historical index OR an
    earlier id in the same batch — and ``new_index_rows`` is what to
    append to the index for the next batch.

    This is the batch-ingest complement of the streaming near-dedup
    (streaming.py): the stream form bounds state to a watermark
    horizon; this form probes ALL history, priced as one equi-join of
    the (small) new batch's band keys against the (band, bh)-bucketed
    index — the history is never re-signed and, bucketed, never
    re-shuffled. Within-batch pairs come from a self-join of the new
    keys (tiny)."""
    new_idx = band_index(new_docs, id_col, text_col, n, k, bands)
    old = _band_pairs(new_idx, index).select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_other")
    )
    within = (
        _band_pairs(new_idx, new_idx)
        .filter(F.col("id_b") < F.col("id_a"))
        .select(F.col("id_a").alias("id_new"), F.col("id_b").alias("id_other"))
    )
    return old.union(within).distinct(), new_idx


def incremental_near_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    collapse_exact: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-time near-dedup of a batch against all history: returns
    ``(kept_new_docs, index_rows_to_append)``.

    Semantics match :func:`dedup_clusters` extended with history:
    exact duplicates within the batch collapse to one representative
    before any pair emission (``collapse_exact`` — a crawl batch with
    huge identical groups stays O(groups) in the band joins), then
    within-batch candidate pairs close transitively into components
    (operators/components.py — the batch pair set is tiny, so the
    iterative closure is cheap), then

    - every member of a component containing ANY history collision is
      dropped (the cluster's canonical representative already lives
      in the warehouse), and
    - uncontaminated components keep exactly their minimum id.

    This is order-free and chain-correct: a doc whose only collision
    is with an already-dropped batch-mate belongs to that mate's
    component and resolves with it, rather than depending on id
    ordering or micro-batch boundaries. Only SURVIVORS' index rows
    are returned; upsert them under PK ``(id, band)`` (one row per
    doc per band) so re-ingesting a changed text for an existing id
    REPLACES its band hashes instead of stranding stale ones.

    STALE history rows are excluded from the probe: an index row for
    an id re-ingested in the current batch whose (band, bh) no longer
    matches the id's re-signed bands describes its RETIRED text, and
    letting it contaminate the probe would suppress batch-mates that
    near-dup content the batch itself replaces. Rows for re-ingested
    ids whose content is UNCHANGED (byte-identical re-sign ⇒ same
    band hashes) stay in the probe — they anchor their component to
    the stored copy, so replaying a batch next to a new twin of a
    stored doc drops the twin instead of electing a smaller-id
    duplicate beside the stored row. One residual staleness window
    remains by design: if the re-ingested doc is itself dropped as a
    dup of history, its old index rows stay in the warehouse
    untouched — the caller's PK upsert only ever sees survivor
    rows."""
    new_idx_all = band_index(new_docs, id_col, text_col, n, k, bands)
    if collapse_exact:
        rep_map = exact_rep_map(new_docs, id_col, text_col)
        node_ids = rep_map.filter(F.col(id_col) == F.col("__rep_id")).select(id_col)
        new_idx = new_idx_all.join(
            node_ids.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
    else:
        node_ids = new_docs.select(id_col)
        new_idx = new_idx_all
    # fresh = rows for ids outside the batch ∪ batch-id rows whose
    # (id, band, bh) matches the re-signing (content unchanged); both
    # joins touch only the batch-id slice of the index
    batch_ids = new_docs.select(F.col(id_col).alias("id"))
    outside = index.join(batch_ids, "id", "left_anti")
    unchanged = index.join(batch_ids, "id", "left_semi").join(
        new_idx_all, ["band", "bh", "id"], "left_semi"
    )
    fresh_index = outside.unionByName(unchanged)
    within = _band_pairs(new_idx, new_idx)
    hist_hits = _band_pairs(new_idx, fresh_index).select(
        F.col("id_a").alias("node")
    ).distinct()
    survivors = survivors_of_clean_components(within, node_ids, hist_hits, id_col)
    kept = new_docs.join(survivors, id_col, "left_semi")
    kept_idx = new_idx.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    ).select("band", "bh", "id")  # canonical index order, union-safe
    return kept, kept_idx


def rep_map_by_digest(
    df: DataFrame, id_col: str, digest: F.Column
) -> DataFrame:
    """(id, __rep_id) under an arbitrary digest expression — the one
    exact-collapse implementation shared by the text path
    (:func:`exact_rep_map`) and the embedding path
    (similarity._vec_rep_map), so null handling and the min-id rule
    cannot drift between them. Null digests map to themselves."""
    w = Window.partitionBy("__digest")
    return (
        df.select(F.col(id_col), digest.alias("__digest"))
        .withColumn(
            "__rep_id",
            F.when(F.col("__digest").isNull(), F.col(id_col)).otherwise(
                F.min(id_col).over(w)
            ),
        )
        .select(id_col, "__rep_id")
    )


def survivors_of_clean_components(
    within: DataFrame, node_ids: DataFrame, hits: DataFrame, id_col: str
) -> DataFrame:
    """The shared incremental-dedup tail: close within-batch pairs
    into components, drop every component containing a history hit
    (``hits``: one ``node`` column), keep each clean component's
    minimum id. Used by both incremental_near_dedup and
    similarity.incremental_semantic_dedup — one implementation of the
    order-free chain-correct drop rule."""
    from trainingdata_spark.operators.components import connected_components

    comp = connected_components(within, "id_a", "id_b", nodes=node_ids)
    bad = comp.join(hits, "node", "left_semi").select("component").distinct()
    return (
        comp.join(bad, "component", "left_anti")
        .groupBy("component")
        .agg(F.min("node").alias(id_col))
        .select(id_col)
    )


def exact_rep_map(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, __rep_id): every document mapped to the minimum id of its
    byte-identical group — the exact-collapse step that makes the LSH
    pipeline robust to adversarially duplicated corpora.

    A web-crawl-shaped corpus contains exact-duplicate groups with
    10^4–10^5 members; feeding those raw to a band self-join emits m²
    pairs per hot (band, bh) key (the measured 437s blowup in
    FLAGSHIP.md's negative result #1). Collapsing each group to one
    representative BEFORE pair emission keeps candidate cardinality
    O(distinct texts²-per-bucket) regardless of duplication depth.

    The shuffle carries only (id, 16-byte digest) — never the text —
    and null-text rows map to themselves (they never equi-join on a
    null band hash either, so collapsing them would CHANGE cluster
    semantics)."""
    return rep_map_by_digest(
        df, id_col, F.md5(F.col(text_col).cast("binary"))
    )


def _collapsed_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    bands: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(rep_map, rep_ids, pairs): the exact-collapsed LSH candidate
    stage shared by dedup_clusters and (via the same band machinery)
    incremental_near_dedup.

    Signing stays a pure map over ALL docs — re-signing duplicate
    members wastes only per-row CPU, whereas semi-joining the corpus
    down to representatives first would shuffle document text. The
    collapse is applied to the (tiny: id + band + 32-char bh) index
    rows instead, so no pair-producing join ever sees more than one
    member per exact group."""
    rep_map = exact_rep_map(df, id_col, text_col)
    rep_ids = rep_map.filter(F.col(id_col) == F.col("__rep_id")).select(id_col)
    idx = band_index(df, id_col, text_col, n, k, bands)
    rep_idx = idx.join(
        rep_ids.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    pairs = _band_pairs(rep_idx, rep_idx).filter(F.col("id_a") < F.col("id_b"))
    return rep_map, rep_ids, pairs


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate
    pairs — the verification step that filters LSH false positives
    without ever touching non-candidate pairs.

    Plan: one map stage builds each doc's distinct-shingle hash array
    (the same kernel ngram_jaccard_pairs uses), then the pair relation
    joins that doc→array relation twice (by id_a, id_b) and the
    intersection size is a per-row ``array_intersect`` — no explode,
    no inverted index. Candidate pairs are a vanishing fraction of the
    corpus at scale, so both joins shuffle the small side only.
    Columns: id_a, id_b, jaccard."""
    doc = spread(df).select(
        id_col,
        F.transform(
            F.array_distinct(_shingle_regex_array(n, F.col(text_col))), _hash64x
        ).alias("__hs"),
    )
    a = doc.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__hs_a"))
    b = doc.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hs_b"))
    inter = F.size(F.array_intersect("__hs_a", "__hs_b"))
    union = F.size("__hs_a") + F.size("__hs_b") - inter
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    verify_jaccard: float | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-duplicate CLUSTERS: every document labeled with the
    minimum doc id of its duplicate group.

    This is the transitive-closure step the pair generators above
    stop short of: A~B and B~C put {A,B,C} in ONE cluster even when
    (A,C) never collided in any LSH band. Pipeline: exact collapse
    (:func:`exact_rep_map` — byte-identical groups reduce to one
    representative so adversarially duplicated corpora can't go
    quadratic in the band self-join) → MinHash-LSH candidate pairs
    over representatives → optional exact-Jaccard verification
    (``verify_jaccard``) → alternating-star connected components
    (operators/components.py) → members re-labeled through their
    representative → (doc_id, cluster_id). Unique documents form
    singleton clusters (cluster_id = own id).

    Output is IDENTICAL with ``collapse_exact=False`` (the pre-round-5
    uncollapsed plan, kept for differential testing): exact duplicates
    share identical signatures, so collapsing them changes candidate
    cardinality, never cluster membership, and the cluster minimum is
    always a representative (each rep is the min of its exact group)."""
    from trainingdata_spark.operators.components import connected_components

    if not collapse_exact:
        pairs = lsh_candidate_pairs(df, id_col, text_col, n, k, bands)
        if verify_jaccard is not None:
            pairs = verify_pairs_jaccard(
                df, pairs, id_col, text_col, n, min_jaccard=verify_jaccard
            )
        cc = connected_components(
            pairs, "id_a", "id_b", nodes=df.select(id_col)
        )
        return cc.select(
            F.col("node").alias(id_col), F.col("component").alias("cluster_id")
        )

    rep_map, rep_ids, pairs = _collapsed_rep_pairs(
        df, id_col, text_col, n, k, bands
    )
    if verify_jaccard is not None:
        pairs = verify_pairs_jaccard(
            df, pairs, id_col, text_col, n, min_jaccard=verify_jaccard
        )
    cc = connected_components(pairs, "id_a", "id_b", nodes=rep_ids)
    return rep_map.join(
        cc.withColumnRenamed("node", "__rep_id"), "__rep_id"
    ).select(F.col(id_col), F.col("component").alias("cluster_id"))


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    verify_jaccard: float | None = None,
    collapse_exact: bool = True,
    score_col: str | None = None,
) -> DataFrame:
    """The end-to-end near-dedup operator: returns the SURVIVOR
    corpus — one canonical document per duplicate cluster, all other
    columns passed through untouched.

    Survivor selection: minimum id by default; with ``score_col``
    (a column of ``df``, e.g. ``with_quality``'s quality_score or a
    trained-classifier probability) the HIGHEST-scored member of each
    cluster survives instead — the production curation choice: when
    near-identical page variants differ in boilerplate or truncation,
    keeping the best-scored copy beats keeping whichever crawled
    first. Deterministic: score ties (and NULL scores, which sort
    last) break toward the minimum id, so ``score_col`` with a
    constant score reproduces the default output exactly.

    Exact duplicates are collapsed before any pair-emitting join
    (``collapse_exact``, on by default — see :func:`exact_rep_map`):
    a crawl corpus with 10^5-member exact groups costs O(groups²) LSH
    candidates here, not O(members²).

    Shuffle budget on top of dedup_clusters: one anti join of the
    corpus against the non-survivor id set (plus, under ``score_col``,
    one (id, cluster, score) window ranking — keyed by cluster id, a
    relation of two ids and a double per doc). The drop side is NOT
    broadcast-hinted: on a lightly-duplicated corpus AQE broadcasts
    it anyway (it sees the runtime size), while on a heavily
    duplicated web crawl the drop set is a large fraction of the
    corpus and a forced broadcast would OOM the executors — the
    AQE-decided join is the plan that survives both corpora."""
    clusters = dedup_clusters(
        df, id_col, text_col, n, k, bands, verify_jaccard, collapse_exact
    )
    if score_col is None:
        drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    else:
        w = Window.partitionBy("cluster_id").orderBy(
            F.col(score_col).desc_nulls_last(), F.col(id_col)
        )
        drop = (
            clusters.join(df.select(id_col, score_col), id_col)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(id_col)
        )
    return df.join(drop, id_col, "left_anti")


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """32-bit SimHash over whitespace tokens (with multiplicity).

    Entirely per-row — no explode, NO SHUFFLE: the token-hash array is
    computed once per document (CollapseProject keeps the
    multiply-referenced alias un-inlined), then each bit's sign-sum is
    an ``aggregate`` over that array and the bits fold into the final
    integer in the same projection. A SimHash pass over 100 TB is a
    pure map stage; the earlier explode+groupBy form shuffled
    token-count rows per doc for the same answer.
    Columns: id, simhash (bigint)."""
    toks = tokens_col(F.col(text_col))
    th = spread(df).select(F.col(id_col), toks.alias("__toks")).select(
        id_col, F.transform("__toks", _hash56).alias("__th")
    )
    # all `bits` sign-sums + the bit fold as ONE SQL expression
    # string: a single Py4J call + one JVM parse instead of ~10k
    # Column-API round-trips (plan construction dominated execution)
    terms = " + ".join(
        f"(CASE WHEN aggregate(__th, 0L, (acc, h) -> acc + "
        f"(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << i}L ELSE 0L END)"
        for i in range(bits)
    )
    return th.select(F.col(id_col), F.expr(terms).alias("simhash"))
