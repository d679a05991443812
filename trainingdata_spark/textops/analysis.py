"""Text analysis: tokenization, quality metrics, language ID,
document fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen) — at
100 TB these run as a single scan with no shuffle. The heuristics
are deliberately simple and deterministic so they can be
differential-tested against a SQL oracle; swap in a real model via
mapInPandas when accuracy matters more than auditability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword-hit
# language heuristic; deterministic, not linguistic truth
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "para"),
    "zh": ("的", "是", "了", "在", "和", "有", "不", "我"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization after collapsing runs of whitespace."""
    return F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ")


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_tokens (whitespace) and n_bpe_ish (a BPE-flavored count:
    word-boundary pieces + digits + punctuation as separate tokens).

    MEASURED NEGATIVE (round 12, do not re-attempt): counting these
    via ``regexp_count`` over the raw text — no collapsed copy, no
    split arrays — is value-identical (an exact closed form exists
    even for the trim-only-strips-0x20 phantom-segment quirk, pinned
    in tests/test_round12_opts.py) but SLOWER at sf1: token counts
    2.53 vs 2.52 s best / 2.76 vs 2.59 s median, and the same idea on
    with_quality's char-class counts lost 2× (3.27 vs 1.58 s).
    Spark's regexp_count evaluates a full Matcher loop per row with
    no codegen specialization; regexp_replace+length and split+size
    are simply faster per byte here (tools/bench_r12_variants.py,
    paired passes, clean calibration)."""
    t = F.col(text_col)
    toks = tokens_col(t)
    # BPE-ish: count alpha runs, digit runs and punctuation marks
    pieces = F.split(
        F.trim(F.regexp_replace(t, r"([^\sA-Za-z0-9]|\d+)", " $1 ")), r"\s+"
    )
    return df.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_bpe_ish", F.size(pieces)
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality signals: length, mean token length, punctuation ratio,
    alpha ratio, and a composite score in [0,1]."""
    t = F.col(text_col)
    n_chars = F.length(t)
    # regexp_replace+length / split+size, NOT regexp_count — the
    # count-without-materializing rewrite measured 2x SLOWER at sf1
    # (round 12; see with_tokens' docstring for the numbers)
    toks = tokens_col(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    mean_tok = n_alpha / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    score = (
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.4
        + alpha_ratio * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.2
    )
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len", mean_tok)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("quality_score", score)
    )


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: the language whose marker
    words appear most often wins; 'und' (undetermined) when nothing
    hits. One scan, no shuffle."""
    out = df.withColumn("__toks", tokens_col(F.lower(F.col(text_col))))
    langs = sorted(LANG_MARKERS)  # alphabetical tie priority
    for lang in langs:
        in_list = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        out = out.withColumn(
            f"__hits_{lang}",
            F.size(F.expr(f"filter(__toks, x -> x in ({in_list}))")),
        )
    m = F.greatest(*[F.col(f"__hits_{lang}") for lang in langs])
    guess = F.lit("und")
    for lang in reversed(langs):
        guess = F.when(F.col(f"__hits_{lang}") == m, F.lit(lang)).otherwise(guess)
    guess = F.when(m == 0, F.lit("und")).otherwise(guess)
    out = out.withColumn("lang_guess", guess)
    return out.drop("__toks", *[f"__hits_{lang}" for lang in langs])


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: md5 of the text lowercased with
    all non-alphanumerics stripped — robust to spacing/punctuation
    edits, byte-stable across engines."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]", ""))
    return df.withColumn("fingerprint", F.md5(normalized.cast("binary")))


def with_rolling_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Rolling-hash fingerprint: the minimum 56-bit hash over all
    character ``k``-grams of the normalized text (the selection step
    of a winnowing scheme with one global window). Localized edits
    leave the fingerprint unchanged unless they touch the minimizing
    k-gram, unlike the whole-document digest. Pure column expression:
    sequence→transform→array_min, no explode, no shuffle. The input is
    ``spread`` first: one md5 per k-gram is a CPU-bound kernel that a
    narrow input would serialize onto one core."""
    from trainingdata_spark.operators.spread import spread

    df = spread(df)
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]", ""))
    # k-grams via a pre-split CHAR ARRAY (slice: O(1) per element),
    # not positional substring — substring(s, i, k) finds its UTF-8
    # offset by scanning, i.e. O(i), which makes string-positional
    # k-gram walks O(len²) per document (the langid round-8 lesson,
    # measured there: 57 s → 3.4 s on one 100 KB row). Values are
    # unchanged: __norm is ASCII-only by construction, and the short/
    # empty edges produce the same joined string either way.
    expr = (
        f"array_min(transform(sequence(1, greatest(size(__nchars) - {k - 1}, 1)), "
        f"i -> cast(conv(substring(md5(cast(array_join(slice(__nchars, i, {k}), '') as binary)), 1, 14), 16, 10) as bigint)))"
    )
    return (
        df.withColumn("__nchars", F.split(normalized, ""))
        .withColumn("rolling_fp", F.expr(expr))
        .drop("__nchars")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 1,
    df_mode: str = "broadcast",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    ``tf * (ln((1 + N) / (1 + df)) + 1)`` (the sklearn-style smooth
    idf, never negative/zero so rare terms still rank). Returns
    ``(id, term, tf, tfidf, term_rank)`` with deterministic ties
    (higher tfidf first, then lexicographic term).

    Plan shape (the round-10 replan): the corpus is tokenized exactly
    ONCE. The per-term document frequency is a window count OVER the
    tf relation — not a separate aggregate joined back — so the old
    diamond (whose two branches re-executed the tokenize+explode
    subtree, or needed an explicit persist + cache-handle bookkeeping
    to avoid that) is gone along with its join exchange. Three
    corpus-sized exchanges total: the (id, term) aggregate, the term
    window, the per-doc top-k window; the N scalar rides in as a
    broadcast one-row aggregate (no collect, and its branch scans only
    the id column — never re-tokenizes). Measured at sf0.1: 0.79 s vs
    0.95 s (the old lazy double-kernel) / 0.97 s (the old persist
    form), identical output. Skew note: a stopword term concentrates
    its tf rows in one window partition — the same concentration the
    old df aggregate had on that key, one sort deeper. ``min_df`` > 1
    drops hapax noise (pruned after the window; the count IS the
    window).

    ``df_mode`` (round 12, guide §3.2/§2.4) picks how the per-term
    document frequency re-attaches to the tf relation:

    - ``"broadcast"`` (default): the exploded tokens are hash-
      partitioned by DOC ID once, up front. That one exchange then
      feeds everything exchange-free: the tf aggregate plans complete
      (hash(id) satisfies clustering on (id, term)), the df aggregate
      is served from the SAME shuffle files (ReusedExchange; the
      corpus is tokenized exactly once — plan-pinned) and collapses
      to a vocabulary-sized broadcast, and the per-doc top-k window
      rides the id partitioning with NO exchange of its own. Net: ONE
      corpus-sized exchange instead of three, no full-relation sort
      by term. Trade, measured and won at sf1 (2.16 s vs 2.94 s best,
      7/7 interleaved passes — OPTIMIZATION_r12.md): the exchange
      carries raw exploded tokens (no map-side partial-agg
      compression), which costs less than the tf-sized exchange+sort
      pair it removes. Right whenever the vocabulary fits a broadcast.
    - ``"window"``: the round-10 single-pass form — df as a window
      count over the term-partitioned tf relation. No driver-held
      vocabulary relation at all: the unbounded-vocabulary fallback.
    """
    from pyspark.sql import Window

    if df_mode not in ("broadcast", "window"):
        raise ValueError(f"df_mode must be 'broadcast' or 'window', got {df_mode!r}")
    toks = tokens_col(F.lower(F.col(text_col)))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(
        F.length("term") > 0
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("__n")
    )
    tfidf_expr = F.col("tf") * (
        F.log((F.lit(1) + F.col("__n")) / (F.lit(1) + F.col("__df"))) + F.lit(1.0)
    )
    if df_mode == "broadcast":
        tf = (
            exploded.repartition(F.col(id_col))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # df == the tf relation's per-term row count, but written as
        # sum(when(tf > 0, 1)) — tf is always ≥ 1 so the value is
        # identical to count(*), and referencing tf is a deliberate
        # column-pruning barrier: with count(*) Catalyst prunes the
        # tf column out of this branch, the two branches' subtrees
        # stop canonicalizing equal, ReuseExchange dies, and the
        # corpus is tokenized TWICE (measured: Generate ×2, no
        # ReusedExchange). With the guard the df branch is served
        # from the id-repartition's own shuffle files (plan-pinned in
        # tests/test_textops_pipeline.py).
        dfc = tf.groupBy("term").agg(
            F.sum(F.when(F.col("tf") > 0, 1)).alias("__df")
        )
        if min_df > 1:
            dfc = dfc.filter(F.col("__df") >= min_df)
        scored = (
            tf.join(F.broadcast(dfc), "term")
            .join(F.broadcast(n_docs), F.lit(True))
            .withColumn("tfidf", tfidf_expr)
        )
    else:
        tf = exploded.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
        wt = Window.partitionBy("term")
        scored = (
            tf.withColumn("__df", F.count(F.lit(1)).over(wt))
            .filter(F.col("__df") >= min_df)
            .join(F.broadcast(n_docs), F.lit(True))
            .withColumn("tfidf", tfidf_expr)
        )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "term_rank")
    )
