"""Training-corpus cleaning: PII redaction, boilerplate line
filtering, and Gopher/C4-style repetition + shape filters.

The reference pipeline stops at market data; a training-data engine
needs the cleaning pass that sits between raw scrape and dedup. Every
operator here is either a pure column expression (one scan, no
shuffle, whole-stage codegen) or — for the n-gram repetition ratios,
which are genuinely relational — one explode + partial-aggregated
groupBy whose shuffle rows carry 8-byte gram hashes and counts, never
gram text. Nothing materializes per-document state on the driver, so
each operator scales to an arbitrary corpus by adding executors.

Heuristics follow the published C4 (Raffel et al. 2020, §2.2) and
Gopher (Rae et al. 2021, Table A1) cleaning rules, simplified to stay
deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.textops.analysis import tokens_col


def _qcol(name: str) -> Column:
    """Column by EXACT name: backtick-quoted so a name containing a
    dot is not parsed as a struct accessor (and spaces/dashes resolve
    too) — every operator here takes user-supplied column names."""
    return F.col("`" + name.replace("`", "``") + "`")

# ---------------------------------------------------------------- PII

# Deterministic, auditable patterns — a production pass would follow
# with an NER model via mapInPandas; these catch the formats that
# dominate web scrapes. Java regex syntax (JVM-side regexp_replace).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # dotted-quad with per-octet range guard (0-255)
    "ip": (
        r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
        r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b",
        "<IP>",
    ),
    # +country? then 10-ish digits in common separators; anchored on
    # non-digit boundaries so it won't eat ids/timestamps
    "phone": (
        r"(?<![\dA-Za-z])(?:\+\d{1,3}[ .-]?)?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])"
        r"\d{3}[ .-]\d{4}(?![\dA-Za-z])",
        "<PHONE>",
    ),
}

# 13-19 digits with optional single space/dash separators — candidate
# only; redaction requires the Luhn checksum to pass (below), so
# arbitrary long numbers survive.
CARD_CANDIDATE_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    kinds: tuple[str, ...] = ("email", "ip", "phone", "card"),
) -> DataFrame:
    """Redact PII spans in ``text_col``, replacing each with a typed
    placeholder token, plus an ``n_pii`` count of redacted spans.

    Card numbers are only redacted when they pass the Luhn checksum
    (``luhn_check``, JVM built-in) — pure pattern matching would eat
    invoice numbers and hashes. The whole operator is one projection:
    chained ``regexp_replace`` plus one higher-order ``aggregate`` for
    the checksum-gated card spans. No shuffle, no UDF.
    """
    out_col = out_col or text_col
    col = _qcol(text_col)
    n_pii = F.lit(0)
    for kind in kinds:
        if kind == "card":
            continue
        pat, token = PII_PATTERNS[kind]
        # column-object form: interpolating text_col into an expr SQL
        # string breaks on names that need backtick-quoting
        n_pii = n_pii + F.size(
            F.regexp_extract_all(_qcol(text_col), F.lit(pat), F.lit(0))
        )
        col = F.regexp_replace(col, pat, token)
    out = df.withColumn("__redacted", col)
    if "card" in kinds:
        # extract candidates from the ORIGINAL text (placeholders
        # contain no digits, so order doesn't matter), keep the
        # Luhn-valid ones, then fold replace() over them.
        # candidates extracted column-side (text_col never enters an
        # expr string); the luhn_check lambda stays an expr because the
        # function has no python binding — it references only the
        # fixed internal name __cand
        cand = F.regexp_extract_all(
            _qcol(text_col), F.lit(CARD_CANDIDATE_RE), F.lit(0)
        )
        valid_cards = F.expr(
            "filter(__cand, c -> luhn_check(regexp_replace(c, '[^0-9]', '')))"
        )
        out = (
            out.withColumn("__cand", cand)
            .withColumn("__cards", valid_cards)
            .drop("__cand")
            .withColumn(
                "__redacted",
                F.expr(
                    "aggregate(__cards, __redacted, (acc, c) -> replace(acc, c, '<CARD>'))"
                ),
            )
            .withColumn("n_pii", n_pii + F.size(F.col("__cards")))
            .drop("__cards")
        )
    else:
        out = out.withColumn("n_pii", n_pii)
    return out.withColumn(out_col, F.col("__redacted")).drop("__redacted")


# ------------------------------------------------------- line filtering

# C4 drops any page containing these outright; we expose both the
# doc-level drop and a line-level strip.
DOC_DROP_MARKERS: tuple[str, ...] = ("lorem ipsum", "{")
LINE_DROP_MARKERS: tuple[str, ...] = (
    "javascript",
    "cookie policy",
    "terms of use",
    "privacy policy",
    "all rights reserved",
    "click here",
)


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = False,
) -> DataFrame:
    """C4-style line filter: split into lines, drop boilerplate lines
    (too few words, marker phrases, optionally missing terminal
    punctuation), rejoin. Adds ``text_clean``, ``n_lines`` and
    ``n_lines_kept``. Pure array expression — one scan, no explode.
    """
    markers = ", ".join(f"'{m}'" for m in LINE_DROP_MARKERS)
    conds = [
        f"size(split(trim(line), ' +')) >= {min_words}",
        f"not exists(array({markers}), m -> contains(lower(line), m))",
    ]
    if require_terminal_punct:
        conds.append("trim(line) rlike '[.!?\"]$'")
    keep = " and ".join(conds)
    lines = F.split(_qcol(text_col), r"\n")
    return (
        df.withColumn("__lines", lines)
        .withColumn("__kept", F.expr(f"filter(__lines, line -> {keep})"))
        .withColumn("n_lines", F.size("__lines"))
        .withColumn("n_lines_kept", F.size("__kept"))
        .withColumn("text_clean", F.array_join("__kept", "\n"))
        .drop("__lines", "__kept")
    )


def frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    max_doc_frac: float = 0.01,
    min_docs: int = 2,
) -> DataFrame:
    """Lines that appear in at least ``max(min_docs, max_doc_frac ×
    corpus size)`` DISTINCT documents — the corpus-level boilerplate
    inventory (nav bars, cookie banners, license footers) that
    per-document filters can't see. Columns: (line_hash, n_docs).

    One explode of per-doc DISTINCT trimmed lines + one groupBy on the
    8-byte xxhash64 of each line — the shuffle carries hashes and
    counts, never line text. The result is intrinsically small: lines
    in ≥ frac·N docs number at most L/frac for average doc length L,
    independent of corpus size — which is what makes the removal step
    broadcastable at any scale."""
    # column-object form (not an interpolated F.expr SQL string): a
    # text column whose name needs backtick-quoting (space, dash, dot)
    # would break or silently misparse inside expr
    lines = F.array_distinct(
        F.transform(F.split(_qcol(text_col), "\n"), lambda l: F.trim(l))
    )
    counts = (
        df.select(F.explode(lines).alias("__line"))
        .filter(F.col("__line") != "")
        .select(F.xxhash64("__line").alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = df.agg(F.count(F.lit(1)).alias("__ndocs"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("n_docs")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.lit(float(max_doc_frac)) * F.col("__ndocs")),
            )
        )
        .select("line_hash", "n_docs")
    )


def drop_frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    max_doc_frac: float = 0.01,
    min_docs: int = 2,
    eager_inventory: bool = False,
) -> DataFrame:
    """Remove corpus-frequent boilerplate lines from every document
    (RefinedWeb-style inter-document line dedup). Adds ``text_clean``
    (line order preserved) and ``n_lines_dropped``.

    Plan: the frequent-line inventory (see :func:`frequent_lines`)
    collapses to ONE array via ``collect_set`` — bounded at ≤ L/frac
    entries regardless of corpus size — and broadcast-crossJoins back,
    so the removal itself is a pure per-row array filter: one
    explode+groupBy shuffle total, corpus scanned twice, no join on
    the corpus side.

    ``eager_inventory=True`` collects that bounded set to the driver
    NOW and embeds it as a literal — the right mode when the result
    feeds multiple actions (the curation chain does this): a lazy
    inventory subtree would re-run its corpus-wide explode+groupBy
    once per consuming action, a literal runs it exactly once."""
    freq = frequent_lines(df, text_col, max_doc_frac, min_docs)
    if eager_inventory:
        hashes = sorted(r["line_hash"] for r in freq.collect())
        freq_set = df.sparkSession.createDataFrame(
            [(hashes,)], "__freq array<bigint>"
        )
    else:
        freq_set = freq.agg(
            F.coalesce(
                F.collect_set("line_hash"), F.array().cast("array<bigint>")
            ).alias("__freq")
        )
    lines = F.split(_qcol(text_col), r"\n")
    return (
        df.crossJoin(F.broadcast(freq_set))
        .withColumn("__lines", lines)
        .withColumn(
            "__kept",
            F.expr(
                "filter(__lines, l -> trim(l) = '' "
                "or not array_contains(__freq, xxhash64(trim(l))))"
            ),
        )
        .withColumn("n_lines_dropped", F.size("__lines") - F.size("__kept"))
        .withColumn("text_clean", F.array_join("__kept", "\n"))
        .drop("__lines", "__kept", "__freq")
    )


# --------------------------------------------------- repetition ratios


def with_line_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher line-repetition signal: fraction of lines that are exact
    duplicates of an earlier line. Pure array expression per row."""
    lines = F.split(_qcol(text_col), r"\n")
    n = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    return df.withColumn(
        "dup_line_frac",
        F.when(n > 0, (n - n_distinct) / n).otherwise(F.lit(0.0)),
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher n-gram repetition ratios per document:

    - ``top_ngram_char_frac``: characters covered by occurrences of
      the single most frequent word n-gram / total characters.
    - ``dup_ngram_char_frac``: characters covered by all n-grams that
      occur more than once / total characters.

    Plan: tokenize → per-row n-gram array (pure expression) → explode
    → groupBy (doc, gram-hash) with map-side partial counts → one
    per-doc aggregate. The shuffle carries (id, xxhash64, chars,
    count) — never gram text — so shuffle volume is bounded by
    distinct-gram count, not corpus bytes. Returns (id_col,
    top_ngram_char_frac, dup_ngram_char_frac); join back on id_col.
    Collisions: a 64-bit hash conflating two grams within one
    document is ~1e-10 at 1M distinct grams/doc — acceptable for a
    filter threshold."""
    toks = tokens_col(_qcol(text_col))
    grams = F.expr(
        "transform(sequence(1, greatest(size(__toks) - %d, 1)), "
        "i -> array_join(slice(__toks, i, %d), ' '))" % (n - 1, n)
    )
    per_gram = (
        df.select(
            F.col(id_col),
            (F.length(_qcol(text_col)) + F.lit(0)).alias("__chars_doc"),
            _qcol(text_col),
        )
        .withColumn("__toks", toks)
        .withColumn("__grams", grams)
        .select(
            id_col,
            "__chars_doc",
            F.explode("__grams").alias("__gram"),
        )
        .groupBy(id_col, F.xxhash64("__gram").alias("__gh"))
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.first(F.length("__gram")).alias("__glen"),
            F.first("__chars_doc").alias("__chars_doc"),
        )
    )
    covered = F.col("__cnt") * F.col("__glen")
    return per_gram.groupBy(id_col).agg(
        F.round(
            F.least(
                F.max(covered) / F.greatest(F.first("__chars_doc"), F.lit(1)),
                F.lit(1.0),
            ),
            6,
        ).alias("top_ngram_char_frac"),
        F.round(
            F.least(
                F.sum(F.when(F.col("__cnt") > 1, covered).otherwise(F.lit(0)))
                / F.greatest(F.first("__chars_doc"), F.lit(1)),
                F.lit(1.0),
            ),
            6,
        ).alias("dup_ngram_char_frac"),
    )


# published Gopher repetition thresholds (Rae et al. 2021, Table A1):
# top n-gram char fraction for n=2..4, duplicate n-gram char fraction
# for n=5..10
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_max: dict[int, float] | None = None,
    dup_ngram_max: dict[int, float] | None = None,
) -> DataFrame:
    """The Gopher repetition ruleset: one :func:`ngram_repetition`
    pass per n, folded into per-document ``rep_drop_reasons`` and a
    ``keep_repetition`` flag (joined back on ``id_col``; documents
    lose no rows — compose with :func:`gopher_filter` for the full
    published filter).

    Each n is an independent explode + count-aggregate whose shuffle
    carries (id, gram-hash, count); n passes cost n scans of the
    tokenized corpus but no pass is ever all-pairs. Trim the dicts
    (e.g. ``top_ngram_max={2: 0.2}, dup_ngram_max={10: 0.1}``) when
    scan budget matters more than rule fidelity."""
    top_ngram_max = GOPHER_TOP_NGRAM_MAX if top_ngram_max is None else top_ngram_max
    dup_ngram_max = GOPHER_DUP_NGRAM_MAX if dup_ngram_max is None else dup_ngram_max
    out = df
    reasons = []
    for n, thr in sorted(top_ngram_max.items()):
        rep = ngram_repetition(df, id_col, text_col, n).select(
            id_col, F.col("top_ngram_char_frac").alias(f"__top{n}")
        )
        out = out.join(rep, on=id_col, how="left")
        reasons.append(
            F.when(F.col(f"__top{n}") > thr, F.lit(f"top_{n}gram"))
        )
    for n, thr in sorted(dup_ngram_max.items()):
        rep = ngram_repetition(df, id_col, text_col, n).select(
            id_col, F.col("dup_ngram_char_frac").alias(f"__dup{n}")
        )
        out = out.join(rep, on=id_col, how="left")
        reasons.append(
            F.when(F.col(f"__dup{n}") > thr, F.lit(f"dup_{n}gram"))
        )
    out = out.withColumn(
        "rep_drop_reasons", F.array_compact(F.array(*reasons))
    ).withColumn("keep_repetition", F.size("rep_drop_reasons") == 0)
    helper = [f"__top{n}" for n in top_ngram_max] + [f"__dup{n}" for n in dup_ngram_max]
    return out.drop(*helper)


# ------------------------------------------------------ Gopher filter

GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "max_dup_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
}


def gopher_filter(
    df: DataFrame, text_col: str = "text", **overrides: float
) -> DataFrame:
    """Gopher (Rae et al. 2021, Table A1) document-shape filter.

    Adds per-rule booleans, a ``keep`` flag, and ``drop_reasons``
    (array of failed rule names, deterministic order). All rules are
    single-scan column expressions; combine with
    :func:`with_line_repetition` / :func:`ngram_repetition` for the
    repetition rules. The thresholds are the published ones."""
    p = {**GOPHER_DEFAULTS, **overrides}
    t = _qcol(text_col)
    toks = tokens_col(t)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1))
    mean_wl = F.expr(
        "aggregate(%s, 0L, (a, w) -> a + length(w))" % "__toks"
    ) / safe_words
    n_symbols = F.size(F.expr("filter(__toks, w -> w in ('#', '…') or contains(w, '...'))"))
    lines = F.split(t, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.size(
        F.expr("filter(__lines, l -> trim(l) rlike '^[-*•●]')")
    ) / n_lines
    ellipsis_frac = F.size(
        F.expr("filter(__lines, l -> trim(l) rlike '(\\\\.\\\\.\\\\.|…)$')")
    ) / n_lines
    alpha_word_frac = F.size(
        F.expr("filter(__toks, w -> w rlike '[A-Za-z]')")
    ) / safe_words
    dup_line_frac = (
        F.size("__lines") - F.size(F.array_distinct("__lines"))
    ) / n_lines

    out = df.withColumn("__toks", toks).withColumn("__lines", lines)
    rules: list[tuple[str, Column]] = [
        ("too_few_words", n_words < p["min_words"]),
        ("too_many_words", n_words > p["max_words"]),
        ("mean_word_len", (mean_wl < p["min_mean_word_len"]) | (mean_wl > p["max_mean_word_len"])),
        ("symbol_ratio", n_symbols / safe_words > p["max_symbol_word_ratio"]),
        ("bullet_lines", bullet_frac > p["max_bullet_line_frac"]),
        ("ellipsis_lines", ellipsis_frac > p["max_ellipsis_line_frac"]),
        ("dup_lines", dup_line_frac > p["max_dup_line_frac"]),
        ("alpha_words", alpha_word_frac < p["min_alpha_word_frac"]),
    ]
    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])
    )
    out = out.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )
    return out.drop("__toks", "__lines")
