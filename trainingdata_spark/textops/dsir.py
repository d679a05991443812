"""DSIR-style data selection: importance resampling toward a target
domain over hashed n-gram features (Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling" — a public method).

The pipeline, and why every stage is 100 TB-shaped:

1. **Features** — each document is a bag of hashed word uni+bigrams:
   ``bucket = xxhash64(ngram) mod m`` with m a few thousand. Pure
   per-row JVM expressions (no UDF, no shuffle).
2. **Fit** — two bucket distributions: ``p`` over a TARGET sample
   (the domain you want more of) and ``q`` over the RAW pool. Each
   fit is one explode + one groupBy(bucket): the shuffle carries
   (bucket, partial count) pairs, map-side combined, so network
   volume is bounded by m per partition regardless of corpus size,
   and the result relation is ≤ m rows.
3. **Score** — per-document importance ``log w = Σ_b c_b·(log p̂_b −
   log q̂_b)`` (add-k smoothed). The m-row log-ratio table joins
   BROADCAST against the exploded buckets, re-aggregated on the doc
   id the explode preserved — the one shuffle, partial-aggregated
   map-side. A bucket absent from BOTH fit corpora coalesces to the
   smoothed 0/0 constant, so unseen n-grams are defined, not null.
4. **Select** — Gumbel top-k: rank by ``log w + Gumbel(id, seed)``,
   which samples k documents WITHOUT replacement with probability
   proportional to ``w`` (the Gumbel-max trick). The noise is a pure
   hash of (id, seed) — deterministic across runs and engines, like
   every sampler in :mod:`textops.sampling` — and the default cut is
   a quantile-sketch threshold (two bounded passes, no global sort);
   ``exact=True`` does a true top-k for modest k.

The reference has no data-selection machinery; this extends the
training-data suite alongside the temperature mixture and
token-budget selection in :mod:`textops.sampling`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.operators.spread import spread
from trainingdata_spark.textops.dedup import _shingle_regex_array

HASH_SEED = 4099  # fixed odd prime, same discipline as the MinHash family
DEFAULT_BUCKETS = 8192


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    bucket_hash: str = "xxhash",
) -> DataFrame:
    """Add ``__buckets``: the document's hashed n-gram bucket array.

    ``bucket_hash``: ``"xxhash"`` (default) uses the JVM's seeded
    xxhash64 — the fast production path; ``"md5"`` uses the repo's
    engine-portable 56-bit md5 hash (the :func:`sampling.hash_bucket`
    / MinHash family scheme), bit-identical in any SQL engine — the
    mode the DuckDB-differential oracle gates."""
    tmp = spread(df)
    grams = None
    for n in range(1, n_max + 1):
        # round 11: native regexp_extract_all shingles straight off the
        # text column (differential-pinned identical to the former
        # tokens_col + interpreted-HOF _shingle_array walk, incl. the
        # empty-text [""] case the filter below drops)
        part = _shingle_regex_array(n, F.col(text_col))
        grams = part if grams is None else F.concat(grams, part)
    # an empty text tokenizes to [""] — drop the empty gram rather
    # than let it pollute one bucket of both distributions
    grams = F.filter(grams, lambda g: g != "")
    if bucket_hash == "md5":
        from trainingdata_spark.textops.dedup import _hash56

        hashed = F.transform(
            grams, lambda g: F.pmod(_hash56(g), F.lit(buckets))
        )
    elif bucket_hash == "xxhash":
        hashed = F.transform(
            grams, lambda g: F.pmod(F.xxhash64(g, F.lit(HASH_SEED)), F.lit(buckets))
        )
    else:
        raise ValueError(f"bucket_hash must be 'xxhash' or 'md5', got {bucket_hash!r}")
    return tmp.withColumn("__buckets", hashed)


def bucket_distribution(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    bucket_hash: str = "xxhash",
) -> DataFrame:
    """(bucket, n): the corpus's hashed-n-gram counts — the fit
    relation, ≤ ``buckets`` rows no matter the corpus size."""
    return (
        hashed_ngram_buckets(df, text_col, buckets, n_max, bucket_hash)
        .select(F.explode("__buckets").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def importance_log_ratio(
    target_dist: DataFrame,
    raw_dist: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 0.5,
) -> tuple[DataFrame, float]:
    """(log-ratio table, default): per-bucket ``log p̂ − log q̂`` with
    add-k smoothing over the full m-bucket support.

    Returns the ≤ m-row table (bucket, log_ratio) plus the constant a
    scoring join must ``coalesce`` to for buckets absent from both
    distributions (the smoothed 0/0 case) — computing it here keeps
    the two smoothing grids in one place."""
    t_total = target_dist.agg(F.sum("n")).first()[0] or 0
    r_total = raw_dist.agg(F.sum("n")).first()[0] or 0
    t_denom = t_total + smoothing * buckets
    r_denom = r_total + smoothing * buckets
    joined = (
        target_dist.withColumnRenamed("n", "t_n")
        .join(raw_dist.withColumnRenamed("n", "r_n"), "bucket", "full_outer")
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("t_n"), F.lit(0)) + smoothing) / t_denom)
                - F.log((F.coalesce(F.col("r_n"), F.lit(0)) + smoothing) / r_denom)
            ).alias("log_ratio"),
        )
    )
    default = math.log(smoothing / t_denom) - math.log(smoothing / r_denom)
    return joined, default


def fit_log_ratio(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    smoothing: float = 0.5,
    bucket_hash: str = "xxhash",
) -> tuple[list, float]:
    """One-pass fit when the TARGET is a predicate-defined subset of
    the raw corpus (the common DSIR deployment: "docs that look like
    the benchmark/domain slice" vs "everything"): ONE corpus explode
    computes both distributions as conditional counts of the same
    groupBy, the ≤ m-row result is collected once (bounded by
    ``buckets``, like the SQ trainer's dim-sized collect), and the
    log-ratio comes back as driver-side ``(bucket, log_ratio)`` pairs
    — :func:`score_importance` consumes the pairs directly and builds
    its literal scoring plan without touching the cluster again, so
    downstream scoring never re-derives the fit from the corpus.
    Next to the two-relation :func:`importance_log_ratio` (which
    stays for separate-corpus targets, and returns a DataFrame) this
    cuts the corpus passes of a full fit+score from six to two (one
    explode for the fit, one projection pass for the score; the
    join-form score would add a third). Same smoothing grids, same
    default; returns ``(pairs, default)``."""
    rows = conditional_bucket_counts(
        df, target_pred, text_col, buckets, n_max, bucket_hash
    ).collect()
    return ratio_from_counts(rows, buckets, smoothing)


def conditional_bucket_counts(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    bucket_hash: str = "xxhash",
) -> DataFrame:
    """``(bucket, r_n, t_n)``: both fit distributions as conditional
    counts of ONE corpus explode — ``r_n`` over every document's
    grams, ``t_n`` over those where ``target_pred`` holds. The single
    implementation behind :func:`fit_log_ratio` AND the streamed fit
    (streaming.stream_dsir_fit) — the streamed fold equals the
    one-shot fit bit-exactly because they are the same expressions."""
    return (
        hashed_ngram_buckets(df, text_col, buckets, n_max, bucket_hash)
        .select(
            F.explode("__buckets").alias("bucket"),
            target_pred.alias("__t"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("r_n"),
            F.count_if(F.col("__t")).alias("t_n"),
        )
    )


def ratio_from_counts(
    rows,
    buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 0.5,
) -> tuple[list, float]:
    """(log-ratio pairs, default) from collected conditional counts —
    rows with ``bucket``/``r_n``/``t_n`` fields (≤ ``buckets`` of
    them, so driver-side math is bounded). The pairs stay on the
    driver: :func:`score_importance` accepts them as-is and ships
    them into the scoring projection as one array literal — no
    createDataFrame→collect round-trip through the JVM for data the
    driver already holds. The shared back half of
    :func:`fit_log_ratio` and the streaming state reader
    (streaming.dsir_log_ratio_from_state); use
    :func:`ratio_table` when the relation form is needed."""
    t_total = sum(r["t_n"] for r in rows)
    r_total = sum(r["r_n"] for r in rows)
    t_denom = t_total + smoothing * buckets
    r_denom = r_total + smoothing * buckets
    lr = [
        (
            int(r["bucket"]),
            math.log((r["t_n"] + smoothing) / t_denom)
            - math.log((r["r_n"] + smoothing) / r_denom),
        )
        for r in rows
    ]
    default = math.log(smoothing / t_denom) - math.log(smoothing / r_denom)
    return lr, default


def ratio_table(spark, pairs) -> DataFrame:
    """The relation form of driver-side ``(bucket, log_ratio)`` pairs
    — for callers that need the fit as a DataFrame (e.g. persisting
    it, or the explicit ``method="join"`` scoring path)."""
    return spark.createDataFrame(
        [(int(b), float(v)) for b, v in _ratio_pairs(pairs)],
        "bucket bigint, log_ratio double",
    )


def _ratio_pairs(log_ratio) -> list:
    """Normalize a driver-side fit — Rows, dicts, or 2-tuples — to
    ``[(bucket, log_ratio)]``."""
    out = []
    for r in log_ratio:
        try:
            b, v = r["bucket"], r["log_ratio"]
        except (TypeError, KeyError, IndexError, ValueError):
            b, v = r
        out.append((int(b), float(v)))
    return out


# score_importance ships the ratio table as one array literal up to
# this m; larger fits fall back to the broadcast-join form (a 64k
# double array literal is ~512 KB in the plan — fine; unbounded m is
# the caller saying the table may not fit a literal)
MAX_LITERAL_BUCKETS = 65_536


def score_importance(
    df: DataFrame,
    log_ratio,
    default_log_ratio: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    output_col: str = "dsir_logw",
    bucket_hash: str = "xxhash",
    method: str = "auto",
) -> DataFrame:
    """Per-document importance log-weight. Documents whose text
    produces no n-grams score 0 (neutral).

    ``log_ratio`` is either driver-side ``(bucket, log_ratio)`` pairs
    (what :func:`fit_log_ratio` / :func:`ratio_from_counts` return —
    Rows, dicts, or 2-tuples) or a DataFrame (what
    :func:`importance_log_ratio` returns).

    ``method="literal"``: index the ≤ m-row fit into a dense m-length
    array literal and score every document inside its own projection
    — ``aggregate(__buckets, 0.0, acc + arr[b])``. No explode, no
    join, no doc-id re-aggregation: scoring is embarrassingly
    parallel, and the fit's m-bucket shuffle is the only exchange in
    the whole fit+score pipeline. This is the 100 TB shape — the join
    form re-shuffles the entire corpus on ``id_col`` to fold
    per-bucket rows back into documents. From pairs this builds the
    plan with ZERO Spark jobs; from a DataFrame it must ``collect()``
    the fit HERE, at plan-construction time — explicit opt-in to that
    eagerness (bounded: ≤ m rows, but it executes whatever corpus
    passes the fit plan contains).

    ``method="join"``: explode the bucket array, broadcast-join the
    m-row ratio table, re-aggregate on the doc id, join back — fully
    lazy, kept for fits too wide to ship as a literal.

    ``method="auto"`` picks literal whenever it costs no cluster work
    at construction — pairs, or a driver-local relation, with
    ``buckets`` ≤ ``MAX_LITERAL_BUCKETS`` — and otherwise stays lazy
    with the join form. Callers who hold a distributed fit and want
    the literal plan anyway (e.g. the result will be consumed more
    than once, so one bounded collect beats re-running the fit per
    action) say ``method="literal"``."""
    if method not in ("auto", "literal", "join"):
        raise ValueError(f"method must be 'auto', 'literal' or 'join', got {method!r}")
    is_df = isinstance(log_ratio, DataFrame)
    if method == "auto":
        free_literal = (not is_df) or log_ratio.isLocal()
        method = "literal" if (free_literal and buckets <= MAX_LITERAL_BUCKETS) else "join"
    if method == "literal":
        pairs = _ratio_pairs(log_ratio.collect() if is_df else log_ratio)
        vals = [float(default_log_ratio)] * buckets
        for b, v in pairs:
            if not 0 <= b < buckets:
                # a negative index would silently wrap in the Python
                # list — fail loud on a table/buckets mismatch instead
                raise ValueError(
                    f"log_ratio bucket {b} outside [0, {buckets}) — "
                    "was the table fit with a different `buckets`?"
                )
            vals[b] = v
        arr = F.lit(vals)
        return (
            hashed_ngram_buckets(df, text_col, buckets, n_max, bucket_hash)
            .withColumn(
                output_col,
                F.coalesce(
                    F.aggregate(
                        F.col("__buckets"),
                        F.lit(0.0),
                        # bucket ∈ [0, m) by pmod, so the 1-based index
                        # is always in range (ANSI element_at is strict)
                        lambda acc, b: acc
                        + F.element_at(arr, (b + F.lit(1)).cast("int")),
                    ),
                    F.lit(0.0),
                ),
            )
            .drop("__buckets")
        )
    if not is_df:
        log_ratio = ratio_table(df.sparkSession, log_ratio)
    per_bucket = (
        hashed_ngram_buckets(
            df.select(id_col, text_col), text_col, buckets, n_max, bucket_hash
        )
        .select(id_col, F.explode("__buckets").alias("bucket"))
        .join(F.broadcast(log_ratio), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.coalesce(F.col("log_ratio"), F.lit(default_log_ratio))
            ).alias(output_col)
        )
    )
    return df.join(per_bucket, id_col, "left").withColumn(
        output_col, F.coalesce(F.col(output_col), F.lit(0.0))
    )


def _gumbel_noise(id_col: str, seed: int) -> F.Column:
    """Deterministic standard Gumbel draw keyed on (id, seed): md5 →
    56-bit uniform u ∈ (0,1) → −ln(−ln u). Same hash family as
    :func:`textops.sampling.hash_bucket`, so it is reproducible
    bit-identically on any engine and stable under re-runs — adding
    data never changes an existing document's draw."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"), F.lit(f":{seed}")
                ).cast("binary")
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1.0)) / F.lit(float(2**56 + 2))
    return -F.log(-F.log(u))


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    n_max: int = 2,
    smoothing: float = 0.5,
    seed: int = 0,
    exact: bool = False,
    quantile_error: float = 0.001,
) -> DataFrame:
    """Select ~k documents from ``df`` by Gumbel-top-k importance
    resampling toward ``target``'s n-gram distribution.

    ``exact=False`` (default, the at-scale path): the cut point is an
    ``approxQuantile`` over the perturbed scores — two bounded passes,
    no global sort; the returned count is k ± the sketch error.
    ``exact=True`` sorts and limits — exact k, pay the sort (fine for
    driver-sized k; a top-k limit compiles to TakeOrdered, which never
    materializes a global sort anyway). Deterministic either way:
    same inputs + seed → same selection."""
    t_dist = bucket_distribution(target, text_col, buckets, n_max)
    r_dist = bucket_distribution(df, text_col, buckets, n_max)
    ratio, default = importance_log_ratio(t_dist, r_dist, buckets, smoothing)
    # explicit literal: selection consumes the scored relation up to
    # three times (count, quantile sketch, final filter) — one bounded
    # ≤ m-row collect of the fit here beats re-running the fit's
    # corpus aggregations inside every downstream action, and the
    # whole function executes jobs anyway (it IS a selection, not a
    # plan builder)
    scored = score_importance(
        df, ratio, default, id_col, text_col, buckets, n_max,
        method="literal" if buckets <= MAX_LITERAL_BUCKETS else "join",
    ).withColumn("__key", F.col("dsir_logw") + _gumbel_noise(id_col, seed))
    if exact:
        return scored.orderBy(F.col("__key").desc()).limit(k).drop("__key")
    n = scored.count()
    if k >= n:
        return scored.drop("__key")
    q = 1.0 - k / n
    cut = scored.approxQuantile("__key", [q], quantile_error)[0]
    return scored.filter(F.col("__key") >= cut).drop("__key")
