"""Corpus-statistics language-model scoring — the KenLM-style
perplexity filter of a training-data pipeline, reduced to its
distributed core: fit a unigram model over a (reference) corpus, then
score every document by average token log-probability /
pseudo-perplexity and filter the tails.

At 100 TB the shape is what matters, not the model order:

- Fitting is ONE explode + ONE groupBy(token) — the shuffle carries
  (token, partial count) pairs, map-side combined, so network volume
  is bounded by the vocabulary per partition, not the token stream.
- The fitted model is capped to the top ``vocab_size`` tokens (a
  KenLM filter does the same: out-of-vocab shares one floor
  probability), which makes the scoring join BROADCASTable — scoring
  a 100 TB corpus is then a pure map-side stage: explode → broadcast
  hash join → per-doc re-aggregation on the doc id the explode
  preserved (partial-aggregated map-side before the one shuffle).
- Everything is plain relational algebra with deterministic math
  (ln counts on a fixed smoothing grid) — differential-testable
  against a SQL oracle, which the test suite does.

Real pipelines swap the unigram table for a trained KenLM binary via
mapInPandas; the Spark-side plumbing (fit → broadcast → score →
filter) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.operators.spread import spread
from trainingdata_spark.textops.analysis import tokens_col


def unigram_model(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """Fit an add-k-smoothed unigram model: (token, n, logp).

    ``logp = ln((n + k) / (N + k·(V+1)))`` where N is the corpus token
    count and V the (possibly capped) vocabulary size; the +1 reserves
    probability mass for a single OOV bucket, whose floor
    ``ln(k / (N + k·(V+1)))`` is what :func:`score_documents` assigns
    unseen tokens — the model sums to 1 over V tokens + OOV.

    ``vocab_size`` caps the vocabulary to the most frequent tokens
    (ties broken by token for determinism); the cutoff is a top-k over
    the *aggregated* vocab relation, which is orders of magnitude
    smaller than the corpus."""
    counts = (
        spread(df)
        .select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if vocab_size is not None:
        counts = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_size)
    # N and V are two scalars over the (small) vocab relation; a
    # broadcast-joined 1-row aggregate keeps the whole model build in
    # one lazy plan instead of collecting to the driver
    totals = counts.agg(
        F.sum("n").alias("__N"), F.count(F.lit(1)).alias("__V")
    )
    k = float(smoothing)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "token",
            "n",
            F.log((F.col("n") + k) / (F.col("__N") + k * (F.col("__V") + 1)))
            .alias("logp"),
        )
    )


def _oov_floor(model: DataFrame, smoothing: float) -> DataFrame:
    """1-row DataFrame with the OOV log-probability implied by the
    model's own counts (recovered from n/logp: k/(N + k·(V+1)))."""
    k = float(smoothing)
    return model.agg(
        F.log(k / (F.sum("n") + k * (F.count(F.lit(1)) + 1))).alias("__oov_logp")
    )


def score_documents(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Score every document under a fitted unigram model.

    Adds ``n_tokens``, ``n_oov``, ``avg_logp`` (mean token
    log-probability, OOV tokens at the model's floor) and ``pseudo_ppl``
    (exp(−avg_logp)). The model joins BROADCAST (it is vocab-sized);
    per-doc aggregation shuffles once on the doc id.

    The OOV floor (one scalar) is computed EAGERLY here — one small
    job over the vocab relation at call time — so the returned lazy
    plan references the model exactly once (the broadcast join) and
    this function persists NOTHING: earlier rounds silently persisted
    the caller's model as a side effect, which leaked one vocab-sized
    cache per standalone call. A caller scoring repeatedly (or
    running several actions over the result) should persist the model
    itself and unpersist when done — prepare_training_corpus does
    exactly that; the eager floor then reads the warm cache for
    free."""
    toks = (
        spread(df)
        .select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    floor_row = _oov_floor(model, smoothing).first()
    oov_logp = (
        F.lit(float(floor_row["__oov_logp"]))
        if floor_row is not None and floor_row["__oov_logp"] is not None
        else F.lit(None).cast("double")
    )
    scored = (
        toks.join(F.broadcast(model.select("token", "logp")), "token", "left")
        .select(
            id_col,
            F.coalesce(F.col("logp"), oov_logp).alias("__lp"),
            F.col("logp").isNull().cast("int").alias("__oov"),
        )
    )
    # aggregate under internal names, then withColumn the public ones:
    # withColumn REPLACES a same-named existing column, so composing
    # with with_tokens/with_quality (which also emit n_tokens) scores
    # cleanly instead of dying on an ambiguous reference — the score
    # columns take precedence, documented behavior
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__lm_nt"),
        F.sum("__oov").alias("__lm_oov"),
        F.avg("__lp").alias("__lm_avg"),
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("n_tokens", F.coalesce("__lm_nt", F.lit(0)))
        .withColumn("n_oov", F.coalesce("__lm_oov", F.lit(0)))
        .withColumn("avg_logp", F.col("__lm_avg"))
        .withColumn(
            "pseudo_ppl",
            F.when(F.col("avg_logp").isNotNull(), F.exp(-F.col("avg_logp"))),
        )
        .drop("__lm_nt", "__lm_oov", "__lm_avg")
    )


def score_documents_map(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Map-only scorer: same columns as :func:`score_documents`
    (``n_tokens``/``n_oov``/``avg_logp``/``pseudo_ppl``) but computed
    entirely per-row — the model packs into ONE broadcast map column
    (vocab-sized) and each document folds its own token array with a
    higher-order ``aggregate`` doing map lookups.

    This is the STREAMING deploy shape: no explode, no per-doc
    groupBy, so it runs unchanged on a streaming DataFrame in append
    mode (the groupBy form is a streaming aggregation and would demand
    a watermark). In batch it also skips the scoring shuffle entirely;
    the trade is one map-literal broadcast per task binary vs the
    broadcast hash join. Value-identical to :func:`score_documents`
    (test-pinned)."""
    packed = model.agg(
        F.map_from_arrays(
            F.collect_list("token"), F.collect_list("logp")
        ).alias("__m"),
        F.log(
            float(smoothing)
            / (F.sum("n") + float(smoothing) * (F.count(F.lit(1)) + 1))
        ).alias("__oov_logp"),
    )
    # null text == empty text (n_tokens 0), matching score_documents'
    # left-join path — without the coalesce every fold yields null
    toks = F.filter(
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))),
        lambda t: t != F.lit(""),
    )
    out = (
        df.crossJoin(F.broadcast(packed))
        .withColumn("__toks", toks)
        .withColumn("n_tokens", F.size("__toks"))
        .withColumn(
            "n_oov",
            F.aggregate(
                "__toks",
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.when(F.element_at("__m", t).isNull(), 1).otherwise(0),
            ),
        )
        .withColumn(
            "avg_logp",
            F.when(
                F.col("n_tokens") > 0,
                F.aggregate(
                    "__toks",
                    F.lit(0.0),
                    lambda acc, t: acc
                    + F.coalesce(F.element_at("__m", t), F.col("__oov_logp")),
                )
                / F.col("n_tokens"),
            ),
        )
        .withColumn(
            "pseudo_ppl",
            F.when(F.col("avg_logp").isNotNull(), F.exp(-F.col("avg_logp"))),
        )
        .drop("__toks", "__m", "__oov_logp")
    )
    return out


def perplexity_filter(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ppl: float = 1e4,
    min_ppl: float = 0.0,
    smoothing: float = 0.5,
) -> DataFrame:
    """Keep documents whose pseudo-perplexity under ``model`` falls in
    ``[min_ppl, max_ppl]`` — the standard both-tails cut (too-high =
    gibberish / wrong language; too-low = degenerate repetition).
    Returns the surviving rows of ``df`` with the score columns kept."""
    scored = score_documents(df, model, id_col, text_col, smoothing)
    return scored.filter(
        F.col("pseudo_ppl").isNotNull()
        & (F.col("pseudo_ppl") <= max_ppl)
        & (F.col("pseudo_ppl") >= min_ppl)
    )
