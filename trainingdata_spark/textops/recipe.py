"""The full training-data preparation recipe — every stage in this
package composed into one callable pipeline, in the order a
production corpus build runs them:

    curate (PII → line clean → corpus-frequent lines → Gopher →
            exact dedup → decontaminate → splits)
  → trained quality-classifier filter (optional, fastText-style)
  → near-duplicate cluster resolution (MinHash-LSH → components →
            one survivor per duplicate group)
  → substring-level duplicate-span removal (optional, keep-first)
  → unigram-LM perplexity filter (fit on the surviving corpus)
  → DSIR importance resampling toward a target domain (optional)
  → quality-ranked token-budget selection (optional)
  → temperature-flattened domain mixture (optional)
  → deterministic epoch shuffle
  → context-window chunking or token-budget packing

Each stage is the already-tested operator; this module contributes
the composition, the stage-boundary materialization policy, and a
per-stage row/token audit so a corpus build is inspectable before it
is committed. Heavy multi-consumer intermediates are persisted at
exactly two points (the curated corpus and the dedup survivors);
everything else stays one lazy plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import log as _ln

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from trainingdata_spark.textops.curate import curate
from trainingdata_spark.textops.dedup import near_dedup
from trainingdata_spark.textops.lm import (
    perplexity_filter,
    unigram_model,
)
from trainingdata_spark.textops.packing import chunk_documents
from trainingdata_spark.textops.sampling import (
    mixture_sample,
    select_token_budget,
    shuffle_rows,
    temperature_mixture_rates,
)


@dataclass
class RecipeResult:
    """The prepared corpus plus the per-stage audit trail."""

    corpus: DataFrame  # shuffled, chunked training rows
    audit: list[tuple[str, int]] = field(default_factory=list)  # (stage, rows out)
    _cached: list[DataFrame] = field(default_factory=list)

    def audit_df(self, spark) -> DataFrame:
        return spark.createDataFrame(self.audit, "stage string, rows long")

    def release(self) -> None:
        """Unpersist the recipe's remaining cached boundary (call
        after the corpus has been written/consumed). Intermediate
        boundaries are already released as the chain advances."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def prepare_training_corpus(
    docs: DataFrame,
    bench: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str | None = None,
    curate_kwargs: dict | None = None,
    quality_model=None,
    quality_threshold: float = 0.5,
    dedup_kwargs: dict | None = None,
    span_window: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    max_ppl: float | None = 1e4,
    min_ppl: float = 0.0,
    lm_vocab_size: int = 50_000,
    budget_tokens: int | None = None,
    mixture_alpha: float | None = None,
    shuffle_seed: int = 0,
    chunk_max_tokens: int = 512,
    chunk_overlap: int = 64,
) -> RecipeResult:
    """Run the full prep chain; every stage optional-by-default off
    except curation, near-dedup, LM filter, shuffle and chunking.

    ``bench`` enables decontamination inside curation; ``domain_col``
    + ``mixture_alpha`` enable temperature mixture flattening;
    ``budget_tokens`` enables quality-ranked selection;
    ``quality_model`` (a fitted :func:`quality_clf.
    train_quality_classifier` model) enables the trained filter right
    after curation; ``span_window`` enables substring-level
    duplicate-span removal after doc-level dedup (documents emptied
    by the cut are dropped); ``dsir_target`` + ``dsir_k`` enable DSIR
    importance resampling toward the target corpus after the LM
    filter. Selection
    ranks by CLOSENESS to the corpus's median log-perplexity, not by
    raw low perplexity: the LM is fit on the corpus itself, so its
    lowest-ppl tail is degenerate repetition (the exact tail
    ``perplexity_filter``'s floor exists to cut) and ranking by
    ``-ppl`` would select that tail FIRST under tight budgets —
    both extremes now rank last. ``min_ppl`` additionally hard-cuts
    the degenerate floor before any ranking (0.0 = off).

    The audit list records surviving row counts after each enabled
    stage — the same funnel a 100 TB build prints before committing.
    Each count is one cheap action against a persisted boundary, and
    each boundary is unpersisted as soon as the next one is
    materialized, so at most two corpus-sized caches are live at any
    moment (curate's internal kernel cache plus the current
    boundary). Call ``RecipeResult.release()`` after consuming the
    corpus to drop the last one."""
    if quality_model is not None and "quality_model" in (curate_kwargs or {}):
        raise ValueError(
            "prepare_training_corpus: pass quality_model either as the "
            "recipe stage (this function's argument, audit-counted) or "
            "inside curate_kwargs (fused into curate's plan), not both — "
            "both at once would score and gate twice"
        )
    audit: list[tuple[str, int]] = [("input", docs.count())]

    # no recipe-level persist of the curate output: curate's own
    # materialize already caches the expensive regex-kernel relation,
    # and the filter over it is cheap to replay per consumer. The
    # registry captures that internal persist's handle so release()
    # can actually drop it (it used to leak until context GC).
    curate_caches: list[DataFrame] = []
    out = curate(docs, bench, id_col=id_col, text_col=text_col,
                 cache_registry=curate_caches, **(curate_kwargs or {}))
    audit.append(("curate", out.count()))

    if quality_model is not None:
        from trainingdata_spark.textops.quality_clf import quality_filter

        out = quality_filter(
            out, quality_model, threshold=quality_threshold,
            text_col=text_col, keep_score=False,
        )
        audit.append(("quality_clf", out.count()))

    dedup_bound = near_dedup(out, id_col=id_col, text_col=text_col,
                             **(dedup_kwargs or {}))
    dedup_bound = dedup_bound.persist(StorageLevel.MEMORY_AND_DISK)
    audit.append(("near_dedup", dedup_bound.count()))
    out = dedup_bound

    if span_window is not None:
        from trainingdata_spark.textops.spans import (
            remove_duplicate_spans,
        )

        # feeds the LM fit, the scoring pass and its own audit count —
        # persist the boundary and release the one it supersedes
        span_bound = remove_duplicate_spans(
            out, id_col=id_col, text_col=text_col, window=span_window
        ).filter(F.trim(F.col(text_col)) != "")
        span_bound = span_bound.persist(StorageLevel.MEMORY_AND_DISK)
        audit.append(("span_dedup", span_bound.count()))
        dedup_bound.unpersist()
        dedup_bound = span_bound  # later bookkeeping releases this handle
        out = span_bound

    # persist the model HERE so the scoring join, its eager OOV-floor
    # probe, and the audit actions all read one warm vocab-sized
    # cache the recipe owns (and release() drops)
    model = unigram_model(out, text_col=text_col, vocab_size=lm_vocab_size)
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    if max_ppl is not None:
        scored = perplexity_filter(
            out, model, id_col=id_col, text_col=text_col,
            max_ppl=max_ppl, min_ppl=min_ppl,
        )
    else:
        from trainingdata_spark.textops.lm import score_documents

        scored = score_documents(out, model, id_col=id_col, text_col=text_col)
    # the scored boundary feeds up to five later actions (budget
    # stats/bins, mixture rates, counts, the final corpus); persist it
    # and release the dedup boundary it supersedes. Keep the HANDLE of
    # the persisted DataFrame itself — release() must unpersist this
    # exact object (unpersisting a derived DataFrame is a no-op on the
    # parent's cache), so later stages reassign a different variable.
    scored_bound = scored.persist(StorageLevel.MEMORY_AND_DISK)
    audit.append(("lm_filter", scored_bound.count()))
    dedup_bound.unpersist()
    scored = scored_bound

    if dsir_target is not None and dsir_k is not None:
        from trainingdata_spark.textops.dsir import dsir_select

        scored = dsir_select(
            scored, dsir_target, k=dsir_k, id_col=id_col, text_col=text_col
        ).drop("dsir_logw")
        audit.append(("dsir", scored.count()))

    if budget_tokens is not None:
        # rank by |ln ppl − ln median(ppl)|: the self-fit LM's lowest
        # perplexities are degenerate repetition, so distance from the
        # corpus-typical perplexity is the quality signal — one cheap
        # approxQuantile action against the persisted boundary
        q = scored_bound.approxQuantile("pseudo_ppl", [0.5], 0.01)
        med = q[0] if q else 1.0
        scored = select_token_budget(
            scored.withColumn(
                "__quality",
                -F.abs(F.log("pseudo_ppl") - F.lit(float(_ln(med)))),
            ),
            budget_tokens,
            score_col="__quality",
            n_tokens_col="n_tokens",
            id_col=id_col,
            exact=False,
        ).drop("__quality")
        audit.append(("token_budget", scored.count()))

    if domain_col is not None and mixture_alpha is not None:
        rates = temperature_mixture_rates(scored, domain_col, alpha=mixture_alpha)
        scored = mixture_sample(scored, domain_col, rates, id_col=id_col)
        audit.append(("mixture", scored.count()))

    final = scored.drop("n_tokens", "n_oov", "avg_logp", "pseudo_ppl")
    ordered = shuffle_rows(final, id_col=id_col, seed=shuffle_seed)
    # split (and domain, when present) ride through chunking so the
    # output is self-describing — val/test chunks are excludable
    # without re-joining the parent corpus
    passthru = tuple(
        c for c in ("split", domain_col) if c and c in ordered.columns
    )
    chunks = chunk_documents(
        ordered,
        id_col=id_col,
        text_col=text_col,
        max_tokens=chunk_max_tokens,
        overlap=chunk_overlap,
        keep_cols=passthru,
    )
    audit.append(("chunks", chunks.count()))
    return RecipeResult(
        corpus=chunks, audit=audit,
        _cached=[scored_bound, model] + curate_caches,
    )
