"""End-to-end corpus curation: the training-data prep chain as ONE
composed lazy plan.

raw docs → [domain blocklist] → [trained language gate] →
PII redaction → C4 line cleaning → Gopher shape filter →
exact dedup (keep canonical copy) → benchmark decontamination →
stable split assignment.

Two surfaces:

- :func:`curation_flags` — AUDIT mode: every input row survives, each
  carrying its per-stage verdicts (``n_pii``, ``drop_reasons``,
  ``is_exact_dup``, ``is_contaminated``, ``split``). One pass over the
  corpus; the only shuffles are the dedup digest exchange and the
  decontamination hit count — every other stage is a map. This is
  what you run first at 100 TB: the flag histogram tells you what each
  threshold would discard before you commit to discarding it.
- :func:`curate` — FILTER mode: the curated corpus itself (cleaned
  text, one copy per digest, shape-passing, benchmark-clean), with the
  split column. Same plan shape, with the drops applied.

Dedup keeps the MINIMUM id per digest (same canonical-id rule as
``exact_duplicates``), decided by one groupBy + join-back rather than
a row_number window — the aggregate side carries (digest, min_id)
only, and AQE broadcasts it when it fits so the corpus side stays
map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.textops.cleaning import (
    clean_lines,
    drop_frequent_lines,
    gopher_filter,
    redact_pii,
)
from trainingdata_spark.textops.corpus_io import (
    blocklist_filter,
    with_blocked_domain,
)
from trainingdata_spark.textops.decontam import contamination_hits
from trainingdata_spark.textops.sampling import stable_split


def _with_lang_verdict(
    docs: DataFrame,
    profiles,
    allow,
    min_fraction,
    kwargs,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Paragraph-level classification + the ``is_lang_rejected``
    verdict (see curation_flags). Rejection fires only on explicit
    criteria; with none given the columns are annotation-only."""
    from trainingdata_spark.textops.langid import (
        classify_language_paragraphs,
    )

    docs = classify_language_paragraphs(
        docs, profiles, id_col=id_col, text_col=text_col, **(kwargs or {})
    )
    rejected = F.lit(False)
    if allow is not None:
        # NULL majority (nothing classified) is a reject under an
        # allow-list — no-language pages are CCNet drops
        rejected = (
            rejected
            | ~F.col("lang_majority").isin(*sorted(allow))
            | F.col("lang_majority").isNull()
        )
    if min_fraction is not None:
        rejected = rejected | (
            F.coalesce(F.col("lang_fraction"), F.lit(0.0))
            < F.lit(float(min_fraction))
        )
    return docs.withColumn("is_lang_rejected", rejected)


def curation_flags(
    docs: DataFrame,
    bench: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    contamination_n: int = 5,
    gopher_overrides: dict[str, float] | None = None,
    materialize: bool = True,
    frequent_line_doc_frac: float | None = None,
    cache_registry: list[DataFrame] | None = None,
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    blocklist_kwargs: dict | None = None,
    lang_profiles: DataFrame | list | None = None,
    lang_allow: set[str] | list[str] | None = None,
    lang_min_fraction: float | None = None,
    lang_kwargs: dict | None = None,
    quality_model=None,
    quality_threshold: float | None = None,
) -> DataFrame:
    """Annotate every document with its full curation verdict without
    dropping anything. Columns added: ``text_clean``, ``n_pii``,
    ``n_lines``/``n_lines_kept``, ``drop_reasons`` (Gopher, computed
    on the CLEANED text), ``keep_shape``, ``is_exact_dup`` (true for
    every copy after the canonical one), ``is_contaminated`` (false
    everywhere when ``bench`` is None), ``split``; plus
    ``n_freq_lines_dropped`` when ``frequent_line_doc_frac`` enables
    the corpus-level frequent-line (cross-document boilerplate)
    removal stage; plus ``quality_prob``/``is_low_quality`` when a
    ``quality_model`` (a fitted
    :func:`textops.quality_clf.train_quality_classifier`) scores the
    cleaned text — ``is_low_quality`` fires only when
    ``quality_threshold`` is set, annotation-only otherwise.

    ``cache_registry``: pass a list to receive the handle of the
    internal cleaned-corpus persist (when ``materialize``), so the
    caller can unpersist it after consuming the result —
    prepare_training_corpus folds it into ``RecipeResult.release()``;
    without a handle the corpus-sized cache lives until context GC.

    ``blocklist`` (a ``domain`` dim, see
    :func:`textops.corpus_io.with_blocked_domain`) adds the URL-filter
    verdict: ``blocked_domain`` (the matched entry, for attribution)
    and ``is_blocked``. In this AUDIT form blocked rows still flow
    through every later stage — the histogram should show what each
    gate would discard independently; :func:`curate` applies the
    blocklist BEFORE the cleaning kernels instead, so blocked rows
    never pay them.

    ``lang_profiles`` (a fitted ``(lang, gram, rank)`` dim from
    :func:`textops.langid.train_language_profiles`) adds the CCNet
    language gate — paragraph-level classification on the RAW text
    (CCNet classifies before any cleaning): ``lang_majority``,
    ``lang_fraction``, ``n_paragraphs_classified`` and the verdict
    ``is_lang_rejected``. Rejection fires only on explicit criteria:
    ``lang_allow`` (majority must be in the set; unclassifiable
    documents reject too — no-language pages are CCNet drops) and/or
    ``lang_min_fraction`` (the mixed-language purity gate). With
    profiles but neither criterion the columns are annotation-only
    (``is_lang_rejected`` false everywhere). ``lang_kwargs`` passes
    through to :func:`classify_language_paragraphs` (``min_chars``,
    ``max_paragraphs``, ``max_chars``, ``top_k``...). A DataFrame
    profile's training lineage re-runs on EVERY curate call — fine
    once, wrong in a per-micro-batch loop; repeated callers should
    pass the pre-collected rows from
    :func:`textops.langid.collect_profiles` instead (the streaming
    sink does this automatically)."""
    if blocklist is not None:
        docs = with_blocked_domain(
            docs, blocklist, url_col=url_col, **(blocklist_kwargs or {})
        )
        docs = docs.withColumn(
            "is_blocked", F.col("blocked_domain").isNotNull()
        )
    if lang_profiles is not None:
        docs = _with_lang_verdict(
            docs, lang_profiles, lang_allow, lang_min_fraction,
            lang_kwargs, id_col, text_col,
        )
    out = redact_pii(docs, text_col=text_col, out_col="__pii_clean")
    out = clean_lines(out, text_col="__pii_clean", min_words=min_line_words)
    out = out.drop("__pii_clean")

    # The downstream fan-out (frequent-line inventory, dedup
    # aggregate, decontamination probe) consists of separate subtrees
    # over the SAME cleaned corpus — without materialization the
    # redact/clean regex kernel executes once per subtree (a measured
    # ~2x wall cost at 250k docs). Persist the cleaned rows HERE,
    # before the first aggregating consumer, so every subtree reads
    # the cache; the stages after this point are cheap maps worth
    # recomputing per subtree. At real scale, checkpoint the cleaned
    # corpus to storage instead (the persist is the single-job form
    # of that checkpoint).
    if materialize:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(out)
    if frequent_line_doc_frac is not None:
        # corpus-level boilerplate pass (lines recurring across >= frac
        # of documents): the inventory aggregates the persisted cleaned
        # corpus ONCE, eagerly — flags feed many actions (dedup agg,
        # decontam probe, audits), and a lazy inventory subtree would
        # re-run its corpus-wide explode+groupBy in each; the removal
        # itself is a literal-array per-row filter
        out = drop_frequent_lines(
            out, text_col="text_clean", max_doc_frac=frequent_line_doc_frac,
            eager_inventory=True,
        ).withColumnRenamed("n_lines_dropped", "n_freq_lines_dropped")
    out = gopher_filter(out, text_col="text_clean", **(gopher_overrides or {}))
    out = out.withColumnRenamed("keep", "keep_shape")

    if quality_model is not None:
        # supervised quality filter (the LLaMA/CCNet classifier stage)
        # on the CLEANED text — the classifier judges what would be
        # trained on; scoring is a pure JVM map (hash TF → dot →
        # sigmoid), so placement after the heavy kernels costs one
        # map over the persisted corpus. With a model but no
        # threshold the columns are annotation-only (same contract as
        # the language gate).
        from trainingdata_spark.textops.quality_clf import score_quality

        out = score_quality(
            out, quality_model, text_col="text_clean",
            output_col="quality_prob",
        )
        out = out.withColumn(
            "is_low_quality",
            F.col("quality_prob") < F.lit(float(quality_threshold))
            if quality_threshold is not None
            else F.lit(False),
        )

    # canonical copy per digest of the CLEANED text: aggregate to
    # (digest, min_id), join back; rows whose id isn't the canonical
    # one are duplicates. The agg side shuffles only (digest, id);
    # AQE broadcasts it when it fits, keeping the corpus side map-only
    # — past that, the corpus pays the one exchange row-level exact
    # dedup fundamentally costs. (Extreme-scale alternative: derive
    # the usually-tiny non-canonical-id list from an (id, digest)
    # projection and anti-join on id — trades a second cleaning-kernel
    # pass for never shuffling text.)
    digest = F.md5(F.col("text_clean").cast("binary"))
    out = out.withColumn("__digest", digest)
    canon = out.groupBy("__digest").agg(F.min(id_col).alias("__canon_id"))
    out = out.join(canon, on="__digest", how="left").withColumn(
        "is_exact_dup", F.col(id_col) != F.col("__canon_id")
    ).drop("__digest", "__canon_id")

    if bench is not None:
        # contamination_hits shingles docs and bench with the same
        # text_col, so present the cleaned text under the bench's name
        probe = out.select(F.col(id_col), F.col("text_clean").alias(text_col))
        hits = contamination_hits(
            probe, bench, n=contamination_n, id_col=id_col, text_col=text_col
        ).withColumnRenamed("n_hits", "__n_hits")
        out = out.join(hits, on=id_col, how="left").withColumn(
            "is_contaminated", F.col("__n_hits").isNotNull()
        ).drop("__n_hits")
    else:
        out = out.withColumn("is_contaminated", F.lit(False))
    return stable_split(out, id_col=id_col)


def curate(
    docs: DataFrame,
    bench: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    blocklist_kwargs: dict | None = None,
    lang_profiles: DataFrame | list | None = None,
    lang_allow: set[str] | list[str] | None = None,
    lang_min_fraction: float | None = None,
    lang_kwargs: dict | None = None,
    quality_model=None,
    quality_threshold: float | None = None,
    **kwargs,
) -> DataFrame:
    """The curated corpus: cleaned text, Gopher-passing, one copy per
    digest, benchmark-clean, split-assigned. Returns the original
    columns with ``text_col`` replaced by the cleaned text, plus
    ``split`` (and the language columns when the language gate runs,
    and ``quality_prob`` when a ``quality_model`` scores — load one
    with ``models.load_quality_classifier`` / ``resolve_model``
    instead of refitting per run).

    ``quality_model`` + ``quality_threshold`` run the supervised
    quality filter (the LLaMA/CCNet classifier stage) on the CLEANED
    text: rows scoring below the threshold drop with the other
    gates; with a model but no threshold the score is annotation-only.

    ``blocklist`` drops listed-domain rows BEFORE the cleaning
    kernels (RefinedWeb's stage order — the URL filter is the cheap
    gate, so blocked rows never pay regex cleaning, dedup hashing or
    the decontamination probe). ``lang_profiles`` + ``lang_allow`` /
    ``lang_min_fraction`` run the CCNet language gate next, on the
    RAW text, so rejected-language rows skip the cleaning kernels too
    (the gate's own cost is the bounded paragraph classification).
    For the per-stage audit of what each gate alone would discard,
    use :func:`curation_flags` with the same arguments."""
    if blocklist is not None:
        docs = blocklist_filter(
            docs, blocklist, url_col=url_col, **(blocklist_kwargs or {})
        )
    if lang_profiles is not None:
        docs = (
            _with_lang_verdict(
                docs, lang_profiles, lang_allow, lang_min_fraction,
                lang_kwargs, id_col, text_col,
            )
            .filter(~F.col("is_lang_rejected"))
            .drop("is_lang_rejected")
        )
    flagged = curation_flags(
        docs, bench, id_col=id_col, text_col=text_col,
        quality_model=quality_model, quality_threshold=quality_threshold,
        **kwargs,
    )
    kept = flagged.filter(
        F.col("keep_shape")
        & ~F.col("is_exact_dup")
        & ~F.col("is_contaminated")
    )
    if quality_model is not None and quality_threshold is not None:
        kept = kept.filter(~F.col("is_low_quality"))
    drop = [
        "n_pii", "n_lines", "n_lines_kept", "drop_reasons", "keep_shape",
        "is_exact_dup", "is_contaminated", "text_clean",
        "n_freq_lines_dropped", "is_low_quality",
    ]
    return kept.withColumn(text_col, F.col("text_clean")).drop(
        *[c for c in drop if c in kept.columns]
    )


def curation_report(flags: DataFrame) -> DataFrame:
    """One-row funnel summary over a :func:`curation_flags` result —
    the audit you print before committing to thresholds."""
    freq = (
        [F.sum("n_freq_lines_dropped").alias("frequent_lines_dropped")]
        if "n_freq_lines_dropped" in flags.columns
        else []
    )
    blocked = (
        [F.sum(F.col("is_blocked").cast("long")).alias("blocked_domains")]
        if "is_blocked" in flags.columns
        else []
    )
    lang = (
        [F.sum(F.col("is_lang_rejected").cast("long")).alias("lang_rejected")]
        if "is_lang_rejected" in flags.columns
        else []
    )
    keep = (
        F.col("keep_shape")
        & ~F.col("is_exact_dup")
        & ~F.col("is_contaminated")
    )
    if "is_blocked" in flags.columns:
        keep = keep & ~F.col("is_blocked")
    if "is_lang_rejected" in flags.columns:
        keep = keep & ~F.col("is_lang_rejected")
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *blocked,
        *lang,
        F.sum(F.col("n_pii")).alias("pii_spans"),
        F.sum((F.col("n_lines") - F.col("n_lines_kept")).cast("long")).alias(
            "boilerplate_lines_dropped"
        ),
        *freq,
        F.sum((~F.col("keep_shape")).cast("long")).alias("shape_dropped"),
        F.sum(F.col("is_exact_dup").cast("long")).alias("exact_dups"),
        F.sum(F.col("is_contaminated").cast("long")).alias("contaminated"),
        F.sum(keep.cast("long")).alias("survivors"),
    )
