"""Structured Streaming jobs of the training-data suite: streaming
exact/near/span/semantic dedup against a stored index, streaming
curation, event-time sessionization, and the foldable corpus sketches
(Count-Min, HLL, histogram, DSIR n-gram distribution) with their
compaction.

Every job follows the market engine's micro-batch shape
(``binancedatapipeline_spark.streaming``): a watermarked streaming
source, ``foreachBatch`` writing through the snapshot-committed
:class:`~binancedatapipeline_spark.warehouse.Warehouse`, idempotent
under replay so restarts and overlaps are safe.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from binancedatapipeline_spark.catalog import TableSpec
from binancedatapipeline_spark.warehouse import Warehouse


def prune_orphans(
    warehouse: Warehouse,
    spec: TableSpec,
    live_keys: DataFrame,
    min_orphan_frac: float = 0.1,
) -> dict:
    """Row-level GC for derived state tables: drop rows whose key no
    longer appears in ``live_keys`` once orphans exceed
    ``min_orphan_frac`` of the table.

    The motivating consumer is the incremental-dedup band index: ids
    deleted from the docs table (curation drops, retention deletes)
    leave band rows live, and future look-alikes of the deleted
    content are suppressed against phantom state — that staleness
    window shrinks exactly at compaction. Same shape serves the
    semantic-dedup vector store and any (state keyed by entity id)
    table.

    The threshold makes this a MAINTENANCE op, not a per-batch one:
    below it the scan stops at two counts (column-pruned key scan +
    semi-join count), above it the rewrite goes through the
    snapshot-committed ``Warehouse.overwrite``, so concurrent readers
    still see one consistent version. ``live_keys`` columns name the
    join key (e.g. a single ``id`` column). Returns a stats dict."""
    key_cols = list(live_keys.columns)
    cur = warehouse.read(spec)
    total = cur.count()
    if total == 0:
        return {"total": 0, "orphans": 0, "pruned": False}
    kept = cur.join(live_keys, on=key_cols, how="left_semi")
    n_kept = kept.count()
    orphans = total - n_kept
    if orphans == 0 or orphans / total < min_orphan_frac:
        return {"total": total, "orphans": orphans, "pruned": False}
    warehouse.overwrite(spec, kept)
    return {"total": total, "orphans": orphans, "pruned": True}


def stream_dedup(
    stream: DataFrame,
    dedup_cols: list[str] | None = None,
    text_col: str = "text",
    time_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit only the first arrival of
    each content digest — the streaming counterpart of
    textops.dedup.exact_duplicates for a continuously-ingested corpus.

    ``dedup_cols`` defaults to a single md5 digest of ``text_col``,
    so the dedup state carries a 16-byte key per distinct document,
    never the document body. dropDuplicatesWithinWatermark expires
    per-key state once the watermark passes it, so state is
    O(distinct keys within the horizon) — bounded no matter how long
    the stream runs, which is what makes this safe for an unbounded
    100 TB ingest. A duplicate arriving later than the horizon is
    re-emitted (at-least-once dedup); downstream PK-upserts absorb
    exactly that case.
    """
    if dedup_cols is None:
        stream = stream.withColumn(
            "digest", F.md5(F.col(text_col).cast("binary"))
        )
        dedup_cols = ["digest"]
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        dedup_cols
    )


def stream_curate_upsert(
    stream: DataFrame,
    warehouse: Warehouse,
    spec: TableSpec,
    checkpoint_dir: str,
    bench: DataFrame | None = None,
    curate_kwargs: dict | None = None,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Continuous corpus curation: per micro-batch, run the full
    curate chain (PII redaction → C4 line cleaning → Gopher shape
    filter → exact dedup → decontamination → split) and PK-upsert the
    survivors into the warehouse.

    Cross-batch semantics: curate's exact dedup is batch-local by
    design (its digest aggregate sees one micro-batch); cross-batch
    duplicates are handled by the PK upsert (same id = idempotent
    replace) or, for content-level dups across ids, by putting
    :func:`stream_dedup` / :func:`stream_near_dedup` upstream of this
    sink. Replays are idempotent end-to-end (T4): re-processing a
    batch re-curates deterministically and the upsert replaces rather
    than appends."""
    from trainingdata_spark.textops.curate import curate

    curate_kwargs = dict(curate_kwargs or {})
    if isinstance(curate_kwargs.get("lang_profiles"), DataFrame):
        # materialize the fitted language profiles ONCE at stream
        # start: a DataFrame handed into the foreachBatch closure
        # would re-run its whole training lineage (a corpus-wide
        # aggregation) on every micro-batch — the collected rows are
        # a bounded dim (≤ languages × top_k) and classify accepts
        # them directly
        from trainingdata_spark.textops.langid import collect_profiles

        curate_kwargs["lang_profiles"] = collect_profiles(
            curate_kwargs["lang_profiles"]
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        curated = curate(batch_df, bench, **curate_kwargs)
        n = curated.count()
        if n:
            warehouse.upsert(spec, curated)
        if on_batch:
            on_batch(batch_id, n)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def sessionize_windows(
    events: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization as a ``session_window`` aggregation —
    one expression that runs identically on a batch DataFrame and on a
    watermarked stream (pass ``watermark`` for the streaming form).

    This is the aggregate counterpart of the registry's ``sessionize``
    query (which marks session STARTS via lag): ``session_window``
    merges events closer than ``gap`` into [first_ts, last_ts + gap)
    windows per user, so ``count(*)`` groups here equal the lag
    formulation's session count. On a stream the state per user is the
    set of open sessions inside the watermark horizon — sessions close
    (and emit, in append mode) once the watermark passes their end,
    making this the bounded-state way to sessionize an unbounded
    ingest; the lag/window formulation would need the full history.
    """
    if watermark:
        events = events.withWatermark(time_col, watermark)
    return (
        events.groupBy(F.session_window(time_col, gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col(user_col),
            "n_events",
            "session_value",
        )
    )


def stream_near_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    time_col: str = "ingest_ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    min_novel_bands: int | None = None,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: the streaming counterpart
    of the batch MinHash-LSH pipeline, for a continuously-ingested
    corpus.

    Per arriving document the k-slot MinHash signature and its LSH
    band keys are pure per-row expressions (zero shuffle — the same
    kernels as textops.dedup, streaming-safe). Every band key then
    claims its (band, bh) slot via ``dropDuplicatesWithinWatermark``:
    state is one 16-byte hash per distinct band key within the
    watermark horizon — bounded forever, like the exact variant. A
    document is emitted iff at least ``min_novel_bands`` of its bands
    were UNCLAIMED by any earlier document (default 1: suppress only
    documents whose every band collides — near-exact duplicates;
    ``bands`` = strict novelty, suppress on any collision).

    Band claims are greedy in arrival order and suppressed documents
    still claim their novel bands — the deterministic batch oracle in
    the tests replays exactly that fold. Emission happens when the
    watermark closes the document's time window (the count of
    surviving bands is a windowed aggregation downstream of the
    dedup — Spark's chained-stateful-operator support does the rest).

    Columns: window_end, <id_col>, novel_bands."""
    from trainingdata_spark.textops.dedup import (
        band_structs,
        minhash_signatures,
    )

    sig = minhash_signatures(
        stream, id_col, text_col, n, k,
        keep_cols=(time_col,), spread_input=False,
    )
    exploded = sig.select(
        id_col,
        time_col,
        F.explode(F.array(*band_structs(k, bands))).alias("bk"),
    ).select(
        id_col, time_col,
        F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"),
    )
    surviving = exploded.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        ["band", "bh"]
    )
    threshold = 1 if min_novel_bands is None else min_novel_bands
    return (
        surviving.groupBy(F.window(time_col, window), F.col(id_col))
        .agg(F.count(F.lit(1)).alias("novel_bands"))
        .filter(F.col("novel_bands") >= threshold)
        .select(
            F.col("window.end").alias("window_end"),
            F.col(id_col),
            F.col("novel_bands"),
        )
    )


def stream_incremental_dedup(
    stream: DataFrame,
    warehouse: Warehouse,
    docs_spec: TableSpec,
    index_spec: TableSpec,
    checkpoint_dir: str,
    dedup_kwargs: dict | None = None,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Continuous near-dedup at ingest against ALL stored history:
    per micro-batch, probe the warehouse-stored LSH band index
    (textops/dedup.py ``incremental_near_dedup``), PK-upsert the
    surviving documents, and upsert the survivors' index rows.

    This is the unbounded-history counterpart of
    :func:`stream_near_dedup` (whose state lives inside the streaming
    engine and is bounded by the watermark horizon): here the state IS
    a warehouse table of (band, bh, id) rows, so a duplicate of a
    document ingested months ago is still caught, at the price of one
    bucketed index probe per batch — measured flat in history size
    (tools/bench_incremental_dedup.py, FLAGSHIP.md).

    ``index_spec`` MUST be keyed ``(id, band)`` — each document has
    exactly one band hash per band, so that PK makes the index upsert
    REPLACE a re-ingested id's hashes; keying by (band, bh, id) would
    strand the old text's rows forever, and future look-alikes of the
    replaced text would be dropped against phantom state.

    Replay-idempotent at the WAREHOUSE level: re-processing a batch
    leaves both tables unchanged — already-stored canonicals either
    re-survive (they match only themselves; upserts replace) or are
    re-suppressed by their own cluster's stored representative."""
    from trainingdata_spark.textops.dedup import incremental_near_dedup

    if set(index_spec.primary_keys) != {"id", "band"}:
        raise ValueError("index_spec must be keyed (id, band); see docstring")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        index = warehouse.read(index_spec)
        kept, kept_idx = incremental_near_dedup(
            batch_df, index, **(dedup_kwargs or {})
        )
        # materialize both outputs once: each feeds an upsert that
        # would otherwise re-run the signature+probe+components chain
        # per consuming action (correctness against the index
        # overwrite is already guaranteed by upsert's stage-and-
        # rename publish; the persist is purely a cost fix)
        kept = kept.persist()
        kept_idx = kept_idx.persist()
        try:
            n = kept.count()
            if n:
                warehouse.upsert(docs_spec, kept)
                warehouse.upsert(index_spec, kept_idx)
            if on_batch:
                on_batch(batch_id, n)
        finally:
            kept.unpersist()
            kept_idx.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def stream_span_dedup(
    stream: DataFrame,
    warehouse: Warehouse,
    docs_spec: TableSpec,
    index_spec: TableSpec,
    checkpoint_dir: str,
    span_window: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Continuous SUBSTRING-level dedup at ingest against all stored
    history: per micro-batch, probe the warehouse-stored window-hash
    index (textops/spans.py ``incremental_duplicate_spans``), cut the
    duplicate spans out of the arriving documents (dropping documents
    the cut empties), PK-upsert the cleaned documents, and append the
    batch's novel hashes' canonical occurrences to the index.

    The document-level sibling (:func:`stream_incremental_dedup`)
    drops whole near-duplicate documents; this job removes REPEATED
    PASSAGES (boilerplate, quoted blocks, mirrored sections) while
    keeping the documents — the Lee et al. 2021 contract at ingest.

    ``index_spec`` MUST be keyed ``(h,)``: one row per distinct
    window hash carrying its first-ingested occurrence. Replay is
    idempotent end to end — a re-processed batch finds its canonical
    occurrences already in the index and exempt (same (id, pos)), so
    the same spans are cut, the docs upsert replaces with identical
    rows, and zero new index rows are produced."""
    from trainingdata_spark.textops.spans import (
        apply_span_removal,
        incremental_duplicate_spans,
    )

    if set(index_spec.primary_keys) != {"h"}:
        raise ValueError("index_spec must be keyed (h,); see docstring")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        index = warehouse.read(index_spec)
        spans, new_rows = incremental_duplicate_spans(
            batch_df, index, id_col=id_col, text_col=text_col,
            window=span_window,
        )
        cleaned = apply_span_removal(
            batch_df, spans, id_col=id_col, text_col=text_col
        ).filter(F.trim(F.col(text_col)) != "")
        # one materialization each: both feed an upsert that would
        # otherwise replay the hash+probe chain per consuming action
        cleaned = cleaned.persist()
        new_rows = new_rows.persist()
        try:
            n = cleaned.count()
            if n:
                warehouse.upsert(docs_spec, cleaned)
            if new_rows.count():
                warehouse.upsert(index_spec, new_rows)
            if on_batch:
                on_batch(batch_id, n)
        finally:
            cleaned.unpersist()
            new_rows.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def compact_dedup_index(
    warehouse: Warehouse,
    docs_spec: TableSpec,
    index_spec: TableSpec,
    id_col: str = "doc_id",
    min_orphan_frac: float = 0.1,
) -> dict:
    """Fold the incremental-dedup band index against the live corpus:
    drop index rows whose document no longer exists (curation drops /
    retention deletes), closing the documented staleness window where
    future look-alikes of deleted content are suppressed by phantom
    bands (textops/dedup.py incremental_near_dedup docstring).

    A thin binding of :func:`prune_orphans` for the
    L37/L38 pair of tables; run it on a maintenance cadence (e.g.
    alongside :meth:`Warehouse.maintain`), NOT per batch — the
    per-batch ingest path is untouched by compaction, so its cost
    profile is unchanged by construction."""
    live = warehouse.read(docs_spec).select(F.col(id_col).alias("id")).distinct()
    return prune_orphans(
        warehouse, index_spec, live, min_orphan_frac=min_orphan_frac
    )


def compact_span_index(
    warehouse: Warehouse,
    docs_spec: TableSpec,
    index_spec: TableSpec,
    id_col: str = "doc_id",
    min_orphan_frac: float = 0.1,
) -> dict:
    """Same fold for the substring-span window-hash index
    (:func:`stream_span_dedup`): drop hash rows whose canonical
    document no longer exists — once the content's last copy leaves
    the corpus, a future re-appearance should be KEPT (it's novel
    again), not cut against a phantom canonical. Run on a
    maintenance cadence; the per-batch probe path is untouched."""
    live = warehouse.read(docs_spec).select(
        F.col(id_col).alias("first_id")
    ).distinct()
    return prune_orphans(
        warehouse, index_spec, live, min_orphan_frac=min_orphan_frac
    )


def compact_vector_store(
    warehouse: Warehouse,
    docs_spec: TableSpec,
    vecs_spec: TableSpec,
    doc_id_col: str = "vec_id",
    vec_id_col: str = "vec_id",
    min_orphan_frac: float = 0.1,
) -> dict:
    """Same fold for the incremental semantic-dedup vector store
    (L43/L44): drop stored vectors whose source row is gone."""
    live = (
        warehouse.read(docs_spec)
        .select(F.col(doc_id_col).alias(vec_id_col))
        .distinct()
    )
    return prune_orphans(
        warehouse, vecs_spec, live, min_orphan_frac=min_orphan_frac
    )


def stream_semantic_dedup(
    stream: DataFrame,
    warehouse: Warehouse,
    vecs_spec: TableSpec,
    centroids,
    checkpoint_dir: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Continuous SEMANTIC dedup at ingest against all stored vectors
    — the embedding-space sibling of :func:`stream_incremental_dedup`:
    per micro-batch, probe the warehouse-stored (cell-partitioned)
    vector table via ``similarity.incremental_semantic_dedup`` and
    PK-upsert only the survivors (with their cell, so the store stays
    probe-ready). ``centroids`` is the frozen k-means cell model —
    frozen deliberately: re-training per batch would silently move
    cell boundaries under the stored assignments. ``vecs_spec`` must
    include ``cell_col`` in its schema and use ``id_col`` as PK so a
    re-ingested id REPLACES its row. Replay-idempotent at the
    warehouse level for the same reasons as the text path (unchanged
    stored copies anchor their components)."""
    from trainingdata_spark.similarity import incremental_semantic_dedup

    if cell_col not in vecs_spec.columns:
        raise ValueError(f"vecs_spec must carry the {cell_col!r} column")
    if set(vecs_spec.primary_keys) != {id_col}:
        raise ValueError(
            f"vecs_spec must be keyed ({id_col},): a composite PK (e.g. "
            "including the cell) would strand a changed re-ingest's old "
            "row when its embedding moves cells — phantom LIVE state that "
            "suppresses look-alikes of replaced content forever"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stored = warehouse.read(vecs_spec)
        kept = incremental_semantic_dedup(
            batch_df, stored, centroids,
            id_col=id_col, vec_col=vec_col,
            threshold=threshold, cell_col=cell_col,
        ).persist()
        try:
            n = kept.count()
            if n:
                warehouse.upsert(vecs_spec, kept)
            if on_batch:
                on_batch(batch_id, n)
        finally:
            kept.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


# --------------------------------------------------------------- sketch

SKETCH_EPOCH = "1970-01-01"  # batch_ds = epoch + batch_id days


def _stream_identity(checkpoint_dir: str) -> str:
    """A stable id for the stream lineage: Structured Streaming's own
    query id from ``<checkpoint>/metadata`` (written at start; stable
    across restarts of the same checkpoint, fresh for a new one —
    exactly the identity the state needs). Non-local checkpoint URIs
    read the same file through the Hadoop FileSystem API (any FS that
    can hold the checkpoint can serve the read). If the metadata file
    is genuinely unreadable this RAISES rather than hashing the path:
    a path-derived id would survive a delete-and-recreate of the
    checkpoint, silently skipping the rebuild branch and leaving
    stale high-numbered batch partitions live (double-count) — a
    loud failure beats silent state corruption."""
    import json as _json
    import os as _os

    meta = _os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as fh:
            return _json.load(fh)["id"]
    except (OSError, ValueError, KeyError):
        pass
    # non-local URI (open() only handles local paths): Hadoop FS read
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(checkpoint_dir + "/metadata")
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            stream = fs.open(jpath)
            try:
                reader = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream)
                )
                lines = []
                line = reader.readLine()
                while line is not None:
                    lines.append(line)
                    line = reader.readLine()
            finally:
                stream.close()
            return _json.loads("\n".join(lines))["id"]
        except Exception:
            pass
    raise RuntimeError(
        f"cannot read stream identity from {checkpoint_dir}/metadata; "
        "refusing to fall back to a path-derived id (it would keep the "
        "old lineage across a checkpoint delete+recreate and silently "
        "double-count)"
    )


def _with_batch_cols(cells: DataFrame, batch_id: int, stream_id: str) -> DataFrame:
    """Tag a batch's cells with the replay ledger columns: batch_id,
    its own date partition (epoch + batch_id days), and the stream
    lineage id."""
    return (
        cells.withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn(
            "batch_ds",
            F.date_add(F.lit(SKETCH_EPOCH).cast("date"), F.lit(batch_id)),
        )
        .withColumn("stream_id", F.lit(stream_id))
    )


def _stream_counting_state(
    stream: DataFrame,
    warehouse: Warehouse,
    sketch_spec: TableSpec,
    checkpoint_dir: str,
    build_cells,
    guard_cols: tuple[str, ...],
    guard_values: tuple,
    guard_label: str,
    available_now: bool,
    trigger_interval: str,
    on_batch: Callable[[int, int], None] | None,
) -> StreamingQuery:
    """THE counting-state discipline, shared by every sketch whose
    cells are counts (token Count-Min, value histograms — anything
    where re-merging a retried batch would double-count):

    - per micro-batch, ``build_cells(batch_df)`` produces the batch's
      cell relation, which is tagged (batch_id, batch_ds, stream_id)
      and PK-upserted — replay REPLACES a retried batch's cells
      bit-identically instead of re-adding them;
    - each batch lives in its own date partition (``batch_ds`` in the
      PK), so the upsert stages and renames ONE bounded partition per
      tick rather than rewriting the accumulated table;
    - stored rows carry the checkpoint's query id: a batch from a NEW
      checkpoint (whose source replays everything from scratch)
      REBUILDS the table instead of folding two lineages' partial
      batches into nonsense;
    - a one-row probe guards ``guard_cols`` (hash geometry / bin
      edges) against a restart configured differently — folding mixed
      parameters is silent garbage, so it raises.

    Single-writer per table, like every warehouse job."""
    pk = set(sketch_spec.primary_keys)
    if "batch_id" not in pk:
        raise ValueError("sketch_spec PK must contain batch_id")
    if sketch_spec.partition_date_source is not None and (
        sketch_spec.partition_date_source not in pk
    ):
        raise ValueError(
            "sketch_spec.partition_date_source must be a PK column "
            "(batch_ds) so upserts stay partition-scoped"
        )
    stream_id_holder: list[str] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not stream_id_holder:
            stream_id_holder.append(_stream_identity(checkpoint_dir))
        sid = stream_id_holder[0]
        prior = (
            warehouse.read(sketch_spec)
            .select("stream_id", *guard_cols)
            .limit(1)
            .collect()
        )
        rebuild = False
        if prior:
            p = prior[0]
            if p["stream_id"] != sid:
                rebuild = True  # new checkpoint lineage: source replays all
            elif tuple(p[c] for c in guard_cols) != guard_values:
                raise ValueError(
                    f"{guard_label} {tuple(p[c] for c in guard_cols)} "
                    f"!= configured {guard_values}"
                )
        sk = _with_batch_cols(build_cells(batch_df), batch_id, sid).persist()
        try:
            n_cells = sk.count()
            if rebuild:
                warehouse.overwrite(sketch_spec, sk)
            elif n_cells:
                warehouse.upsert(sketch_spec, sk)
            if on_batch:
                on_batch(batch_id, n_cells)
        finally:
            sk.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def _compact_counting_state(
    warehouse: Warehouse, sketch_spec: TableSpec, folded_cells: DataFrame
) -> None:
    """Collapse accumulated per-batch cells into ONE folded batch
    under the reserved id -1 (batch_ds = epoch - 1 day, below any
    real batch). This must be an atomic table REPLACEMENT, not an
    upsert — upserting the fold beside the per-batch rows would leave
    both live and double every count on read. ``Warehouse.overwrite``
    stages and renames, so a crashed compaction leaves the old
    batches intact. Counts are preserved exactly; subsequent batches
    upsert alongside the compacted row-set as usual.

    RUN ONLY WHILE THE STREAM IS STOPPED (after awaitTermination or
    between AvailableNow runs): folding batch K away and then letting
    the engine retry batch K would re-upsert K's cells beside the
    fold and double-count them — compaction trades the per-batch
    replay ledger for size, so it must happen at a point where no
    batch can be retried."""
    ident = warehouse.read(sketch_spec).select("stream_id").limit(1).collect()
    if not ident:
        return
    warehouse.overwrite(
        sketch_spec, _with_batch_cols(folded_cells, -1, ident[0]["stream_id"])
    )


def _token_cells(
    batch_df: DataFrame,
    text_col: str,
    key_col: str | None,
    depth: int,
    width: int,
) -> DataFrame:
    from trainingdata_spark.textops.analysis import tokens_col
    from trainingdata_spark.textops.sketch import cms_build

    if key_col is None:
        keyed = batch_df.select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok")
        ).filter(F.length("tok") > 0)
        col = "tok"
    else:
        keyed, col = batch_df, key_col
    return cms_build(keyed, col, depth=depth, width=width)


def batch_token_sketch(
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    text_col: str = "text",
    key_col: str | None = None,
    depth: int = 5,
    width: int = 8192,
) -> DataFrame:
    """One micro-batch's sketch rows, exactly as stream_token_sketch
    stores them: cms_build cells + (batch_id, batch_ds, stream_id).
    ``batch_ds`` = epoch + batch_id days keys each batch to its own
    date partition, so the warehouse upsert rewrites one
    partition-per-batch instead of the whole accumulated table (the
    partition source is part of the PK, so upsert also skips the
    stranded-row locate scan)."""
    return _with_batch_cols(
        _token_cells(batch_df, text_col, key_col, depth, width),
        batch_id,
        stream_id,
    )


def stream_token_sketch(
    stream: DataFrame,
    warehouse: Warehouse,
    sketch_spec: TableSpec,
    checkpoint_dir: str,
    text_col: str = "text",
    key_col: str | None = None,
    depth: int = 5,
    width: int = 8192,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Maintain a corpus-wide Count-Min token-frequency sketch at
    ingest: the counting-state discipline (:func:`_stream_counting_state`
    — per-batch date partitions, replay-replaces, stream-identity
    rebuild, geometry guard) applied to ``cms_build`` cells. Readers
    fold the batches with :func:`read_corpus_sketch`; compact a
    stopped stream with :func:`compact_corpus_sketch`.

    ``sketch_spec`` MUST be keyed ``(batch_ds, batch_id, row,
    bucket)`` (batch_ds optional only when unpartitioned) and carry
    ``stream_id`` string + depth/width columns. ``key_col`` sketches
    an existing column directly; otherwise ``text_col`` is
    lowercased, whitespace-tokenized and exploded (the tokens_col
    convention shared with tfidf/word_count)."""
    if not {"batch_id", "row", "bucket"} <= set(sketch_spec.primary_keys):
        raise ValueError("sketch_spec PK must contain (batch_id, row, bucket)")
    return _stream_counting_state(
        stream, warehouse, sketch_spec, checkpoint_dir,
        lambda b: _token_cells(b, text_col, key_col, depth, width),
        ("depth", "width"), (depth, width),
        "stream_token_sketch: stored sketch geometry",
        available_now, trigger_interval, on_batch,
    )


def read_corpus_sketch(warehouse: Warehouse, sketch_spec: TableSpec) -> DataFrame:
    """The corpus-wide sketch: per-batch sketches folded cell-wise.
    Returns the standard ``(row, bucket, cnt, depth, width)`` relation
    every textops/sketch.py consumer accepts (cms_estimate,
    cms_error_bound, cms_merge with another corpus)."""
    return (
        warehouse.read(sketch_spec)
        .groupBy("row", "bucket", "depth", "width")
        .agg(F.sum("cnt").alias("cnt"))
        .select("row", "bucket", "cnt", "depth", "width")
    )


def compact_corpus_sketch(warehouse: Warehouse, sketch_spec: TableSpec) -> None:
    """Compact a token-sketch table: the shared atomic-replacement
    protocol (:func:`_compact_counting_state` — read its
    STOPPED-STREAM-ONLY contract) over the Count-Min fold."""
    _compact_counting_state(
        warehouse, sketch_spec, read_corpus_sketch(warehouse, sketch_spec)
    )


def stream_distinct_sketch(
    stream: DataFrame,
    warehouse: Warehouse,
    sketch_spec: TableSpec,
    checkpoint_dir: str,
    key_col: str,
    group_cols: tuple[str, ...] | list[str],
    lgk: int = 12,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Maintain per-group distinct counts at ingest as HLL state
    (textops/sketch.py): per micro-batch, sketch the batch and union
    it into the stored relation, replacing the table atomically
    (``Warehouse.overwrite`` stages + renames; the state is one
    ~4 KiB binary per group, so rewriting it wholesale is nothing).

    This is the EASY replay discipline, shown side by side with
    :func:`stream_token_sketch`'s: HLL union has set semantics, so a
    retried batch — or even a whole re-ingest from a fresh checkpoint
    — merges to the identical state. No per-batch ledger, no stream
    identity, no compaction; idempotence falls out of the sketch
    algebra. Counting sketches don't get this, which is exactly why
    the token-sketch job needs its batch-keyed machinery.

    ``sketch_spec`` schema: ``group_cols + (hll: binary)``, PK =
    ``group_cols``. Mixed-lgk state fails loudly inside the JVM
    union (Datasketches refuses by default)."""
    from trainingdata_spark.textops.sketch import hll_build, hll_merge

    if set(sketch_spec.primary_keys) != set(group_cols):
        raise ValueError("sketch_spec PK must equal group_cols")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # empty tick / replayed empty batch: state is unchanged,
            # skip the read+union+staged-rewrite churn entirely
            if on_batch:
                on_batch(batch_id, 0)
            return
        sk = hll_build(batch_df, key_col, group_cols=group_cols, lgk=lgk)
        stored = warehouse.read(sketch_spec)
        merged = hll_merge(stored, sk, group_cols=group_cols)
        if on_batch is None:
            # one action total: the staged overwrite materializes the
            # union; nothing else consumes it, so no persist
            warehouse.overwrite(sketch_spec, merged)
            return
        merged = merged.persist()
        try:
            warehouse.overwrite(sketch_spec, merged)
            on_batch(batch_id, merged.count())
        finally:
            merged.unpersist()

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def stream_hist_sketch(
    stream: DataFrame,
    warehouse: Warehouse,
    sketch_spec: TableSpec,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Maintain a value-distribution histogram at ingest (e.g.
    document lengths or quality scores as a training-data monitor):
    the same counting-state discipline as the token sketch —
    histograms are counts, so it applies STRUCTURALLY via
    :func:`_stream_counting_state`, not by analogy — over
    ``hist_build`` cells, guarding the bin edges instead of the hash
    geometry. Fold with :func:`read_corpus_hist` (then
    ``hist_quantile`` answers percentiles off the fold); compact a
    stopped stream with :func:`compact_corpus_hist`.

    ``sketch_spec`` MUST be keyed ``(batch_ds, batch_id, bin)`` (or a
    superset) with ``partition_date_source="batch_ds"`` for the
    partition-scoped upsert, plus lo/hi/bins/stream_id columns."""
    from trainingdata_spark.textops.sketch import hist_build

    if not {"batch_id", "bin"} <= set(sketch_spec.primary_keys):
        raise ValueError("sketch_spec PK must contain (batch_id, bin)")
    return _stream_counting_state(
        stream, warehouse, sketch_spec, checkpoint_dir,
        lambda b: hist_build(b, value_col, lo, hi, bins),
        ("lo", "hi", "bins"), (float(lo), float(hi), bins),
        "stream_hist_sketch: stored bin edges",
        available_now, trigger_interval, on_batch,
    )


def read_corpus_hist(warehouse: Warehouse, sketch_spec: TableSpec) -> DataFrame:
    """The corpus-wide histogram: per-batch cells folded bin-wise into
    the standard ``(bin, cnt, lo, hi, bins)`` relation `hist_merge`/
    `hist_quantile` accept."""
    return (
        warehouse.read(sketch_spec)
        .groupBy("bin", "lo", "hi", "bins")
        .agg(F.sum("cnt").alias("cnt"))
        .select("bin", "cnt", "lo", "hi", "bins")
    )


def compact_corpus_hist(warehouse: Warehouse, sketch_spec: TableSpec) -> None:
    """Compact a histogram table: the shared atomic-replacement
    protocol (:func:`_compact_counting_state` — read its
    STOPPED-STREAM-ONLY contract) over the bin-wise fold."""
    _compact_counting_state(
        warehouse, sketch_spec, read_corpus_hist(warehouse, sketch_spec)
    )


# ----------------------------------------------------- incremental DSIR


def _dsir_cells(
    batch_df: DataFrame,
    text_col: str,
    target_pred,
    buckets: int,
    n_max: int,
    bucket_hash: str,
) -> DataFrame:
    from trainingdata_spark.textops.dsir import conditional_bucket_counts

    return (
        conditional_bucket_counts(
            batch_df, target_pred, text_col, buckets, n_max, bucket_hash
        )
        .withColumn("buckets", F.lit(buckets))
        .withColumn("n_max", F.lit(n_max))
    )


def stream_dsir_fit(
    stream: DataFrame,
    warehouse: Warehouse,
    dist_spec: TableSpec,
    checkpoint_dir: str,
    target_pred,
    text_col: str = "text",
    buckets: int = 8192,
    n_max: int = 2,
    bucket_hash: str = "xxhash",
    available_now: bool = True,
    trigger_interval: str = "1 hour",
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Maintain the DSIR fit AT INGEST: per micro-batch, the batch's
    hashed-n-gram conditional counts — ``r_n`` over every document,
    ``t_n`` over those matching ``target_pred`` (the target-domain
    predicate, e.g. a quality/source flag) — land as batch-keyed rows
    under the counting-state discipline (:func:`_stream_counting_state`:
    replay REPLACES, new checkpoint rebuilds, geometry guarded on
    (buckets, n_max)). The distributions a batch contributes are pure
    additive counts, so the corpus-wide fit is an exact fold of the
    per-batch cells, always current — no refit pass over 100 TB when
    the mixture shifts. Read the live ratio table with
    :func:`dsir_log_ratio_from_state`; compact a stopped stream with
    :func:`compact_dsir_distribution`.

    ``dist_spec`` MUST be keyed ``(batch_ds, batch_id, bucket)`` and
    carry ``r_n``/``t_n``/``buckets``/``n_max`` + ``stream_id``."""
    if not {"batch_id", "bucket"} <= set(dist_spec.primary_keys):
        raise ValueError("dist_spec PK must contain (batch_id, bucket)")
    return _stream_counting_state(
        stream, warehouse, dist_spec, checkpoint_dir,
        lambda b: _dsir_cells(b, text_col, target_pred, buckets, n_max, bucket_hash),
        ("buckets", "n_max"), (buckets, n_max),
        "stream_dsir_fit: stored fit geometry",
        available_now, trigger_interval, on_batch,
    )


def read_dsir_distribution(warehouse: Warehouse, dist_spec: TableSpec) -> DataFrame:
    """The corpus-wide conditional counts: per-batch cells folded —
    ``(bucket, r_n, t_n, buckets, n_max)``, ≤ ``buckets`` rows."""
    return (
        warehouse.read(dist_spec)
        .groupBy("bucket", "buckets", "n_max")
        .agg(F.sum("r_n").alias("r_n"), F.sum("t_n").alias("t_n"))
    )


def dsir_log_ratio_from_state(
    warehouse: Warehouse,
    dist_spec: TableSpec,
    smoothing: float = 0.5,
):
    """(log-ratio pairs, default) from the streamed fit state — the
    same contract :func:`textops.dsir.fit_log_ratio` returns:
    driver-side ``(bucket, log_ratio)`` pairs that
    ``score_importance`` consumes directly, building the literal
    scoring plan for any corpus or the next micro-batch without
    another cluster round-trip (a per-micro-batch scoring loop pays
    only this bounded fold, never a createDataFrame→collect bounce).
    Bounded driver work: the fold is ≤ ``buckets`` rows; use
    :func:`textops.dsir.ratio_table` for the relation form."""
    from trainingdata_spark.textops.dsir import ratio_from_counts

    rows = read_dsir_distribution(warehouse, dist_spec).collect()
    if not rows:
        raise ValueError("no DSIR fit state stored yet")
    buckets = rows[0]["buckets"]
    return ratio_from_counts(rows, buckets, smoothing)


def compact_dsir_distribution(warehouse: Warehouse, dist_spec: TableSpec) -> None:
    """Collapse the per-batch fit cells into one folded batch — the
    shared atomic-replacement protocol (:func:`_compact_counting_state`;
    read its STOPPED-STREAM-ONLY contract)."""
    _compact_counting_state(
        warehouse, dist_spec, read_dsir_distribution(warehouse, dist_spec)
    )
