"""Streaming ingest with unbounded-history near-dedup: each
micro-batch probes the warehouse-stored LSH band index, so duplicates
of documents ingested in ANY earlier batch are suppressed."""

from __future__ import annotations

import time

from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.streaming import stream_incremental_dedup
from binancedatapipeline_spark.warehouse import Warehouse

DOCS_SPEC = TableSpec(
    name="docs_store",
    primary_keys=("doc_id",),
    schema=T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]),
    kind="fact",
)

INDEX_SPEC = TableSpec(
    name="docs_lsh_index",
    primary_keys=("id", "band"),  # one row per doc per band: upsert REPLACES a re-ingested id's hashes
    schema=T.StructType([
        T.StructField("band", T.IntegerType()),
        T.StructField("bh", T.StringType()),
        T.StructField("id", T.LongType()),
    ]),
    kind="fact",
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew quartz potions under a pale midnight sky near the old harbor"
)
OTHER = (
    "completely different second story about mountain goats climbing "
    "steep granite walls in the early alpine morning light with bells"
)


def test_cross_batch_history_dedup(spark, tmp_path):
    chunks = [
        [(1, BASE), (2, OTHER)],                      # batch 1: both novel
        [(10, BASE + " trailing bit"), (11, "novel third text about sonar mapping of deep trenches")],  # 10 dups batch-1 doc
        [(20, OTHER + " extra"), (21, BASE + " trailing bit!")],  # both dup history
    ]
    stage = str(tmp_path / "in")
    schema = "doc_id long, text string"
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(stage)
        time.sleep(1.05)  # distinct mtimes: FileStreamSource orders by timestamp

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    seen = []
    q = stream_incremental_dedup(
        stream, wh, DOCS_SPEC, INDEX_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_kwargs={"k": 16, "bands": 8},
        on_batch=lambda bid, n: seen.append(n),
    )
    assert q.awaitTermination(300), "stream did not finish"

    kept = sorted(r["doc_id"] for r in wh.read(DOCS_SPEC).collect())
    assert kept == [1, 2, 11]  # 10, 20, 21 were near-dups of history
    idx_ids = {r["id"] for r in wh.read(INDEX_SPEC).collect()}
    assert idx_ids == {1, 2, 11}  # index holds canonical docs only
    assert sum(seen) == 3


def test_reingested_id_replaces_index_rows(spark, tmp_path):
    """Same doc_id re-delivered with CHANGED text: the (id, band) PK
    makes the index upsert replace the old hashes, so future docs
    similar to the RETIRED text are not dropped against phantom
    state."""
    chunks = [
        [(1, BASE)],                 # original text A
        [(1, OTHER)],                # same id, corrected text B
        [(30, BASE + " echo")],      # similar to retired A -> must SURVIVE
        [(31, OTHER + " echo")],     # similar to live B -> dropped
    ]
    stage = str(tmp_path / "in")
    for rows in chunks:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        time.sleep(1.05)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_incremental_dedup(
        stream, wh, DOCS_SPEC, INDEX_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_kwargs={"k": 16, "bands": 8},
    )
    assert q.awaitTermination(300), "stream did not finish"

    docs = {r["doc_id"]: r["text"] for r in wh.read(DOCS_SPEC).collect()}
    assert docs[1] == OTHER            # text B replaced A
    assert 30 in docs and 31 not in docs
    # index holds exactly one row per (id, band): no stranded A hashes
    idx = wh.read(INDEX_SPEC)
    assert idx.count() == idx.select("id", "band").distinct().count()


def test_compact_dedup_index_closes_phantom_band_window(spark, tmp_path):
    """Round-6 maintenance hook: after documents are DELETED from the
    corpus, their band rows are phantom state — a future look-alike
    of the deleted content would be suppressed against nothing.
    compact_dedup_index folds the index to live ids (above a
    fragmentation threshold), after which the look-alike survives
    ingestion; below the threshold it is a two-count no-op."""
    from trainingdata_spark.streaming import compact_dedup_index
    from trainingdata_spark.textops.dedup import (
        band_index,
        incremental_near_dedup,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(1, BASE), (2, OTHER), (3, "a third unrelated text about tidal harmonics and buoys")],
        "doc_id long, text string",
    )
    wh.overwrite(DOCS_SPEC, docs)
    wh.overwrite(
        INDEX_SPEC, band_index(docs, "doc_id", "text", k=16, bands=8)
    )

    # everything live → no-op, regardless of threshold
    stats = compact_dedup_index(wh, DOCS_SPEC, INDEX_SPEC, min_orphan_frac=0.0)
    assert stats["pruned"] is False and stats["orphans"] == 0

    # delete doc 1 from the corpus (curation drop); its bands are now
    # phantom: a twin of BASE gets suppressed against deleted content
    wh.overwrite(DOCS_SPEC, docs.filter("doc_id != 1"))
    batch = spark.createDataFrame(
        [(50, BASE + " republished")], "doc_id long, text string"
    )
    kept, _ = incremental_near_dedup(
        batch, wh.read(INDEX_SPEC), k=16, bands=8
    )
    assert kept.count() == 0  # phantom suppression (the window)

    # below threshold: orphans counted but not rewritten
    stats = compact_dedup_index(wh, DOCS_SPEC, INDEX_SPEC, min_orphan_frac=0.9)
    assert stats["pruned"] is False and stats["orphans"] > 0
    # above threshold: fold, phantom rows gone, look-alike survives
    stats = compact_dedup_index(wh, DOCS_SPEC, INDEX_SPEC, min_orphan_frac=0.1)
    assert stats["pruned"] is True
    idx_ids = {r["id"] for r in wh.read(INDEX_SPEC).collect()}
    assert idx_ids == {2, 3}
    kept, _ = incremental_near_dedup(
        batch, wh.read(INDEX_SPEC), k=16, bands=8
    )
    assert kept.count() == 1
