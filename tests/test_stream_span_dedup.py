"""Streaming ingest with substring-level dedup against all stored
history: each micro-batch probes the warehouse window-hash index,
cuts repeated passages, and keeps the first-ingested copy."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.streaming import stream_span_dedup
from binancedatapipeline_spark.warehouse import Warehouse

DOCS_SPEC = TableSpec(
    name="span_docs_store",
    primary_keys=("doc_id",),
    schema=T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]),
    kind="fact",
)

INDEX_SPEC = TableSpec(
    name="span_hash_index",
    primary_keys=("h",),
    schema=T.StructType([
        T.StructField("h", T.LongType()),
        T.StructField("first_id", T.LongType()),
        T.StructField("first_pos", T.LongType()),
    ]),
    kind="fact",
)

PASSAGE = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"


def _uniq(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def _run(spark, stage, wh, ckpt):
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_span_dedup(
        stream, wh, DOCS_SPEC, INDEX_SPEC, ckpt, span_window=8
    )
    q.awaitTermination(300)


def test_cross_batch_span_dedup_and_replay(spark, tmp_path):
    chunks = [
        [(1, f"{_uniq('a', 4)} {PASSAGE}"), (2, _uniq("b", 30))],
        # 10 copies the passage (cut); 11 is novel; 12 becomes empty
        [(10, f"{PASSAGE} {_uniq('c', 6)}"), (11, _uniq("d", 30)),
         (12, PASSAGE)],
    ]
    stage = str(tmp_path / "in")
    schema = "doc_id long, text string"
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        time.sleep(1.05)  # distinct mtimes: FileStreamSource orders by time

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for spec in (DOCS_SPEC, INDEX_SPEC):
        wh.init_table(spec)
    _run(spark, stage, wh, str(tmp_path / "ckpt"))

    docs = {r["doc_id"]: r["text"] for r in wh.read(DOCS_SPEC).collect()}
    assert PASSAGE in docs[1]                       # first-ingested copy kept
    assert PASSAGE not in docs[10]                  # later copy cut
    assert docs[10].split() == _uniq("c", 6).split()
    assert docs[11] == _uniq("d", 30)               # novel doc untouched
    assert 12 not in docs                           # emptied by the cut
    idx_before = wh.read(INDEX_SPEC).count()
    assert idx_before > 0

    # full replay from a fresh checkpoint: warehouse state unchanged
    _run(spark, stage, wh, str(tmp_path / "ckpt2"))
    docs2 = {r["doc_id"]: r["text"] for r in wh.read(DOCS_SPEC).collect()}
    assert docs2 == docs
    assert wh.read(INDEX_SPEC).count() == idx_before


def test_compact_span_index_unsuppresses_deleted_content(spark, tmp_path):
    """Once the passage's last copy is deleted from the corpus, the
    compacted index treats a re-appearance as novel again."""
    from trainingdata_spark.streaming import compact_span_index
    from trainingdata_spark.textops.spans import (
        incremental_duplicate_spans,
        span_index,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    doc1 = spark.createDataFrame(
        [(1, f"{PASSAGE} {_uniq('x', 8)}")], "doc_id long, text string"
    )
    wh.init_table(DOCS_SPEC)
    wh.init_table(INDEX_SPEC)
    wh.upsert(DOCS_SPEC, doc1)
    wh.upsert(INDEX_SPEC, span_index(doc1, window=8))
    n_idx = wh.read(INDEX_SPEC).count()
    assert n_idx > 0

    # delete doc 1 (retention / curation drop): rewrite the table without it
    wh.overwrite(DOCS_SPEC, wh.read(DOCS_SPEC).filter(F.col("doc_id") != 1))
    stats = compact_span_index(wh, DOCS_SPEC, INDEX_SPEC)
    assert stats["pruned"] and stats["orphans"] == n_idx
    assert wh.read(INDEX_SPEC).count() == 0

    # a re-appearance of the passage is novel again — no spans cut
    doc2 = spark.createDataFrame(
        [(2, f"{PASSAGE} {_uniq('y', 4)}")], "doc_id long, text string"
    )
    spans2, new_rows = incremental_duplicate_spans(
        doc2, wh.read(INDEX_SPEC), window=8
    )
    assert spans2.count() == 0
    assert new_rows.count() > 0
