"""The new per-row curation ops (context-window chunking, BPE encode,
LM scoring against a frozen model) are pure map stages — they must run
UNCHANGED on a streaming DataFrame and emit exactly the batch result.
"""

from __future__ import annotations

from trainingdata_spark.textops.bpe import apply_bpe, train_bpe
from trainingdata_spark.textops.lm import score_documents_map, unigram_model
from trainingdata_spark.textops.packing import chunk_documents

ROWS = [
    (1, " ".join(f"tok{i % 7} common words flow here" for i in range(12))),
    (2, "short doc"),
    (3, " ".join(f"w{i}" for i in range(40))),
]


def _write_stage(spark, tmp_path):
    stage = str(tmp_path / "docs_in")
    spark.createDataFrame(ROWS, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    return stage


def _run_stream(spark, stage, transform, tmp_path, name):
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out_dir = str(tmp_path / f"{name}_out")
    q = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out_dir)


def _rows(df, key_cols):
    return sorted(
        tuple(r[c] for c in key_cols) for r in df.collect()
    )


def test_chunking_streams_identically(spark, tmp_path):
    stage = _write_stage(spark, tmp_path)
    batch = chunk_documents(
        spark.read.parquet(stage), max_tokens=8, overlap=2
    )
    streamed = _run_stream(
        spark, stage,
        lambda s: chunk_documents(s, max_tokens=8, overlap=2),
        tmp_path, "chunk",
    )
    cols = ["doc_id", "chunk_id", "chunk_text", "chunk_tokens"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_bpe_encode_streams_identically(spark, tmp_path):
    stage = _write_stage(spark, tmp_path)
    docs = spark.read.parquet(stage)
    merges = train_bpe(docs, num_merges=8)  # train batch-side, freeze
    enc = lambda s: apply_bpe(s, merges).selectExpr(
        "doc_id", "concat_ws('|', bpe_tokens) as toks", "n_bpe_tokens"
    )
    batch = enc(docs)
    streamed = _run_stream(spark, stage, enc, tmp_path, "bpe")
    cols = ["doc_id", "toks", "n_bpe_tokens"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_lm_scoring_streams_identically(spark, tmp_path):
    stage = _write_stage(spark, tmp_path)
    docs = spark.read.parquet(stage)
    # fit the model batch-side and FREEZE it as a literal table;
    # score with the map-only scorer — the groupBy form is a
    # streaming aggregation (watermark required), the map form is a
    # pure per-row fold and append-safe
    model = unigram_model(docs, vocab_size=100)
    frozen = spark.createDataFrame(model.collect(), model.schema)
    score = lambda s: score_documents_map(s, frozen).select(
        "doc_id", "n_tokens", "n_oov", "avg_logp"
    )
    batch = score(docs)
    streamed = _run_stream(spark, stage, score, tmp_path, "lm")
    cols = ["doc_id", "n_tokens", "n_oov", "avg_logp"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_quality_scoring_streams_identically(spark, tmp_path):
    """The trained quality classifier's scoring is a pure map stage
    (hash TF → dot → sigmoid), so model.transform-based scoring must
    run unchanged on a streaming DataFrame — the filter a streaming
    ingest applies per micro-batch."""
    from trainingdata_spark.textops.quality_clf import (
        score_quality,
        train_quality_classifier,
    )

    pos = spark.createDataFrame(
        [(i, "observed method theory evidence analysis") for i in range(20)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, "click free casino pills offer now") for i in range(20)],
        "doc_id long, text string",
    )
    model = train_quality_classifier(pos, neg, num_features=1 << 10, max_iter=15)

    stage = _write_stage(spark, tmp_path)
    batch = score_quality(spark.read.parquet(stage), model)
    streamed = _run_stream(
        spark, stage, lambda s: score_quality(s, model), tmp_path, "qclf"
    )
    b = {r["doc_id"]: round(r["quality_prob"], 9) for r in batch.collect()}
    s = {r["doc_id"]: round(r["quality_prob"], 9) for r in streamed.collect()}
    assert b == s and len(b) == len(ROWS)
