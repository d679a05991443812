"""Streaming corpus curation → warehouse upsert: the end-to-end
training-data ingest a user would actually run."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec
from trainingdata_spark.streaming import stream_curate_upsert
from binancedatapipeline_spark.warehouse import Warehouse

DOCS_SPEC = TableSpec(
    name="docs_curated",
    primary_keys=("doc_id",),
    schema=T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("split", T.StringType()),
    ]),
    kind="fact",
    time_column="ingest_ts",
)

GOOD = " ".join(f"word{i} sentence continues naturally here" for i in range(15))


def test_stream_curate_upsert_end_to_end(spark, tmp_path):
    base = datetime(2024, 6, 1)
    chunks = [
        # batch 1: a clean doc and a junk doc
        [(1, GOOD + " one", base), (2, "too short", base)],
        # batch 2: a PII doc and a byte-duplicate of doc 1's text
        [
            (3, GOOD + " three mail me at eve@example.org thanks a lot", base + timedelta(hours=1)),
            (4, GOOD + " one", base + timedelta(hours=1)),
        ],
        # batch 3: replay of doc 1 (same id, same text) — upsert must
        # replace, not append
        [(1, GOOD + " one", base + timedelta(hours=2))],
    ]
    stage = str(tmp_path / "docs_in")
    schema = "doc_id long, text string, ingest_ts timestamp"
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(stage)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    seen = []
    q = stream_curate_upsert(
        stream,
        wh,
        DOCS_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(180)

    out = {r["doc_id"]: r for r in wh.read(DOCS_SPEC).collect()}
    # doc 2 failed the shape filter; docs 1, 3, 4 survive (4 is a
    # content-dup of 1 but in a different batch — batch-local dedup
    # plus PK upsert keeps it; content-level cross-batch dedup is
    # stream_dedup's job upstream)
    assert set(out) == {1, 3, 4}
    assert out[3]["text"].count("<EMAIL>") == 1
    assert "eve@example.org" not in out[3]["text"]
    assert all(r["split"] in ("train", "val", "test") for r in out.values())
    assert len(seen) == 3  # one callback per micro-batch

    # full replay from a fresh checkpoint: idempotent (same rows)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
    )
    q2 = stream_curate_upsert(
        stream2,
        wh,
        DOCS_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        curate_kwargs={"min_line_words": 1, "gopher_overrides": {"min_words": 10}},
    )
    q2.awaitTermination(180)
    out2 = {r["doc_id"]: r for r in wh.read(DOCS_SPEC).collect()}
    assert set(out2) == {1, 3, 4}
    assert out2[3]["text"] == out[3]["text"]


def test_stream_curate_language_gate_composes(spark, tmp_path):
    """The round-9 trained language gate rides curate_kwargs into the
    streaming sink unchanged: off-list-language documents never reach
    the warehouse, and the gate's extra columns are dropped by the
    spec alignment on upsert."""
    from trainingdata_spark.textops.langid import train_language_profiles

    base = datetime(2024, 6, 1)
    en = GOOD + " the weather of the year was ordinary in the morning house"
    es = (
        "el rapido zorro marron salta sobre el perro perezoso junto al rio "
        "y el tiempo del ano era comun por la manana en la casa grande "
        "mientras ella dijo que vendrian temprano con las palabras comunes"
    )
    stage = str(tmp_path / "docs_in")
    schema = "doc_id long, text string, ingest_ts timestamp"
    spark.createDataFrame(
        [(1, en, base), (2, es, base), (3, en + " again today", base)], schema
    ).coalesce(1).write.mode("append").parquet(stage)

    profiles = train_language_profiles(
        spark.createDataFrame(
            [("en", "the quick brown fox jumps over the lazy dog near the "
                    "river bank and the weather of the year was ordinary"),
             ("es", "el rapido zorro marron salta sobre el perro perezoso "
                    "junto al rio y el tiempo del ano era comun en la casa")],
            ["lang", "text"],
        ),
        top_k=300,
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .parquet(stage)
    )
    q = stream_curate_upsert(
        stream,
        wh,
        DOCS_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        curate_kwargs={
            "min_line_words": 1,
            "gopher_overrides": {"min_words": 10},
            "lang_profiles": profiles,
            "lang_allow": {"en"},
            "lang_kwargs": {"min_chars": 20},
        },
    )
    q.awaitTermination(180)
    out = {r["doc_id"] for r in wh.read(DOCS_SPEC).collect()}
    assert out == {1, 3}


def test_stream_lang_profiles_materialize_once(spark, tmp_path):
    """Round-10 ADVICE fix: a DataFrame ``lang_profiles`` handed to
    the streaming sink is collected ONCE at stream start — its
    training lineage (a corpus-wide aggregation) must NOT re-execute
    per micro-batch. Pinned with an accumulator-bumping UDF inside
    the training lineage: a 3-micro-batch run charges exactly the
    same number of UDF evaluations as one direct materialization."""
    from pyspark.sql.types import StringType

    from trainingdata_spark.textops.langid import (
        collect_profiles,
        train_language_profiles,
    )

    train_rows = [
        ("en", "the quick brown fox jumps over the lazy dog near the river"),
        ("es", "el rapido zorro marron salta sobre el perro perezoso junto"),
    ]

    def tracked_profiles(acc):
        bump = F.udf(lambda s: (acc.add(1), s)[1], StringType())
        return train_language_profiles(
            spark.createDataFrame(train_rows, ["lang", "text"]).select(
                "lang", bump("text").alias("text")
            ),
            top_k=50,
        )

    baseline_acc = spark.sparkContext.accumulator(0)
    assert len(collect_profiles(tracked_profiles(baseline_acc))) > 0
    baseline = baseline_acc.value
    assert baseline > 0

    stream_acc = spark.sparkContext.accumulator(0)
    base = datetime(2024, 6, 1)
    stage = str(tmp_path / "docs_in")
    schema = "doc_id long, text string, ingest_ts timestamp"
    for i in range(3):  # three files → three micro-batches
        spark.createDataFrame(
            [(i, GOOD + f" batch {i}", base + timedelta(hours=i))], schema
        ).coalesce(1).write.mode("append").parquet(stage)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    n_batches = []
    q = stream_curate_upsert(
        stream,
        wh,
        DOCS_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt"),
        curate_kwargs={
            "min_line_words": 1,
            "gopher_overrides": {"min_words": 10},
            "lang_profiles": tracked_profiles(stream_acc),
            "lang_kwargs": {"min_chars": 20},
        },
        on_batch=lambda bid, n: n_batches.append(bid),
    )
    q.awaitTermination(180)
    assert len(n_batches) == 3
    assert stream_acc.value == baseline, (
        f"training lineage ran {stream_acc.value / baseline:.1f}x "
        f"(expected once: {baseline} UDF evals, got {stream_acc.value})"
    )


def test_stream_curate_quality_gate_composes(spark, tmp_path):
    """Round 11: a FITTED quality classifier rides curate_kwargs into
    the ingest sink — scoring is per-batch inference only (the model
    is already fit; nothing retrains in the stream), sub-threshold
    docs never reach the warehouse."""
    import random

    from trainingdata_spark.textops.quality_clf import (
        train_quality_classifier,
    )

    rng = random.Random(23)
    gv = ["word0", "sentence", "continues", "naturally", "here", "study"]
    bv = ["casino", "pills", "winner", "click", "free", "offer"]
    doc = lambda v: " ".join(rng.choice(v) for _ in range(25))
    clf = train_quality_classifier(
        spark.createDataFrame([(f"p{i}", doc(gv)) for i in range(60)],
                              ["doc_id", "text"]),
        spark.createDataFrame([(f"n{i}", doc(bv)) for i in range(60)],
                              ["doc_id", "text"]),
        num_features=1 << 10, max_iter=10,
    )

    base = datetime(2024, 6, 1)
    junk = " ".join(f"casino{i} pills winner{i} click free{i} offer" for i in range(12))
    chunks = [
        [(1, GOOD + " one", base)],
        [(2, junk, base + timedelta(hours=1)),
         (3, GOOD + " three", base + timedelta(hours=1))],
    ]
    stage = str(tmp_path / "docs_in_q")
    schema = "doc_id long, text string, ingest_ts timestamp"
    for rows in chunks:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(stage)

    wh = Warehouse(spark, str(tmp_path / "wh_q"))
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_curate_upsert(
        stream, wh, DOCS_SPEC,
        checkpoint_dir=str(tmp_path / "ckpt_q"),
        curate_kwargs={
            "min_line_words": 1, "gopher_overrides": {"min_words": 10},
            "quality_model": clf, "quality_threshold": 0.5,
        },
    )
    q.awaitTermination(180)
    out = {r["doc_id"] for r in wh.read(DOCS_SPEC).collect()}
    assert out == {1, 3}  # the junk doc was gated at ingest
