"""Corpus-level frequent-line removal and deterministic training-order
shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from trainingdata_spark.textops.cleaning import (
    drop_frequent_lines,
    frequent_lines,
)
from trainingdata_spark.textops.sampling import shuffle_rows


BOILER = "all rights reserved - example site"


def _docs(spark, n=40):
    rows = []
    for i in range(n):
        body = f"unique body line {i} alpha\nsecond unique line {i} beta"
        if i % 2 == 0:
            body += f"\n{BOILER}"
        if i % 10 == 0:
            body += "\ncookie notice text here"
        rows.append((i, body))
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------- frequent lines


def test_frequent_lines_inventory(spark):
    df = _docs(spark)
    # boilerplate in 50% of docs, cookie line in 10%; unique lines in 1
    inv = frequent_lines(df, max_doc_frac=0.05).collect()
    counts = sorted(r["n_docs"] for r in inv)
    assert counts == [4, 20]  # cookie (4 docs of 40), boiler (20)


def test_drop_frequent_lines_removes_only_boilerplate(spark):
    df = _docs(spark)
    out = {r["doc_id"]: r for r in drop_frequent_lines(df, max_doc_frac=0.05).collect()}
    for i in range(40):
        t = out[i]["text_clean"]
        assert f"unique body line {i} alpha" in t
        assert BOILER not in t
        assert "cookie notice" not in t
        expected_dropped = (1 if i % 2 == 0 else 0) + (1 if i % 10 == 0 else 0)
        assert out[i]["n_lines_dropped"] == expected_dropped
    # line order preserved
    assert out[1]["text_clean"].split("\n") == [
        "unique body line 1 alpha",
        "second unique line 1 beta",
    ]


def test_threshold_respects_min_docs(spark):
    df = _docs(spark, n=4)  # boiler appears in docs 0,2 (2 of 4)
    # min_docs=3 > the 2 occurrences -> nothing frequent
    assert frequent_lines(df, max_doc_frac=0.01, min_docs=3).count() == 0
    out = drop_frequent_lines(df, max_doc_frac=0.01, min_docs=3).collect()
    assert all(r["n_lines_dropped"] == 0 for r in out)


def test_no_frequent_lines_is_a_noop(spark):
    rows = [(i, f"totally unique {i}\nalso unique {i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = drop_frequent_lines(df).collect()
    assert all(r["text_clean"] == r["text"] for r in out)


# ------------------------------------------------- deterministic shuffle


def test_shuffle_is_deterministic_and_seed_sensitive(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(500)], "doc_id long, text string")
    a = [r["doc_id"] for r in shuffle_rows(df, seed=1, num_partitions=8).collect()]
    b = [r["doc_id"] for r in shuffle_rows(df, seed=1, num_partitions=8).collect()]
    c = [r["doc_id"] for r in shuffle_rows(df, seed=2, num_partitions=8).collect()]
    assert a == b  # reproducible
    assert a != c  # epochs differ
    assert sorted(a) == list(range(500)) == sorted(c)  # permutations
    assert a != list(range(500))  # actually shuffled


def test_shuffle_order_matches_key_sort(spark):
    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    got = [r["doc_id"] for r in shuffle_rows(df, seed=7, num_partitions=4).collect()]
    exp = (
        df.withColumn("__k", F.xxhash64(F.col("doc_id").cast("string"), F.lit(7)))
        .orderBy("__k", "doc_id")
        .drop("__k")
    )
    assert got == [r["doc_id"] for r in exp.collect()]


# --------------------------------------- curation-chain integration


def test_curate_with_frequent_line_stage(spark):
    from trainingdata_spark.textops.curate import curate, curation_flags

    df = _docs(spark, n=30)
    flags = curation_flags(
        df, min_line_words=1, gopher_overrides={"min_words": 2},
        frequent_line_doc_frac=0.05,
    )
    rows = {r["doc_id"]: r for r in flags.collect()}
    assert rows[0]["n_freq_lines_dropped"] >= 1  # boiler + cookie doc
    assert all(BOILER not in r["text_clean"] for r in rows.values())
    out = curate(
        df, min_line_words=1, gopher_overrides={"min_words": 2},
        frequent_line_doc_frac=0.05,
    )
    texts = [r["text"] for r in out.collect()]
    assert texts and all(BOILER not in t for t in texts)
    assert "n_freq_lines_dropped" not in out.columns


def test_curate_without_stage_unchanged(spark):
    from trainingdata_spark.textops.curate import curation_flags

    df = _docs(spark, n=10)
    flags = curation_flags(df, min_line_words=1, gopher_overrides={"min_words": 2})
    assert "n_freq_lines_dropped" not in flags.columns
