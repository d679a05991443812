"""Round-12 optimization guards: assumptions and differentials for
this round's changes."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def test_documents_doc_id_unique_nonnull():
    """q_doc_langid returns classify_language_scores output (one row
    per distinct non-NULL doc_id) where the DuckDB oracle emits one
    row per documents row — equivalent iff documents.doc_id is a
    unique non-NULL key. Assert that contract at the oracle-check
    scales so a future corpus change cannot silently break the
    equivalence (round-11 ADVICE)."""
    import duckdb

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n, nd, nn = duckdb.sql(
            f"SELECT count(*), count(DISTINCT doc_id), count(doc_id) "
            f"FROM '{sf}/documents.parquet'"
        ).fetchone()
        assert n == nd == nn, (sf, n, nd, nn)


import math

import pytest

from pyspark.sql import functions as F


def _canon(df):
    """Rows canonicalized via repr (shortest-roundtrip for floats, so
    any last-ulp divergence shows) — NaN/None safe, sortable."""
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


nan = float("nan")


@pytest.fixture(scope="module")
def adversarial_corpus(spark):
    """Every NULL/NaN/shape edge the JVM fold semantics distinguish:
    NULL vector, NULL slot, ragged lengths, empty array, zero vector,
    NaN slot, duplicate ids, NULL id."""
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0], 0),
        (2, [4.0, 3.0, 2.0, 1.0], 0),
        (3, [0.1, -0.2, 0.3, -0.4], 0),
        (4, None, 0),                      # NULL vector
        (5, [1.0, None, 3.0, 4.0], 0),     # NULL slot
        (6, [1.0, 2.0], 0),                # ragged (len 2)
        (7, [2.0, 1.0], 0),                # ragged partner
        (8, [], 0),                        # empty array (dot → NULL)
        # NOTE no zero-norm vector here: under ANSI (the session
        # default) even the JVM reference plan raises DIVIDE_BY_ZERO
        # for it — that parity is pinned in test_zero_norm_division_parity
        (10, [nan, 1.0, 1.0, 1.0], 0),     # NaN slot → NaN cosine
        (11, [1.0, 2.0, 3.0, 4.0], 1),     # duplicate id below
        (11, [1.0, 2.0, 3.0, 4.1], 1),
        (None, [9.0, 9.0, 9.0, 9.0], 1),   # NULL id
        (12, [-1.0, -2.0, -3.0, -4.0], 1),
        (13, [1e300, 1e300, 1e300, 1e300], 1),  # overflow → inf norm
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


@pytest.fixture(scope="module")
def random_corpus(spark):
    """Seeded noise in float32 (the production embedding type) wide
    enough that a single out-of-order double add flips the repr."""
    import numpy as np

    rng = np.random.default_rng(7)
    x = (rng.standard_normal((200, 16)) * rng.uniform(0.01, 100)).astype(np.float32)
    return spark.createDataFrame(
        [(i, [float(v) for v in row], int(i % 7)) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>, label int",
    )


def _queries(spark):
    return spark.createDataFrame(
        [
            (100, [1.0, 1.0, 1.0, 1.0]),
            (101, [0.5, -0.5, 0.25, -0.25]),
            (102, None),                    # NULL query vector
            (103, [1.0, None, 1.0, 1.0]),   # NULL slot in query
            (104, [1.0, 1.0]),              # length-mismatched query
        ],
        "query_id long, query_vec array<double>",
    )


def test_cosine_topk_arrow_matches_jvm_adversarial(spark, adversarial_corpus):
    from trainingdata_spark import similarity as sim

    q = _queries(spark)
    got = _canon(sim.cosine_topk(adversarial_corpus, q, k=6, kernel="arrow"))
    exp = _canon(sim.cosine_topk(adversarial_corpus, q, k=6, kernel="jvm"))
    assert got == exp and len(got) > 0


def test_cosine_topk_arrow_matches_jvm_random_float32(spark, random_corpus):
    from trainingdata_spark import similarity as sim

    q = random_corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = _canon(sim.cosine_topk(random_corpus, q, k=10, kernel="arrow"))
    exp = _canon(sim.cosine_topk(random_corpus, q, k=10, kernel="jvm"))
    assert got == exp and len(got) == 40


def test_sq_topk_arrow_matches_jvm(spark, random_corpus):
    from trainingdata_spark import similarity as sim

    params = sim.train_sq_params(random_corpus)
    enc = sim.sq_encode(random_corpus, params).select("vec_id", "sq_code")
    q = random_corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = _canon(sim.sq_topk(enc, q, params, k=10, kernel="arrow"))
    exp = _canon(sim.sq_topk(enc, q, params, k=10, kernel="jvm"))
    assert got == exp and len(got) == 30


def test_near_dup_arrow_matches_jvm_adversarial(spark, adversarial_corpus):
    from trainingdata_spark import similarity as sim

    got = _canon(
        sim.cosine_near_dup_pairs(
            adversarial_corpus, threshold=0.2, block_col="label", kernel="arrow"
        )
    )
    exp = _canon(
        sim.cosine_near_dup_pairs(
            adversarial_corpus, threshold=0.2, block_col="label", kernel="jvm"
        )
    )
    assert got == exp and len(got) > 0


def test_near_dup_arrow_matches_jvm_random_float32(spark, random_corpus):
    from trainingdata_spark import similarity as sim

    got = _canon(
        sim.cosine_near_dup_pairs(
            random_corpus, threshold=-1.0, block_col="label", kernel="arrow"
        )
    )
    exp = _canon(
        sim.cosine_near_dup_pairs(
            random_corpus, threshold=-1.0, block_col="label", kernel="jvm"
        )
    )
    # threshold -1.0 keeps (almost) every pair: the strongest
    # bit-exactness sweep — every pair's last ulp must agree
    assert got == exp and len(got) > 1000


def test_zero_norm_division_parity(spark):
    """Spark's `/` is not IEEE: a zero cosine denominator raises
    DIVIDE_BY_ZERO under ANSI (the session default) and yields NULL
    (dropped by rank/threshold semantics identically) otherwise. The
    Arrow kernels replicate both modes."""
    from trainingdata_spark import similarity as sim

    corpus = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [0.0, 0.0], 0), (3, [2.0, 1.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(9, [1.0, 1.0])], "query_id long, query_vec array<double>"
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    for kern in ("jvm", "arrow"):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            sim.cosine_topk(corpus, q, k=3, kernel=kern).collect()
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            sim.cosine_near_dup_pairs(
                corpus, threshold=-2.0, block_col="label", kernel=kern
            ).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = _canon(sim.cosine_topk(corpus, q, k=3, kernel="arrow"))
        exp = _canon(sim.cosine_topk(corpus, q, k=3, kernel="jvm"))
        assert got == exp and len(got) == 3  # zero-norm row ranks NULL-last
        gp = _canon(
            sim.cosine_near_dup_pairs(
                corpus, threshold=-2.0, block_col="label", kernel="arrow"
            )
        )
        ep = _canon(
            sim.cosine_near_dup_pairs(
                corpus, threshold=-2.0, block_col="label", kernel="jvm"
            )
        )
        assert gp == ep and len(gp) == 1  # only the (1,3) pair survives
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_tfidf_broadcast_mode_matches_window_mode(spark):
    from trainingdata_spark.textops.analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma gamma gamma"),
            (2, "alpha beta delta"),
            (3, "epsilon epsilon zeta  zeta  "),
            (4, None),
            (5, ""),
            (6, "alpha ALPHA Alpha"),
        ],
        "doc_id long, text string",
    )
    for min_df in (1, 2):
        got = _canon(tfidf_top_terms(docs, k=3, min_df=min_df, df_mode="broadcast"))
        exp = _canon(tfidf_top_terms(docs, k=3, min_df=min_df, df_mode="window"))
        assert got == exp and len(got) > 0, min_df


def test_token_and_quality_counts_match_split_forms(spark):
    """with_tokens/with_quality round-12 rewrite: regexp_count passes
    must reproduce the old materializing forms (collapse → trim →
    split → size, strip → length) integer-for-integer on whitespace,
    unicode, digit and punctuation edges — including the split('')
    → [''] → 1 empty-text artifact and NULL propagation."""
    from trainingdata_spark.textops.analysis import (
        tokens_col,
        with_quality,
        with_tokens,
    )

    rows = [
        (1, "plain words here"),
        (2, ""),
        (3, "   "),
        (4, "\t\n\r mixed \t whitespace "),
        (5, None),
        (6, "a b"),              # NBSP is NOT \s in Java regex
        (7, "abc123def 12.5 ,,x__y"), # digit runs, punct, underscores
        (8, "émigré café ños"),       # non-ASCII letters → punct class
        (9, "的 是 the and"),          # CJK + markers
        (10, "!!!"),
        (11, "one"),
        (12, "12345"),
        (13, "a  b   c"),
        (14, "ends with space "),
        (15, " starts"),
        (16, "\t\n"),            # whitespace-only w/ non-space → 2 (!)
        (17, " \t "),            # spaces trim, tab survives → 2
        (18, "\ta\t"),           # phantom empty segments both sides
        (19, "a\t"),
        (20, ".\t."),
        (21, "tail newline\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.col("text")
    toks = tokens_col(t)
    pieces = F.split(
        F.trim(F.regexp_replace(t, r"([^\sA-Za-z0-9]|\d+)", " $1 ")), r"\s+"
    )
    ref = df.select(
        "doc_id",
        F.size(toks).alias("n_tokens_ref"),
        F.size(pieces).alias("n_bpe_ref"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).alias(
            "n_punct_ref"
        ),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).alias("n_alpha_ref"),
    )
    got_t = with_tokens(df).select("doc_id", "n_tokens", "n_bpe_ish")
    got_q = with_quality(df).select(
        "doc_id", "n_tokens", "punct_ratio", "alpha_ratio", "quality_score",
        "mean_token_len", "n_chars_calc",
    )
    joined = got_t.join(ref, "doc_id").collect()
    for r in joined:
        assert r["n_tokens"] == r["n_tokens_ref"], r
        assert r["n_bpe_ish"] == r["n_bpe_ref"], r
    # quality ratios re-derived from the reference integers must agree
    # bit-for-bit (int/int division order unchanged)
    qref = {
        r["doc_id"]: r
        for r in ref.join(df, "doc_id")
        .select(
            "doc_id",
            (F.col("n_punct_ref") / F.greatest(F.length("text"), F.lit(1))).alias("pr"),
            (F.col("n_alpha_ref") / F.greatest(F.length("text"), F.lit(1))).alias("ar"),
        )
        .collect()
    }
    for r in got_q.collect():
        e = qref[r["doc_id"]]
        assert repr(r["punct_ratio"]) == repr(e["pr"]), r
        assert repr(r["alpha_ratio"]) == repr(e["ar"]), r
