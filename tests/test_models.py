"""Model-artifact persistence seam (round-11 verdict ask #2): every
fitted artifact round-trips through parquet + sidecar, and the LOADED
model behaves identically to the FITTED one (classification, encoding,
scoring) — fitted models are derived tables, so a production job reads
them back instead of refitting per run."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from trainingdata_spark import models


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "el rapido zorro marron salta sobre el perro perezoso junto al rio"),
    (3, "the weather of the year was ordinary in the morning house today"),
    (4, "packing tokens into sequences is the daily bread of data work"),
    (5, "la casa grande junto al rio era comun por la manana temprana"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_language_profiles_roundtrip_and_classify_identical(spark, tmp_path):
    from trainingdata_spark.textops.langid import (
        classify_language,
        collect_profiles,
        train_language_profiles,
    )

    train = spark.createDataFrame(
        [("en", DOCS[0][1] + " " + DOCS[2][1]), ("es", DOCS[1][1] + " " + DOCS[4][1])],
        ["lang", "text"],
    )
    fitted = train_language_profiles(train, top_k=200)
    path = str(tmp_path / "langid")
    models.save_language_profiles(fitted, path)

    loaded = models.load_language_profiles(spark, path)
    assert _rows(loaded, "lang", "gram", "rank") == _rows(fitted, "lang", "gram", "rank")

    docs = _docs(spark)
    got_fit = _rows(classify_language(docs, fitted), "doc_id", "lang_id")
    got_load = _rows(classify_language(docs, loaded), "doc_id", "lang_id")
    assert got_fit == got_load and len(got_load) == len(DOCS)

    # the collected form (what a foreachBatch closure should hold)
    # equals collect_profiles of the fitted relation
    rows = models.load_language_profiles(spark, path, collected=True)
    assert sorted(rows) == sorted(collect_profiles(fitted))


def test_bpe_merges_roundtrip_and_encode_identical(spark, tmp_path):
    from trainingdata_spark.textops.bpe import apply_bpe, train_bpe

    corpus = _docs(spark)
    merges = train_bpe(corpus, num_merges=30)
    assert merges  # non-trivial model
    path = str(tmp_path / "bpe")
    models.save_bpe_merges(spark, merges, path)
    loaded = models.load_bpe_merges(spark, path)
    assert loaded == merges  # order IS the model

    a = _rows(apply_bpe(corpus, merges), "doc_id", "n_bpe_tokens")
    b = _rows(apply_bpe(corpus, loaded), "doc_id", "n_bpe_tokens")
    assert a == b


def test_unigram_lm_roundtrip_and_score_identical(spark, tmp_path):
    from trainingdata_spark.textops.lm import score_documents, unigram_model

    corpus = _docs(spark)
    fitted = unigram_model(corpus, smoothing=0.25)
    path = str(tmp_path / "lm")
    models.save_unigram_model(fitted, path, smoothing=0.25)
    loaded, k = models.load_unigram_model(spark, path)
    assert k == 0.25  # the fit's smoothing rides with the rows
    assert _rows(loaded, "token", "n", "logp") == _rows(fitted, "token", "n", "logp")

    sa = _rows(score_documents(corpus, fitted, smoothing=0.25), "doc_id", "avg_logp")
    sb = _rows(score_documents(corpus, loaded, smoothing=k), "doc_id", "avg_logp")
    assert sa == sb  # bit-identical scoring under the loaded model


def test_dsir_ratio_roundtrip_and_score_identical(spark, tmp_path):
    from trainingdata_spark.textops.dsir import fit_log_ratio, score_importance

    corpus = _docs(spark)
    pairs, default = fit_log_ratio(
        corpus, F.col("doc_id") <= 2, buckets=64
    )
    path = str(tmp_path / "dsir")
    models.save_dsir_ratio(spark, pairs, default, path, buckets=64)
    lp, ld = models.load_dsir_ratio(spark, path)
    assert ld == default

    sa = _rows(score_importance(corpus, pairs, default, buckets=64), "doc_id", "dsir_logw")
    sb = _rows(score_importance(corpus, lp, ld, buckets=64), "doc_id", "dsir_logw")
    assert sa == sb


def _embeddings(spark, n=40, dim=8):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id int, embedding array<double>",
    )


def test_sq_params_roundtrip_and_encode_identical(spark, tmp_path):
    from trainingdata_spark.similarity import sq_encode, train_sq_params

    emb = _embeddings(spark)
    fitted = train_sq_params(emb)
    path = str(tmp_path / "sq")
    models.save_sq_params(spark, fitted, path)
    loaded = models.load_sq_params(spark, path)
    assert loaded == (list(fitted[0]), list(fitted[1]))  # exact doubles

    a = _rows(sq_encode(emb, fitted), "vec_id", "sq_code")
    b = _rows(sq_encode(emb, loaded), "vec_id", "sq_code")
    assert [(i, list(c)) for i, c in a] == [(i, list(c)) for i, c in b]


def test_ivf_pq_opq_matrices_roundtrip_exact(spark, tmp_path):
    from trainingdata_spark.similarity import (
        pq_encode,
        train_ivf_centroids,
        train_opq_rotation_residual,
        train_pq_codebooks,
        with_ivf_cell,
    )

    emb = _embeddings(spark)
    cents = train_ivf_centroids(emb, n_cells=4, sample_rows=40)
    cb = train_pq_codebooks(emb, m=2, n_codes=8, sample_rows=40)
    rot, rcb = train_opq_rotation_residual(
        emb, cents, m=2, n_codes=8, sample_rows=40, opq_iters=2
    )

    models.save_ivf_centroids(spark, cents, str(tmp_path / "ivf"))
    models.save_pq_codebooks(spark, cb, str(tmp_path / "pq"))
    models.save_opq_rotation(spark, rot, str(tmp_path / "rot"))
    models.save_pq_codebooks(spark, rcb, str(tmp_path / "rpq"))

    assert np.array_equal(models.load_ivf_centroids(spark, str(tmp_path / "ivf")), cents)
    assert np.array_equal(models.load_pq_codebooks(spark, str(tmp_path / "pq")), cb)
    assert np.array_equal(models.load_opq_rotation(spark, str(tmp_path / "rot")), rot)
    assert np.array_equal(models.load_pq_codebooks(spark, str(tmp_path / "rpq")), rcb)

    # loaded matrices drive identical assignments/codes
    lc = models.load_ivf_centroids(spark, str(tmp_path / "ivf"))
    assert _rows(with_ivf_cell(emb, cents, "embedding"), "vec_id", "cell") == \
        _rows(with_ivf_cell(emb, lc, "embedding"), "vec_id", "cell")
    pa = _rows(pq_encode(emb, cb), "vec_id", "pq_code")
    pb = _rows(pq_encode(emb, models.load_pq_codebooks(spark, str(tmp_path / "pq"))),
               "vec_id", "pq_code")
    assert [(i, list(c)) for i, c in pa] == [(i, list(c)) for i, c in pb]


def test_save_semantics_immutable_kind_checked(spark, tmp_path):
    from trainingdata_spark.textops.langid import train_language_profiles

    fitted = train_language_profiles(
        spark.createDataFrame([("en", DOCS[0][1])], ["lang", "text"]), top_k=20
    )
    path = str(tmp_path / "m")
    models.save_language_profiles(fitted, path)
    # immutable by default: second save at the same path fails
    with pytest.raises(Exception):
        models.save_language_profiles(fitted, path)
    # explicit overwrite replaces
    models.save_language_profiles(fitted, path, overwrite=True)
    # wrong-kind load fails loudly at load time
    with pytest.raises(ValueError, match="expected 'bpe_merges'"):
        models.load_bpe_merges(spark, path)
    # a non-model directory fails with the sidecar-missing error
    with pytest.raises(FileNotFoundError, match="model.json"):
        models.load_language_profiles(spark, str(tmp_path / "nope"))


def test_stream_curate_starts_from_stored_profile_table(spark, tmp_path):
    """The seam's deployment target: the streaming curation sink gated
    by a language profile LOADED from storage — no fit anywhere in the
    stream's lifetime, the stored table is the model."""
    from datetime import datetime

    from pyspark.sql import types as T

    from binancedatapipeline_spark.catalog import TableSpec
    from trainingdata_spark.streaming import stream_curate_upsert
    from trainingdata_spark.textops.langid import train_language_profiles
    from binancedatapipeline_spark.warehouse import Warehouse

    good = " ".join(f"word{i} sentence continues naturally here" for i in range(15))
    en = good + " the weather of the year was ordinary in the morning house"
    es = (
        "el rapido zorro marron salta sobre el perro perezoso junto al rio "
        "y el tiempo del ano era comun por la manana en la casa grande "
        "mientras ella dijo que vendrian temprano con las palabras comunes"
    )
    # a PREVIOUS session fit + saved the profiles (the only fit ever)
    fitted = train_language_profiles(
        spark.createDataFrame(
            [("en", "the quick brown fox jumps over the lazy dog near the "
                    "river bank and the weather of the year was ordinary"),
             ("es", "el rapido zorro marron salta sobre el perro perezoso "
                    "junto al rio y el tiempo del ano era comun en la casa")],
            ["lang", "text"],
        ),
        top_k=300,
    )
    model_path = str(tmp_path / "langid_model")
    models.save_language_profiles(fitted, model_path)

    # THIS session: load collected rows (bounded dim — nothing but a
    # dim-sized parquet scan precedes the stream) and gate the sink
    stored_rows = models.load_language_profiles(spark, model_path, collected=True)

    base = datetime(2024, 6, 1)
    stage = str(tmp_path / "docs_in")
    spark.createDataFrame(
        [(1, en, base), (2, es, base), (3, en + " again today", base)],
        "doc_id long, text string, ingest_ts timestamp",
    ).coalesce(1).write.mode("append").parquet(stage)

    spec = TableSpec(
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
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
    q = stream_curate_upsert(
        stream, wh, spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
        curate_kwargs={
            "min_line_words": 1,
            "gopher_overrides": {"min_words": 10},
            "lang_profiles": stored_rows,
            "lang_allow": {"en"},
            "lang_kwargs": {"min_chars": 20},
        },
    )
    q.awaitTermination(180)
    assert {r["doc_id"] for r in wh.read(spec).collect()} == {1, 3}


# ------------------------------------------- warehouse model registry


def test_model_registry_register_resolve_versions(spark, tmp_path):
    """Round 11: the registry is the production glue over
    version-by-path — register validates the sidecar first, versions
    auto-increment per name, resolve returns the latest (or pinned)
    row, and the registry is an ordinary warehouse table (queryable
    history, PK replace on same version)."""
    from trainingdata_spark.models import MODEL_REGISTRY
    from trainingdata_spark.textops.langid import (
        classify_language,
        train_language_profiles,
    )
    from binancedatapipeline_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    labeled = spark.createDataFrame(
        [("en", DOCS[0][1]), ("es", DOCS[1][1])], ["lang", "text"]
    )
    profiles = train_language_profiles(labeled, top_k=100)
    p1 = str(tmp_path / "langid_v1")
    p2 = str(tmp_path / "langid_v2")
    models.save_language_profiles(profiles, p1)
    models.save_language_profiles(profiles, p2)

    # an unregistered name fails loudly
    with pytest.raises(KeyError):
        models.resolve_model(wh, "langid")

    r1 = models.register_model(wh, "langid", p1)
    assert (r1["version"], r1["model_kind"]) == (1, "langid_profiles")
    r2 = models.register_model(wh, "langid", p2)
    assert r2["version"] == 2

    cur = models.resolve_model(wh, "langid")
    assert (cur["version"], cur["path"]) == (2, p2)
    pinned = models.resolve_model(wh, "langid", version=1)
    assert pinned["path"] == p1
    assert pinned["params"] == {}  # langid profiles carry no fit params
    with pytest.raises(KeyError):
        models.resolve_model(wh, "langid", version=9)

    # the resolved path loads through the typed loader and classifies
    lp = models.load_language_profiles(spark, cur["path"], collected=True)
    got = classify_language(
        spark.createDataFrame([(1, DOCS[0][1])], ["doc_id", "text"]), lp
    ).first()
    assert got["lang_id"] == "en"

    # registering a path with no complete artifact fails at register
    with pytest.raises(FileNotFoundError):
        models.register_model(wh, "langid", str(tmp_path / "nothing"))

    # history is an ordinary table: two rows for the name
    hist = wh.read(MODEL_REGISTRY).filter(F.col("model_name") == "langid")
    assert hist.count() == 2


def test_load_registered_dispatches_on_kind(spark, tmp_path):
    """load_registered resolves by name then dispatches to the typed
    loader for the row's kind — one call from registry to artifact."""
    from trainingdata_spark.textops.bpe import train_bpe
    from binancedatapipeline_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    corpus = spark.createDataFrame(
        [(1, "low lower lowest newer newest")], ["doc_id", "text"]
    )
    merges = train_bpe(corpus, num_merges=8)
    p = str(tmp_path / "bpe")
    models.save_bpe_merges(spark, merges, p)
    models.register_model(wh, "bpe", p)
    assert models.load_registered(wh, "bpe") == merges

    import numpy as np

    cents = np.eye(3, 8, dtype=np.float64)
    p2 = str(tmp_path / "ivf")
    models.save_ivf_centroids(spark, cents, p2)
    models.register_model(wh, "ivf", p2)
    assert np.array_equal(models.load_registered(wh, "ivf"), cents)

    # unknown kind fails loudly
    p3 = str(tmp_path / "exotic")
    models.save_model(spark.range(1), p3, kind="hologram")
    models.register_model(wh, "holo", p3)
    with pytest.raises(ValueError, match="hologram"):
        models.load_registered(wh, "holo")
